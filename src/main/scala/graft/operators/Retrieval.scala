package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.functions.BottomK.bottom_k

/** Text retrieval over the document corpus (E16): inverted-index
  * construction and BM25 ranking — the index-side complement of the
  * similarity/ANN family (what a corpus search or RAG pre-filter runs
  * on before any embedding model is involved).
  *
  * Scale shape: both ops are one tokenize scan plus hash aggregates.
  * The index's posting lists are built with the custom [[graft
  * .functions.BottomK]] aggregate — O(k) state per token, mergeable —
  * so a stopword's millions of matching docs cost the same bounded
  * state as a rare term's handful (an unbounded `collect_list` would
  * OOM exactly on the hottest tokens). BM25 filters the token stream
  * to the query's terms BEFORE any shuffle, so per-query cost is
  * O(matching postings), plus two small corpus-constant aggregates
  * (N, avgdl) that memoize naturally per dataset.
  */
object Retrieval {

  /** Harness query `inverted_index`: token → document frequency + the
    * first `maxPostings` doc ids (ascending — the classic posting-list
    * prefix), joined to one comma-separated string: the harness compare
    * sorts/hashes rows through a scalar-typed path, so a top-level
    * array column would be unorderable there. Top 50 tokens by df,
    * ties broken by token. */
  def invertedIndex(spark: SparkSession, dir: String,
      maxPostings: Int = 20, topTokens: Int = 50): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(T.tokens(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        // bottom_k sorts its string key lexicographically — zero-pad to
        // 19 digits (every non-negative long fits untruncated) so
        // lexicographic == numeric ascending; doc ids are non-negative
        // by the corpus contract (negative ids would sort by '-' first)
        bottom_k(struct(lpad(col("doc_id").cast("string"), 19, "0")
          .as("sort_key"), col("doc_id").as("id")), maxPostings).as("bk"))
      .select(col("token"), col("df"),
        concat_ws(",",
          transform(col("bk"), e => e.getField("id").cast("string")))
          .as("postings"))
      .orderBy(col("df").desc, col("token"))
      .limit(topTokens)

  /** Harness query `phrase_search`: exact adjacent-token phrase
    * matching ("hash join" as a phrase, not a bag) — the positional
    * semantics BM25 can't express. An occurrence of a 2-term phrase IS
    * a matching word 2-shingle, so the count rides
    * [[T.wordShingles]] — whose internal let-binding makes this O(L)
    * per doc (a first cut filtered an index `sequence` over a
    * `ts` column from the previous select: CollapseProject substituted
    * the tokenize back into EVERY element_at — the O(L²) HOF-recompute
    * trap, measured 6.9 s vs 0.50 s at sf0.1). A pure narrow map +
    * TakeOrderedAndProject: zero shuffles before the top-k. */
  def phraseSearch(spark: SparkSession, dir: String,
      first: String = "hash", second: String = "join",
      topK: Int = 20): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(filter(T.wordShingles(col("text"), 2),
          s => s === lit(s"$first $second"))).cast("long")
          .as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(topK)

  /** BM25 parameters (the standard Robertson defaults). */
  private val K1 = 1.2d
  private val B = 0.75d

  /** The per-(doc, term) BM25 contribution — ONE definition so the
    * round-8 discipline and the k1/b handling can never drift between
    * the scan, index-served, churn-served and batched paths (their
    * shared oracles rely on all of them being bit-identical). Expects
    * `n_docs`, `df`, `tf`, `dl`, `avgdl` in scope. */
  private def termScore: Column = round(
    log((col("n_docs") - col("df") + 0.5d) / (col("df") + 0.5d) + 1.0d) *
      (col("tf") * (K1 + 1.0d)) /
      (col("tf") + lit(K1) * (lit(1.0d - B) + lit(B) * col("dl") / col("avgdl"))), 8)

  /** Per-doc token-length table, memoized per dataset: the corpus
    * tokenize for lengths runs once ever; every BM25 variant and avgdl
    * read the memo. */
  def docLengths(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "doclen") {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
        .groupBy("doc_id").agg(count(lit(1)).as("dl"))
    }

  /** Corpus-constant stats (doc count), memoized: BM25's N. Kept
    * separate from [[docLengths]] so a corpus with token-less docs
    * still counts them in N (the full-scan twin counts `documents`
    * rows, not docs-with-tokens). */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "corpstats") {
      Tables.load(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    }

  /** FULL postings table — token → (doc_id, tf) — memoized per dataset:
    * the materialized index a production deployment serves BM25 from.
    * Unlike [[invertedIndex]]'s display prefix, this keeps every
    * posting; state per aggregate group is one counter (the groupBy is
    * partial-aggregating), and the memo parquet is laid out so a
    * per-query `token IN (…)` filter pushes into the scan — per-query
    * I/O is O(matching postings), zero corpus tokenizes. */
  def postingsTable(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "postings") {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    }

  /** POSITIONAL postings — token → (doc_id, sorted positions) —
    * memoized per dataset: the phrase-query index. Aggregate state per
    * (token, doc) group is that one document's occurrence list — bounded
    * by a single doc's length, never corpus-wide (the collect_list OOM
    * shape only appears when a group spans documents). */
  def positionalPostings(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "positional") {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          posexplode(T.tokens(col("text"))).as(Seq("pos", "token")))
        .groupBy("token", "doc_id")
        .agg(sort_array(collect_list(col("pos"))).as("positions"))
    }

  /** Harness query `bm25_search`: rank documents for a literal term
    * query with BM25 (k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)+1)).
    * Per-term scores round to 8 decimals before the per-doc sum so the
    * cross-engine hash holds (same discipline as unigram_logprob);
    * top 20 by (rounded score desc, doc_id).
    *
    * Cost shape: the per-doc length table is MEMOIZED per dataset
    * ([[docLengths]] — the corpus tokenize for lengths runs once ever,
    * and avgdl reads the memo) and the query tokenize filters to query
    * terms before its aggregate; the remaining per-query corpus work is
    * the one tf tokenize scan. This is kept as the full-scan ORACLE
    * TWIN of [[bm25FromIndex]], which serves the same ranking from the
    * materialized postings memo. */
  def bm25Search(spark: SparkSession, dir: String,
      query: Seq[String] = Seq("hash", "join", "scan"),
      topK: Int = 20): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // filter the token ARRAY before the explode (r18, guide §4/§2.3):
    // the old explode-then-isin materialized a Generate row for EVERY
    // token of every document and then dropped all but the query
    // terms' — the generator's output is corpus-token-sized. Filtering
    // inside the array (same membership test: isin over non-null
    // tokens ≡ array_contains) makes the Generate emit only matching
    // occurrences, so the scan stage streams O(matching terms) rows
    // into the aggregate instead of O(corpus tokens).
    // NOT scratch-materialized (r18): bm25Tail consumes tf twice (the
    // df aggregate and the scored join), so the filtered tokenize runs
    // twice per call — but with the in-array filter each pass is cheap,
    // and an A/B of a per-call scratch measured 0.67 -> 1.11 s (the
    // write job costs more than the duplicated pruned scan).
    // typed, not `array(lit…)`: an empty query list would build an
    // untyped `array()` that array_contains cannot compare to a string
    val qArr = typedlit(query)
    val tf = docs.select(col("doc_id"),
        explode(filter(T.tokens(col("text")),
          t => array_contains(qArr, t))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    bm25Rank(spark, dir, tf, topK)
  }

  /** Harness query `bm25_from_index`: identical BM25 ranking, but the
    * per-term tf comes from the MATERIALIZED [[postingsTable]] — the
    * production path. The only per-query corpus touch is a pruned scan
    * of the postings memo (`token IN (…)` pushes into parquet); the
    * tokenize ran once at index-build time. Results must equal
    * [[bm25Search]] (same oracle). */
  def bm25FromIndex(spark: SparkSession, dir: String,
      query: Seq[String] = Seq("hash", "join", "scan"),
      topK: Int = 20): DataFrame = {
    val tf = postingsTable(spark, dir).filter(col("token").isin(query: _*))
    bm25Rank(spark, dir, tf, topK)
  }

  /** Shared BM25 scoring tail: `tf` = (doc_id, token, tf) for the query
    * terms only, however it was obtained (public so external index
    * sources — e.g. the streaming loop's churn-index serve view — can
    * rank through the same kernel). dfreq/stats are tiny and
    * broadcast; the scored→doc-length join is left to AQE (a forced
    * broadcast of the scored side would be O(matching docs) — unbounded
    * for a common term at 100 TB). */
  /** One-row (n_docs, avgdl) BM25 stats, memoized per dataset (r17):
    * every ranking variant re-ran the doc-length average (its own
    * aggregate job + broadcast build) per query; the value is a
    * corpus constant exactly like N, so it memoizes with it. The
    * stored double is the same IEEE value the inline aggregate
    * produced — parquet round-trips it bit-exactly. */
  private def bm25Stats(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "bm25stats") {
      corpusStats(spark, dir)
        .crossJoin(docLengths(spark, dir).agg(avg(col("dl")).as("avgdl")))
    }

  def bm25Rank(spark: SparkSession, dir: String, tf: DataFrame,
      topK: Int): DataFrame =
    bm25Tail(tf, docLengths(spark, dir),
      broadcast(bm25Stats(spark, dir)), topK)

  /** The ONE single-query BM25 scoring tail both stat sources rank
    * through (df aggregate, broadcast joins, per-doc fold, round-6,
    * (score DESC, doc_id) top-k) — the round-8 "one definition so
    * handling can never drift" discipline applied to the scoring
    * itself: a tie-break or rounding tweak edited in one twin but not
    * the other would silently desynchronize oracle-equal paths.
    * `stats` arrives already broadcast. */
  private def bm25Tail(tf: DataFrame, dl: DataFrame, stats: DataFrame,
      topK: Int): DataFrame = {
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "token").crossJoin(stats)
    dl.join(scored, "doc_id")
      .groupBy("doc_id")
      // the round-8 terms are exact decimals, so the DECIMAL sum is
      // order-free and the 6dp round happens ON the exact decimal —
      // a raw double fold rounds differently per merge order when the
      // sum lands exactly on a 6dp tie (unicode-seed-2 gate finding:
      // doc with terms .40235430+.62653488+.49673632 = 1.5256255, a
      // perfect tie that doubles resolve to .625 or .626 by ORDER)
      .agg(count(lit(1)).as("n_terms"),
        sum(termScore.cast("decimal(38,8)")).as("s"))
      .select(col("doc_id"), col("n_terms"),
        round(col("s"), 6).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Harness query `bm25_index_maintained`: the same BM25 ranking
    * served from the BUCKETED postings CATALOG table after an increment
    * append ([[graft.sources.Bucketing.ensureMaintainedPostingsIndex]]:
    * corpus slice built once, the new-doc batch folded in by
    * bucket-preserving append). The query-term IN filter bucket-prunes
    * the scan — only the matching token buckets' files open — and the
    * result must equal [[bm25Search]] over the full corpus (same
    * oracle), which is exactly the append-correctness claim. */
  def bm25IndexMaintained(spark: SparkSession, dir: String,
      query: Seq[String] = Seq("hash", "join", "scan"),
      topK: Int = 20): DataFrame = {
    val table = graft.sources.Bucketing.ensureMaintainedPostingsIndex(spark, dir)
    bm25Rank(spark, dir,
      spark.table(table).filter(col("token").isin(query: _*)), topK)
  }

  /** Harness query `bm25_index_churn`: BM25 served from the
    * CHURN-capable index after a doc-batch DELETE and a bucket-local
    * compaction ([[graft.sources.Bucketing.ensureChurnedBm25Index]]:
    * full build at seq=0, tombstones for the `doc_id % 10 == 0` batch
    * at seq=1, compact). The tf, doc-length, N and avgdl inputs ALL
    * come from the churned tables' serve view, so the result must
    * hash-equal a fresh build over a corpus that never contained the
    * deleted docs — which is exactly the oracle, and exactly the claim
    * that deletes don't leave stale postings OR stale stats behind. */
  def bm25IndexChurn(spark: SparkSession, dir: String,
      query: Seq[String] = Seq("hash", "join", "scan"),
      topK: Int = 20): DataFrame = {
    val (pt, dt) = graft.sources.Bucketing.ensureChurnedBm25Index(spark, dir)
    val tf = graft.sources.IndexChurn.served(spark, pt, Seq("token", "doc_id"))
      .filter(col("token").isin(query: _*))
    val dl = graft.sources.IndexChurn.served(spark, dt, Seq("doc_id"))
    bm25RankWith(tf, dl, topK)
  }

  /** BM25 scoring tail over EXPLICIT tf and doc-length inputs (the
    * churn-serving variant of [[bm25Rank]]): `dlAll` carries one row
    * per live doc (dl=0 for token-less docs), so N = count(dlAll) and
    * avgdl = avg over dl>0 — the same N/avgdl semantics as the
    * full-scan twin's separate aggregates, derived from the index
    * alone. Public: any churn-schema index pair's serve views — the
    * batch-churned catalog tables or the streaming churn loop's — rank
    * through this one kernel. */
  def bm25RankWith(tf: DataFrame, dlAll: DataFrame,
      topK: Int): DataFrame = {
    val stats = broadcast(dlAll.agg(count(lit(1)).as("n_docs"),
      avg(when(col("dl") > 0, col("dl"))).as("avgdl")))
    bm25Tail(tf, dlAll.filter(col("dl") > 0), stats, topK)
  }

  /** Harness query `bm25_salted`: BM25 served from the HOT-TOKEN-SALTED
    * postings catalog ([[graft.sources.Bucketing
    * .ensureSaltedPostingsIndex]]) — the stopword-skew-proof serving
    * shape: a token above the hot threshold has its postings sharded
    * over `salts` bucket keys, so no single bucket ever holds a whole
    * stopword list; the query expands hot tokens to all their shard
    * keys (union at read) and must rank identically to the full-scan
    * twin (same oracle as [[bm25Search]]). */
  def bm25Salted(spark: SparkSession, dir: String,
      query: Seq[String] = Seq("hash", "join", "scan"),
      topK: Int = 20): DataFrame = {
    val table = graft.sources.Bucketing.ensureSaltedPostingsIndex(spark, dir)
    bm25Rank(spark, dir,
      graft.sources.Bucketing.saltedPostings(spark, table, query), topK)
  }

  /** Harness query `bm25_salted_churn`: BM25 served from the
    * churn-capable SALTED index
    * ([[graft.sources.Bucketing.ensureChurnedSaltedIndex]] — hot-token
    * shard keys AND tombstone deletes composed) after the doc-batch
    * delete + compaction lifecycle. Doc-length/N/avgdl come from the
    * churned doc-length table (shared with [[bm25IndexChurn]]), so
    * stats forget the deleted docs too; the result must hash-equal a
    * fresh build over a corpus that never contained them — the same
    * oracle as `bm25_index_churn`, proving deletes flow correctly
    * through salt sharding. */
  def bm25SaltedChurn(spark: SparkSession, dir: String,
      query: Seq[String] = Seq("hash", "join", "scan"),
      topK: Int = 20): DataFrame = {
    val pt = graft.sources.Bucketing.ensureChurnedSaltedIndex(spark, dir)
    // doc lengths only: tf comes from the salted index above, so the
    // full unsalted churned-postings build would be paid and discarded
    val dt = graft.sources.Bucketing.ensureChurnedDocLengths(spark, dir)
    val tf = graft.sources.IndexChurn.servedFrom(
        graft.sources.Bucketing.saltedFilter(spark, pt, query),
        Seq("token", "doc_id"))
      .select("token", "doc_id", "tf")
    val dl = graft.sources.IndexChurn.served(spark, dt, Seq("doc_id"))
    bm25RankWith(tf, dl, topK)
  }

  /** Harness query `phrase_salted`: the 2-term phrase served from the
    * HOT-TOKEN-SALTED positional index — the shard-expanded IN filter
    * prunes the scan to the query terms' (possibly salted) keys, then
    * the standard shifted-intersection kernel runs over the reduced
    * frame. Must equal the full-scan phrase twin (same oracle). */
  def phraseSalted(spark: SparkSession, dir: String,
      first: String = "hash", second: String = "join",
      topK: Int = 20): DataFrame = {
    val table = graft.sources.Bucketing.ensureSaltedPositionalIndex(spark, dir)
    phraseOver(
      graft.sources.Bucketing.saltedFilter(spark, table, Seq(first, second))
        .select("token", "doc_id", "positions"),
      Seq(first, second), topK)
  }

  /** Harness query `phrase_index_churn`: the 2-term phrase served from
    * the CHURN-capable positional index after the doc-batch delete +
    * compaction lifecycle
    * ([[graft.sources.Bucketing.ensureChurnedPositionalIndex]]) —
    * hash-equal to a fresh build over the remaining docs. */
  def phraseIndexChurn(spark: SparkSession, dir: String,
      first: String = "hash", second: String = "join",
      topK: Int = 20): DataFrame = {
    val table = graft.sources.Bucketing.ensureChurnedPositionalIndex(spark, dir)
    phraseOver(graft.sources.IndexChurn.served(spark, table,
      Seq("token", "doc_id")), Seq(first, second), topK)
  }

  /** The harness's standing query batch for [[bm25Batch]]. */
  val QueryBatch: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join", "scan"),
    2L -> Seq("sort", "merge"),
    3L -> Seq("stream", "window", "state", "key"))

  /** BM25 IMPACT postings — token → (doc_id, w), memoized per dataset:
    * `w` is [[termScore]] evaluated once at index-build time over the
    * postings ⋈ per-token df ⋈ (N, avgdl) ⋈ doc lengths. Every input is
    * a corpus constant, so a term's per-document contribution is index
    * state exactly like the postings it is derived from (the impact
    * form of an inverted index); a serve scans it with the pushed
    * `token IN (…)` filter and folds — no per-call df aggregate, stats
    * or doc-length join. The stored double is the round-8 value the
    * inline expression produced, so folds over it are bit-identical to
    * [[bm25Tail]]'s. */
  def bm25Impacts(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "bm25impacts") {
      val post = postingsTable(spark, dir)
      post.join(post.groupBy("token").agg(count(lit(1)).as("df")), "token")
        .crossJoin(broadcast(bm25Stats(spark, dir)))
        .join(docLengths(spark, dir), "doc_id")
        .select(col("token"), col("doc_id"), termScore.as("w"))
    }

  /** Harness query `bm25_batch`: a BATCH of term queries ranked in ONE
    * plan — the production serving shape when queries arrive in bulk:
    * the [[bm25Impacts]] memo is probed ONCE for the union of all terms
    * (one pushed-down IN filter), each matching impact fans out to the
    * queries holding its term through a literal token → query-ids map
    * (a narrow map, no join), the per-(query, doc) fold is a hash
    * aggregate, and the per-query top-k is a query-partitioned window
    * (never a global sort). The output sort is bounded by the exact row
    * count |queries|·topK, so it plans as a TakeOrderedAndProject
    * inside the result job. Per-batch cost is O(matching impacts for
    * the term union) in three jobs — the scan's shuffle, the fold's
    * shuffle and the result. */
  def bm25Batch(spark: SparkSession, dir: String,
      batch: Seq[(Long, Seq[String])] = QueryBatch,
      topK: Int = 20): DataFrame = {
    // dedup (query_id, term): bm25Search's `isin` dedups repeated
    // query terms implicitly, and a duplicated pair here would fold
    // every matching impact twice — doubling n_terms and the score
    // sum, silently breaking the identical-ranking contract
    val termQueries: Map[String, Seq[Long]] = batch
      .flatMap { case (qid, ts) => ts.map(_ -> qid) }
      .distinct
      .groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).sorted }
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    val ranked = bm25Impacts(spark, dir)
      .filter(col("token").isin(termQueries.keys.toSeq.sorted: _*))
      .select(explode(element_at(typedlit(termQueries), col("token")))
          .as("query_id"), col("doc_id"), col("w"))
      .groupBy("query_id", "doc_id")
      // decimal fold + decimal round: bm25Tail's tie discipline
      .agg(count(lit(1)).as("n_terms"),
        sum(col("w").cast("decimal(38,8)")).as("s"))
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        round(col("s"), 6).cast("double").as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select("query_id", "rk", "doc_id", "n_terms", "score")
    Similarity.ranked(ranked, "query_id",
      batch.map(_._1).distinct.size.toLong * topK)
  }

  /** Harness query `phrase_from_index`: the same adjacent-token phrase
    * count as [[phraseSearch]], served from the [[positionalPostings]]
    * memo: each term's postings are fetched by a pushed-down token
    * filter, and an occurrence of "a b" at positions (i, i+1) is exactly
    * a member of intersect(p_a + 1, p_b) — positions within a doc are
    * distinct, so the intersection size IS the occurrence count. The
    * per-query plan never touches `documents`. */
  def phraseFromIndex(spark: SparkSession, dir: String,
      first: String = "hash", second: String = "join",
      topK: Int = 20): DataFrame =
    phraseFromIndexN(spark, dir, Seq(first, second), topK)

  /** General n-term phrase from the positional index: term i's
    * positions shift by (n-1-i) so a phrase occurrence ending at
    * position e is a member of EVERY shifted list — the running
    * `array_intersect` narrows left to right, so the rarest-term list
    * bounds the work. Joins chain on doc_id (inner: every term must
    * appear), each side a pushed-down single-token fetch from the memo.
    * `phrase3_from_index` runs this for a 3-term phrase; the oracle
    * twin counts matching word 3-shingles. */
  def phraseFromIndexN(spark: SparkSession, dir: String,
      terms: Seq[String], topK: Int = 20): DataFrame =
    phraseOver(positionalPostings(spark, dir), terms, topK)

  /** Harness query `phrase_index_maintained`: the 2-term phrase served
    * from the BUCKETED positional CATALOG table grown by increment
    * append ([[graft.sources.Bucketing.ensureMaintainedPositionalIndex]]).
    * Hash-equality with the full-corpus phrase oracle is the
    * append-correctness proof, mirroring [[bm25IndexMaintained]]. */
  def phraseIndexMaintained(spark: SparkSession, dir: String,
      first: String = "hash", second: String = "join",
      topK: Int = 20): DataFrame = {
    val table =
      graft.sources.Bucketing.ensureMaintainedPositionalIndex(spark, dir)
    phraseOver(spark.table(table), Seq(first, second), topK)
  }

  /** The n-term phrase kernel over ANY (token, doc_id, positions)
    * source: term i's positions shift by (n-1-i) so a phrase occurrence
    * ending at position e is a member of EVERY shifted list — the
    * running `array_intersect` narrows left to right, so the
    * rarest-term list bounds the work. Joins chain on doc_id (inner:
    * every term must appear), each side a pushed-down single-token
    * fetch. */
  private def phraseOver(p: DataFrame, terms: Seq[String],
      topK: Int): DataFrame = {
    require(terms.nonEmpty, "phrase needs at least one term")
    def listOf(t: String, i: Int): DataFrame =
      p.filter(col("token") === t)
        .select(col("doc_id"), col("positions").as(s"p$i"))
    val n = terms.size
    val joined = terms.zipWithIndex.map { case (t, i) => listOf(t, i) }
      .reduce(_.join(_, "doc_id"))
    // positions within a doc are distinct, so the intersection size is
    // the occurrence count
    val shifted = (0 until n).map(i =>
      transform(col(s"p$i"), x => x + lit(n - 1 - i)))
    joined
      .select(col("doc_id"),
        size(shifted.reduce(array_intersect)).cast("long")
          .as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(topK)
  }

  /** Harness query `hybrid_search`: lexical+semantic retrieval fused by
    * reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009,
    * "Reciprocal rank fusion outperforms Condorcet and individual rank
    * learning methods") — the RAG serving shape that tops off the
    * retrieval family. Each query in [[QueryBatch]] runs BOTH serving
    * paths: BM25 over the materialized impact memo ([[bm25Batch]] —
    * one pushed IN probe for the whole batch) and cosine top-k over the
    * persisted IVF assignment
    * ([[graft.operators.Similarity.probedTopKForIds]] — the query id
    * doubles as the query vector's id, the harness stand-in for an
    * encoder); a doc's fused score is Σ 1/(rrfC + rank) over the sides
    * that returned it. Fusion touches only the two candidate pools
    * (2·poolK rows per query — aggregate-sized however big the corpus),
    * so the whole query costs what its two index probes cost: at
    * 100 TB both sides remain O(matching postings) / O(probed lists),
    * and the fusion groupBy never sees corpus-sized data; the output
    * sort is bounded by the exact row count |QueryBatch|·k. Ranks fuse at
    * most TWO addends per (query, doc), so the double sum is
    * order-independent (IEEE addition is commutative; associativity
    * never enters), making the score hash-stable across engines. */
  def hybridSearch(spark: SparkSession, dir: String, k: Int = 10,
      poolK: Int = 20, rrfC: Int = 60, nprobe: Int = 8,
      iters: Int = 2): DataFrame = {
    val lex = bm25Batch(spark, dir, QueryBatch, poolK)
      .select(col("query_id"), col("doc_id"), col("rk"))
    val sem = Similarity
      .probedTopKForIds(spark, dir, QueryBatch.map(_._1), poolK, nprobe, iters)
      .select(col("q_id").as("query_id"), col("vec_id").as("doc_id"),
        col("rk"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    // ONE fusion exchange (r18, guide §2.4): the union's children are
    // each query-partitioned by their own top-k windows, but Union
    // reports UnknownPartitioning, so the fusion paid an exchange for
    // the groupBy AND another for the rank window. Clustering by
    // query_id once satisfies both — HashPartitioning(query_id) ⊆
    // (query_id, doc_id) covers the groupBy, and the window partitions
    // by query_id exactly. The repartitioned frame is the two candidate
    // pools (2·poolK rows per query — aggregate-sized at any corpus).
    val fused = lex.unionByName(sem)
      .repartition(col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(lit(1.0) / (lit(rrfC) + col("rk"))).as("rrf"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"))
    Similarity.ranked(fused, "query_id",
      QueryBatch.map(_._1).distinct.size.toLong * k)
  }
}
