package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{TextFunctions => T, Vectors => V}

/** Deduplication operators for the training-data pipeline (SURVEY.md
  * §2.9 E1/E2): exact, content-hash, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every near-dup path is candidate-generation (O(n) via
  * LSH banding / bit-banding — a groupable key, one shuffle) followed by
  * exact verification only within candidate pairs. No all-pairs joins
  * anywhere; bucket skew is observable via [[minhashBuckets]] and
  * salt-able at the band key.
  *
  * Physical shape: signatures (MinHash mins, SimHash bit votes,
  * hyperplane projections) are computed as ONE explode + ONE codegen'd
  * hash aggregate with N parallel aggregate expressions — not nested
  * higher-order functions. HOFs are interpreted and get re-evaluated per
  * generator output row (measured 393 s vs 0.3 s at sf0.001 for the same
  * signature); the aggregate form is whole-stage-codegen'd and
  * materializes each signature exactly once at the shuffle boundary.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** E1a: exact dedup on a business key — keep the first row per
    * (user_id, event_type) by event time; `row_number` + filter, the
    * deterministic form of dropDuplicates. */
  def exactByKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    // timed source: "keep the EARLIEST" is undefined for a timeless row
    Tables.loadTimedEvents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts")
      .orderBy("user_id", "event_type")
  }

  /** E1b: full-content hash dedup — sha256 over a length-prefixed
    * canonicalization (`len:value|len:value|…`): separator-proof (a '|'
    * inside a value can't collide with the delimiter) and null-TYPED —
    * a null field contributes an explicit `n|` marker. A bare
    * null-propagating concat would hash every row with ANY null field
    * to a null digest, and groupBy then merges all of them into ONE
    * "duplicate" group (doc "alpha"/null-lang and doc "beta"/null-lang
    * falsely deduped together, the non-keeper dropped); the marker
    * keeps null a value, distinct from every real string (no real
    * field encodes as `n|` — lengths are digits). One shuffle on the
    * digest; keep min id per group. */
  def exactByContentHash(spark: SparkSession, dir: String): DataFrame = {
    val canon = concat(Seq(col("text"), col("lang"), col("source")).map(c =>
      when(c.isNull, lit("n|"))
        .otherwise(concat(length(c).cast("string"), lit(":"), c, lit("|")))): _*)
    Tables.load(spark, dir, "documents")
      .withColumn("content_sha", sha2(canon, 256))
      .groupBy("content_sha").agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"))
      .orderBy("keep_doc_id")
  }

  // -------------------------------------------------------------- minhash

  val MinhashPerms = 64
  val MinhashBands = 16 // 16 bands × 4 rows
  private val BandRows = MinhashPerms / MinhashBands
  private val P = 2147483647L // 2^31 - 1, prime

  /** Cross-engine 60-bit base hash: the first 15 hex chars of md5 as an
    * integer. Chosen over xxhash64 because every engine in the stack
    * (and the DuckDB oracle) computes the identical value —
    * `('0x' || substr(md5(s), 1, 15))::BIGINT` on the oracle side. 15 hex
    * chars = 60 bits, safely inside BIGINT on both engines. Computed by
    * the native [[graft.functions.Hash60]] expression (digest bytes →
    * long, no hex-string round trip; Hash60Spec pins equality with the
    * composed `conv(substring(md5))` form). */
  def hash60(c: Column): Column = graft.functions.Hash60.hash60(c)

  /** Universal-hash permutation family over a 31-bit base hash:
    * h_i(x) = (a_i·x + b_i) mod P. a·x ≤ 2^62 — no ANSI overflow. */
  private def permApply(i: Int, h: Column): Column = {
    val a = permA(i)
    val b = permB(i)
    pmod(h * lit(a) + lit(b), lit(P))
  }

  /** Permutation constants, exposed for the oracle-SQL generator. */
  def permA(i: Int): Long = ((i.toLong * 2654435761L) % (P - 1)) + 1
  def permB(i: Int): Long = (i.toLong * 1013904223L) % P

  /** Signature table (doc_id, m0..m63): explode shingles once, hash each
    * once, then 64 min-aggregates in a single codegen'd hash aggregate.
    * Docs with < 3 tokens have no shingles and drop out (no signature —
    * nothing to near-dup against). Materialized once per (session, dir)
    * via [[Memo]] — the signature aggregate feeds signatures, buckets
    * AND both sides of the pair self-join, so it is computed exactly
    * once per dataset, not once per consumer. */
  def minhashSigTable(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "minhash_sig") {
      val sh = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(T.wordShingles(col("text"), 3)).as("s"))
        .withColumn("h", pmod(hash60(col("s")), lit(P)))
      val mins = (0 until MinhashPerms).map(i => min(permApply(i, col("h"))).as(s"m$i"))
      sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    }

  /** (doc_id, band_id, band_key): band the 64 mins into 16 keys. The key
    * is the ':'-joined min tuple (cross-engine deterministic, unlike
    * Murmur3); at cluster scale re-hash it to a long right before the
    * shuffle (`xxhash64(band_key)`) to cut shuffle width — the grouping
    * is identical because the concat is injective on the tuple. */
  def minhashBandTable(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSigTable(spark, dir)
    val bands = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws(":", (0 until BandRows).map(r => col(s"m${b * BandRows + r}")): _*)
          .as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_id").as("band_id"),
        col("bk.band_key").as("band_key"))
  }

  /** E2 per-doc signature sample (deterministic face of the MinHash
    * path for the harness; full table via [[minhashSigTable]]). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSigTable(spark, dir)
      .select(col("doc_id"), col("m0").as("sig0"), col("m1").as("sig1"),
        col("m62").as("sig62"), col("m63").as("sig63"))
      .orderBy("doc_id")

  /** LSH bucket occupancy — the skew observable (large buckets are the
    * thing to salt at 100 TB). */
  def minhashBuckets(spark: SparkSession, dir: String): DataFrame =
    minhashBandTable(spark, dir)
      .groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > 1)
      .orderBy("band_id", "band_key")

  /** E2: MinHash/LSH near-dup pairs, exact-Jaccard-verified.
    *
    * band self-join (shuffle on (band_id, band_key)) → distinct
    * candidate pairs → join back shingle sets → exact Jaccard ≥
    * `threshold`. Cost: O(n·bands) + Σ bucket².
    *
    * Memoized per (session, dir, params): the pair table is consumed by
    * [[Components.dedupClusters]], [[Components.dedupKeepBest]] and
    * [[Sampling.contamination]] — materializing it once turns those from
    * full pipeline re-runs into joins over a tiny table. Both self-join
    * sides read the memoized signature parquet, so no persist is needed
    * for cross-branch reuse either. */
  /** Skew-capped band table, memoized per (session, dir, maxBucket) —
    * the persistent corpus LSH index. Degenerate mega-buckets
    * (boilerplate clusters) are dropped up front: they would contribute
    * O(bucket²) candidate pairs; the dropped-key set is tiny, so a
    * broadcast anti-join prunes them without a shuffle. Materialized
    * because THREE consumers ride it — the pair self-join (both sides),
    * [[incrementalPairs]] (per increment!) and the streaming ingest
    * screen — and the cap aggregation itself is O(corpus), which an
    * increment must not re-pay. */
  def minhashCappedBands(spark: SparkSession, dir: String,
      maxBucket: Int = 200): DataFrame =
    Memo.table(spark, dir, s"minhash_bands_capped_$maxBucket") {
      val allBanded = minhashBandTable(spark, dir)
      val big = allBanded.groupBy("band_id", "band_key")
        .agg(count(lit(1)).as("bs")).filter(col("bs") > maxBucket)
        .select("band_id", "band_key")
      allBanded.join(broadcast(big), Seq("band_id", "band_key"), "left_anti")
    }

  /** Banding saturation for the MinHash LSH band index — the text twin
    * of the Hamming-chunk guard [[bandingSaturation]]: per band, the
    * distinct band-key count and the doc mass the skew cap silently
    * removes before pairing. A boilerplate-saturated corpus (every
    * page sharing header/footer shingles) caps band buckets exactly
    * the way low-entropy audio envelopes did — candidate recall decays
    * with nothing saying why; `drop_frac` per band is the alarm and
    * the capacity signal (raise `maxBucket`, lengthen shingles, or
    * collapse exact dups first). Deliberately reads the UNCAPPED
    * memoized band table: the stat must see what the cap removes. */
  def minhashBandSaturation(spark: SparkSession, dir: String,
      maxBucket: Int = 200): DataFrame =
    minhashBandTable(spark, dir)
      .groupBy("band_id", "band_key").agg(count(lit(1)).as("bs"))
      .groupBy("band_id")
      .agg(sum(col("bs")).as("n_docs"),
        count(lit(1)).as("n_keys"),
        sum(when(col("bs") > maxBucket, 1L).otherwise(0L)).as("n_capped"),
        sum(when(col("bs") > maxBucket, col("bs")).otherwise(0L))
          .as("n_dropped"))
      .select(col("band_id").cast("long").as("band_id"), col("n_docs"),
        col("n_keys"), col("n_capped"), col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n_docs"), 6)
          .as("drop_frac"))
      .orderBy("band_id")

  def minhashPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxBucket: Int = 200): DataFrame =
    Memo.table(spark, dir, s"minhash_pairs_${threshold}_$maxBucket") {
      val banded = minhashCappedBands(spark, dir, maxBucket)
      val pairs = banded.as("a")
        .join(banded.as("b"), Seq("band_id", "band_key"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"))
        .distinct()
      // the ONE candidate-pruned exact-Jaccard verify (shared with the
      // incremental paths): only docs appearing in a candidate pair are
      // re-read and re-shingled — the previous inline verify tokenized
      // the WHOLE corpus on both join sides, ~2 full tokenize passes of
      // waste on a mostly-unique corpus, with a second copy of the
      // jaccard expression to keep in sync
      val docs = Tables.load(spark, dir, "documents")
      verifyCandidatesFrom(pairs, docs, docs, threshold)
        .select(col("new_id").as("doc_a"), col("corpus_id").as("doc_b"),
          col("jaccard"))
    }.orderBy("doc_a", "doc_b")

  /** The full LSH pair pipeline over an EXPLICIT (doc_id, text) frame —
    * the [[minhashPairs]] semantics (per-row bands → skew-capped
    * buckets → band self-join → candidate-pruned exact-Jaccard verify)
    * without the documents-table binding, so compositions can near-dup
    * arbitrary derived text (the curation pipeline runs it over
    * EXTRACTED main content). NOT memoized — callers that reuse the
    * pair set materialize it themselves (the curation cluster map
    * does). The bands and the candidate set are scratch-materialized:
    * bands feed the cap aggregate AND both self-join sides, candidates
    * feed the verify's id-prune collect AND the verify join — uncached,
    * each would re-run the shingle pipeline per consumer. */
  private[graft] def minhashPairsFrom(docs: DataFrame,
      threshold: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    val bands = Memo.scratch(spark, "pairs_from_bands") {
      minhashBandsPerRow(docs)
    }
    val big = bands.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("bs")).filter(col("bs") > maxBucket)
      .select("band_id", "band_key")
    val capped = bands
      .join(broadcast(big), Seq("band_id", "band_key"), "left_anti")
    val cand = Memo.scratch(spark, "pairs_from_cand") {
      capped.as("a")
        .join(capped.as("b"), Seq("band_id", "band_key"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("new_id"),
          col("b.doc_id").as("corpus_id"))
        .distinct()
    }
    verifyCandidatesFrom(cand, docs, docs, threshold)
      .select(col("new_id").as("doc_a"), col("corpus_id").as("doc_b"),
        col("jaccard"))
  }

  /** Per-ROW band computation — the stream-safe twin of
    * [[minhashBandTable]]: the 64 min-hashes are higher-order-function
    * minima over the row's own shingle array (`array_min(transform(…))`)
    * instead of an explode + groupBy aggregate, so the whole signature
    * is a pure narrow map with no shuffle and no streaming state. Same
    * values as the batch path (min over the same hashed shingle set;
    * docs with < 3 tokens have no shingles and drop out identically) —
    * DedupSpec pins the equivalence via the streaming candidates ⊇
    * verified-pairs check. Batch keeps the explode+groupBy form because
    * the aggregate shares work with the memoized signature table; this
    * form exists for ingest-time use where each row must be scored
    * on arrival. */
  def minhashBandsPerRow(docs: DataFrame): DataFrame = {
    val hs = transform(T.wordShingles(col("text"), 3),
      s => pmod(hash60(s), lit(P)))
    val bandKeys = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws(":", (0 until BandRows).map { r =>
          val i = b * BandRows + r
          array_min(transform(col("hs"), h => permApply(i, h)))
        }: _*).as("band_key"))
    }
    docs.withColumn("hs", hs)
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_id").as("band_id"),
        col("bk.band_key").as("band_key"))
  }

  /** Incremental near-dup — dedup a NEW batch of documents against the
    * existing corpus WITHOUT re-running LSH over the corpus. This is
    * the dedup cadence that actually runs at 100 TB: signatures are
    * computed once per document EVER (on ingest — here, the memoized
    * [[minhashSigTable]] is that persistent corpus index), and each
    * increment pays O(new·bands) band probes + O(candidates) exact
    * verifies — never O(corpus). The band join is one-sided (new
    * probes corpus), so candidate count scales with the increment, and
    * the same mega-bucket skew cap as [[minhashPairs]] bounds any
    * boilerplate bucket the new batch lands in.
    *
    * The harness splits the documents table deterministically
    * (doc_id % 10 == 0 is the "new crawl"); production swaps the
    * predicate for a batch-id column and appends the verified new
    * docs' bands back into the corpus index afterwards
    * ([[graft.sources.Bucketing.append]] — no rebuild). */
  def incrementalPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    // the capped band table is a memoized parquet — the increment pays
    // a scan of it (with the new/corpus predicates pushed down), never
    // the shingle/signature/cap pipeline that built it
    val bf = minhashCappedBands(spark, dir, maxBucket)
    val newBands = bf.filter(col("doc_id") % 10 === 0)
    val corpusBands = bf.filter(col("doc_id") % 10 =!= 0)
    // candidates materialize to a per-call scratch parquet: the set is
    // consumed twice (the verify stage's id-prune collect + the verify
    // join) and an increment must not pay the band probe twice WITHIN
    // one run — but it must pay it once per run (r18, reverting the
    // r17 dataset-keyed memo): an incremental query's increment is new
    // data at every real invocation, so caching its candidate set
    // across calls measures a warm path no production increment has
    val cand = Memo.scratch(spark, s"incr_cand_$maxBucket") {
      newBands.as("a")
        .join(corpusBands.as("b"), Seq("band_id", "band_key"))
        .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"))
        .distinct()
    }
    verifyCandidates(spark, dir, cand, threshold)
      .orderBy("new_id", "corpus_id")
  }

  /** Above this many distinct candidate doc ids, the verify stage stops
    * inlining them as a literal IN filter (plan bloat) and switches to
    * a broadcast semi-join — still candidate-only tokenization, just
    * runtime pruning instead of static parquet pushdown. */
  private val VerifyIsinMaxIds = 10000

  /** Exact-Jaccard verify over a candidate pair table — O(candidates),
    * never O(corpus): only candidate documents are re-read and
    * re-shingled. The distinct candidate id set is bounded by
    * new·bands·maxBucket (candidates come off the capped band index),
    * i.e. O(increment), so collecting it driver-side is safe; small
    * sets push into the documents parquet scan as an IN filter
    * (row-group pruning — PlanSpec asserts the scan carries the doc_id
    * pushdown), larger ones fall back to a broadcast semi-join placed
    * BEFORE the tokenize, so non-candidate docs are never shingled on
    * either path. */
  private def verifyCandidates(spark: SparkSession, dir: String,
      cand: DataFrame, threshold: Double): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    verifyCandidatesFrom(cand, docs, docs, threshold)
  }

  /** The two-sided form of the candidate-pruned verify, with an
    * explicit doc source per side — the streaming ingest loop passes
    * the in-flight BATCH as the new side (its text never needs a store
    * read at all) and a fresh corpus-store scan as the corpus side.
    * Each side's source is pruned to that side's candidate ids before
    * any tokenize. */
  private[graft] def verifyCandidatesFrom(cand: DataFrame,
      newDocs: DataFrame, corpusDocs: DataFrame,
      threshold: Double): DataFrame = {
    // ONE tagged collect for both sides' distinct candidate ids (r18):
    // the two per-side `ids.limit(N+1).collect()` calls were two
    // driver JOBS over the same scratch-backed candidate table —
    // ~100 ms of serialized job latency each on every incremental
    // serve. The guard semantics are unchanged: a side whose complete
    // id set came back within its cap gets the literal IN pushdown,
    // anything else (including a truncated combined collect, where the
    // per-side sets may be incomplete) takes the broadcast semi-join —
    // the two prune paths are row-identical, so the switch only ever
    // changes the plan, never the result.
    val capBoth = 2 * (VerifyIsinMaxIds + 1)
    val tagged = cand.select(explode(array(
        struct(lit("n").as("s"), col("new_id").as("id")),
        struct(lit("c").as("s"), col("corpus_id").as("id")))).as("e"))
      .select(col("e.s").as("s"), col("e.id").as("id"))
      .distinct()
      .limit(capBoth).collect()
    val complete = tagged.length < capBoth
    def pruned(docs: DataFrame, idCol: String, tag: String): DataFrame = {
      val lst = tagged.filter(_.getString(0) == tag).map(_.getLong(1))
      if (complete && lst.length <= VerifyIsinMaxIds)
        docs.filter(col("doc_id").isin(lst: _*))
      else docs.join(broadcast(
          cand.select(col(idCol).as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    }
    val shN = pruned(newDocs, "new_id", "n")
      .select(col("doc_id").as("new_id"), T.wordShingles(col("text"), 3).as("sh_n"))
    val shC = pruned(corpusDocs, "corpus_id", "c")
      .select(col("doc_id").as("corpus_id"), T.wordShingles(col("text"), 3).as("sh_c"))
    cand.join(shN, "new_id").join(shC, "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_c"))))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
  }

  /** [[incrementalPairs]] through the BUCKETED corpus band index — the
    * production increment shape end-to-end: the corpus side of the
    * candidate probe is a catalog table clustered on (band_id,
    * band_key) at write time ([[graft.sources.Bucketing]]), so the
    * probe join moves only the new batch's bands (BucketingSpec asserts
    * ≤ 1 exchange); the verify stage is the same candidate-pruned
    * O(candidates) pass as the plain path. The index build is
    * once-per-dataset (table-exists check, memo semantics) — an
    * increment never pays it. */
  def incrementalPairsBucketed(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    import graft.sources.Bucketing
    val table = Bucketing.ensureCorpusBandIndex(spark, dir, maxBucket)
    val newBands = minhashCappedBands(spark, dir, maxBucket)
      .filter(col("doc_id") % 10 === 0)
    // per-call scratch, not a dataset-keyed memo — same argument as
    // incrementalPairs: the increment pays its band probe every run
    val cand = Memo.scratch(spark, s"incr_cand_bkt_$maxBucket") {
      Bucketing.incrementalProbeColocated(spark, newBands, table)
        .withColumnRenamed("doc_id", "new_id")
        .distinct()
    }
    verifyCandidates(spark, dir, cand, threshold)
      .orderBy("new_id", "corpus_id")
  }

  /** Harness query `dedup_index_churn`: the incremental probe served
    * from the CHURN-capable corpus band index
    * ([[graft.sources.Bucketing.ensureChurnedBandIndex]] — full band
    * table built, the `doc_id % 10 == 0` batch deleted via tombstones,
    * bucket-local compaction). Candidates come from the index's serve
    * view, so a deleted doc can never surface as a near-dup candidate
    * again; the result must hash-equal
    * [[incrementalPairsBucketed]]'s append-built corpus probe (same
    * oracle), which IS the delete-through proof. */
  def incrementalPairsChurned(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    import graft.sources.{Bucketing, IndexChurn}
    val table = Bucketing.ensureChurnedBandIndex(spark, dir, maxBucket)
    val corpus = IndexChurn.served(spark, table,
      Seq("band_id", "band_key", "doc_id"))
    val newBands = minhashCappedBands(spark, dir, maxBucket)
      .filter(col("doc_id") % 10 === 0)
    // per-call scratch, not a dataset-keyed memo — same argument as
    // incrementalPairs: the increment pays its band probe every run
    val cand = Memo.scratch(spark, s"incr_cand_chn_$maxBucket") {
      newBands.hint("merge")
        .join(corpus.withColumnRenamed("doc_id", "corpus_id"),
          Seq("band_id", "band_key"))
        .select(col("doc_id").as("new_id"), col("corpus_id"))
        .distinct()
    }
    verifyCandidates(spark, dir, cand, threshold)
      .orderBy("new_id", "corpus_id")
  }

  // -------------------------------------------------------------- simhash

  /** SimHash width: 60 bits — the full width of [[hash60]] (the md5
    * prefix), so the oracle reproduces every bit. */
  val SimhashBits = 60
  private val ChunkBits = SimhashBits / 4 // pigeonhole: 4 chunks of 15

  /** Unordered (doc_id, simhash) table, materialized once per
    * (session, dir) — feeds the `simhash` query and both sides of the
    * [[simhashPairs]] chunk self-join. */
  private def simhashTable(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "simhash") {
      val toks = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
        .withColumn("h", hash60(col("tok")))
      val votes = (0 until SimhashBits).map { i =>
        sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1))
          .as(s"b$i")
      }
      val packed = (0 until SimhashBits).map { i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), packed.as("simhash"))
    }

  /** E2b: 60-bit SimHash per document. Tokens explode once; each bit is
    * a signed vote summed in a single hash aggregate (60 conditional
    * sums, codegen'd); bits pack back into one long. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashTable(spark, dir).orderBy("doc_id")

  /** Near-dup pairs by SimHash: band the 60 bits into 4×15-bit chunks
    * (pigeonhole: hamming ≤ 3 ⇒ some chunk equal), join per chunk,
    * verify exact hamming distance via bit_count(xor). */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3, maxBucket: Int = 200): DataFrame =
    // both self-join sides read the memoized signature parquet — the
    // 60-vote aggregate runs once per dataset, not once per branch
    bandedHammingPairs(simhashTable(spark, dir), "doc_id", "simhash",
      maxHamming, maxBucket)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming"))
      .orderBy("doc_a", "doc_b")

  /** The chunk-banding Hamming join, factored so any 60-bit fingerprint
    * column rides it (SimHash text near-dup here; perceptual image
    * hashes in [[Multimodal.imageNearDup]]). `sigs` must carry (`idCol`,
    * `sigCol`); returns (id_a, id_b, hamming) with id_a < id_b and
    * hamming ≤ `maxHamming`, unordered. Pigeonhole recall: 4 chunks of
    * 15 bits find every pair at hamming ≤ 3 exactly; the skew cap drops
    * over-full chunk buckets (same O(bucket²) containment rationale as
    * minhashPairs — documented RECALL loss: true pairs inside a
    * dropped bucket are missed, [[bandingSaturation]] makes the drop
    * visible; bounded work). */
  /** The ONE 4×15-bit chunk explode both the detector
    * ([[bandedHammingPairs]]) and its diagnostic ([[bandingSaturation]])
    * band through — two copies could drift (chunk count, [[ChunkBits]],
    * widening) and the stat would then report saturation for buckets
    * the pair join doesn't use: the exact blind spot it exists to
    * prevent. One row per (id, chunk). */
  private def hammingChunks(sigs: DataFrame, idCol: String,
      sigCol: String): DataFrame =
    sigs.select(col(idCol).as("id"), col(sigCol).as("sig"),
        explode(array((0 until 4).map { c =>
          struct(lit(c.toLong).as("chunk_id"),
            shiftright(col(sigCol), c * ChunkBits)
              .bitwiseAND(lit((1L << ChunkBits) - 1)).as("chunk_val"))
        }: _*)).as("ck"))
      .select(col("id"), col("sig"),
        col("ck.chunk_id").as("chunk_id"), col("ck.chunk_val").as("chunk_val"))

  def bandedHammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucket: Int = 200): DataFrame = {
    val allChunked = hammingChunks(sigs, idCol, sigCol)
    // skew cap (same rationale as minhashPairs): near-uniform corpora
    // collapse many docs into the same 16-bit chunk — O(bucket²) pairs
    val big = allChunked.groupBy("chunk_id", "chunk_val")
      .agg(count(lit(1)).as("bs")).filter(col("bs") > maxBucket)
      .select("chunk_id", "chunk_val")
    val chunked = allChunked.join(broadcast(big),
      Seq("chunk_id", "chunk_val"), "left_anti")
    chunked.as("a").join(chunked.as("b"), Seq("chunk_id", "chunk_val"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Banding-saturation diagnostics for a 60-bit fingerprint table —
    * the loud guard [[bandedHammingPairs]]'s silent skew cap needs: a
    * low-entropy signature column (every clip of a quiet corpus
    * hashing to a handful of envelope values) pushes whole chunk
    * buckets past `maxBucket`, and the pair join then returns ZERO
    * rows with nothing saying why. This emits, per chunk, the distinct
    * chunk-value count, how many buckets the cap dropped, and the
    * fraction of ids those buckets held — `drop_frac` near 1.0 means
    * the detector is blind (widen the fingerprint or raise the cap),
    * near 0.0 means the cap is trimming only true hot spots. ONE hash
    * aggregate over the (4·n)-row chunk table, 4-row result — cheap
    * enough to run alongside every banded near-dup at any scale. */
  def bandingSaturation(sigs: DataFrame, idCol: String, sigCol: String,
      maxBucket: Int = 200): DataFrame =
    // rides the SAME chunk explode as the detector ([[hammingChunks]]);
    // `n_ids` counts (id, chunk) rows, which equals distinct ids per
    // chunk under the one-row-per-id signature-table contract every
    // fingerprint memo here satisfies
    hammingChunks(sigs.select(col(idCol), col(sigCol)), idCol, sigCol)
      .select("chunk_id", "chunk_val")
      .groupBy("chunk_id", "chunk_val").agg(count(lit(1)).as("bs"))
      .groupBy("chunk_id")
      .agg(sum(col("bs")).as("n_ids"),
        count(lit(1)).as("n_vals"),
        sum(when(col("bs") > maxBucket, 1L).otherwise(0L)).as("n_capped"),
        sum(when(col("bs") > maxBucket, col("bs")).otherwise(0L))
          .as("n_dropped"))
      .select(col("chunk_id"), col("n_ids"), col("n_vals"), col("n_capped"),
        col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n_ids"), 6)
          .as("drop_frac"))
      .orderBy("chunk_id")

  // -------------------------------------------------- n-gram Jaccard

  /** E2c: exact char-4-gram Jaccard over a bounded pair set (all pairs
    * within doc_id < 60 — a fixed-size probe irrespective of SF; the
    * scalable path for full-corpus n-gram Jaccard is [[minhashPairs]],
    * which this exact form verifies). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"),
        array_distinct(T.charNgrams(col("text"), 4)).as("grams"))
    docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
          size(array_union(col("a.grams"), col("b.grams"))), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------ embedding near-dup

  /** Plane component (p, d) — md5-derived pseudo-random in [-1, 1), so
    * the DuckDB oracle regenerates the identical planes in SQL:
    * `(('0x'||substr(md5('plane:'||p||':'||d),1,15))::BIGINT % M) / M * 2 - 1`.
    * Integer mod then one double divide+fma — bit-identical IEEE ops on
    * both engines. */
  val PlaneMod = 1000003L
  def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane:$p:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % PlaneMod).toDouble /
      PlaneMod.toDouble * 2.0 - 1.0
  }

  /** Random-hyperplane LSH bucket per vector: `bits` fixed pseudo-random
    * plane vectors (md5-derived driver-side, shipped as array literals —
    * a few KB) dotted against each row with the codegen'd
    * [[graft.functions.DotProduct]]. A pure narrow map — no explode, no
    * shuffle, deterministic (per-row sequential loop). `emb` must have
    * (vec_id, v: array<double>) with `dim`-sized vectors. */
  def withHyperplaneBucket(emb: DataFrame, bits: Int, dim: Int = 64): DataFrame = {
    val planes = Array.tabulate(bits, dim)(planeComponent)
    val bucket = (0 until bits).map { p =>
      when(V.dot(col("v"), typedlit(planes(p).toSeq)) >= 0,
        lit(1L << (bits - 1 - p))).otherwise(lit(0L))
    }.reduce(_ + _)
    emb.withColumn("bucket", bucket)
  }

  /** Bucketed embeddings with precomputed norms — the bucket is a
    * narrow-map column, so no join and no persist needed; each self-join
    * side recomputes a cheap projection off the scan. The frame is
    * [[Similarity.embeddingsWithNorm]] — THE canonical (vec_id, v, nrm)
    * vector frame with its zero-norm source exclusion — not a private
    * re-load: an all-zero vector buckets (every plane dot is 0 ⇒ every
    * sign bit set) but cannot be cosine-scored, so a private unfiltered
    * read turns the within-bucket verify into a 0/0 division (an ANSI
    * crash; found by the vecdegen gate, not review). */
  private def embWithBuckets(spark: SparkSession, dir: String): DataFrame =
    withHyperplaneBucket(Similarity.embeddingsWithNorm(spark, dir),
      bits = 16)

  /** E2d: embedding-cosine near-dup via 16-bit hyperplane buckets
    * (O(n) shuffle on the bucket id), exact cosine within buckets —
    * one codegen'd dot per pair, norms precomputed per side. The
    * bucket self-join carries the SAME skew cap as every other
    * banded near-dup here: real embedding models emit clustered
    * vectors (cosine-similar by construction ⇒ same hyperplane
    * bucket), so an uncapped join degenerates toward O(n²) on exactly
    * the corpora near-dup detection targets. All-zero vectors never
    * reach the join: [[graft.operators.Similarity.embeddingsWithNorm]]
    * excludes zero-norm rows at the source (cosine is undefined for
    * them — the r12 vecdegen fix). Dropped-bucket mass is observable through
    * [[bandingSaturation]]'s sibling discipline (recall, not
    * precision, is what the cap trades). */
  def embeddingNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.95, maxBucket: Int = 200): DataFrame = {
    val all = embWithBuckets(spark, dir)
    val big = embBucketSizes(spark, dir)
      .filter(col("bs") > maxBucket).select("bucket")
    val emb = all.join(broadcast(big), Seq("bucket"), "left_anti")
    emb.as("a").join(emb.as("b"), "bucket")
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(V.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")),
          6).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** The ONE (bucket, bs) size table both [[embeddingNearDup]]'s skew
    * cap and [[embeddingBucketSaturation]]'s alarm read — memoized
    * because the 16-plane bucket projection is the expensive part of
    * the frame (the join sides already pay it twice; a third pass just
    * to count buckets measurably dented the serve), and shared so the
    * two consumers can never drift apart: the memo key would otherwise
    * serve whichever side's aggregation ran first. Content is
    * threshold-independent (sizes only). */
  private def embBucketSizes(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "emb_bucket_sizes16") {
      embWithBuckets(spark, dir)
        .groupBy("bucket").agg(count(lit(1)).as("bs"))
    }

  /** Deterministic face of the embedding-LSH path: per-vector bucket id
    * (what the driver's rows-only check sees; pair content depends on
    * whether the corpus actually contains near-dups). */
  def embeddingBuckets(spark: SparkSession, dir: String): DataFrame =
    embWithBuckets(spark, dir)
      .select(col("vec_id"), col("bucket"))
      .orderBy("vec_id")

  /** Harness query `embedding_bucket_saturation`: the saturation alarm
    * for the hyperplane-bucket family — [[bandingSaturation]]'s
    * discipline applied to [[embeddingNearDup]]'s skew cap, closing the
    * observability gap that comment promised. Real embedding models
    * emit CLUSTERED vectors: cosine-similar by construction means
    * same-side of most hyperplanes means same bucket, so on exactly the
    * corpora near-dup detection targets, whole buckets blow past
    * `maxBucket` and the capped join silently drops them — `drop_frac`
    * near 1.0 says the detector is blind (add planes or raise the cap),
    * near 0.0 says the cap trims only true hot spots. One aggregation
    * over the (bucket, count) table, one output row — cheap enough to
    * run next to every bucketed near-dup at any scale. Only the
    * default `maxBucket` (200, [[embeddingNearDup]]'s cap) is
    * oracle-pinned; other values ride the same size table but are
    * covered by spec only. */
  def embeddingBucketSaturation(spark: SparkSession, dir: String,
      maxBucket: Int = 200): DataFrame =
    // an aggregate over the shared memoized (bucket, bs) size table —
    // never a third projection pass over the corpus
    embBucketSizes(spark, dir)
      .agg(sum(col("bs")).as("n_vecs"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("bs") > maxBucket, 1L).otherwise(0L)).as("n_capped"),
        sum(when(col("bs") > maxBucket, col("bs")).otherwise(0L))
          .as("n_dropped"))
      .select(col("n_vecs"), col("n_buckets"), col("n_capped"),
        col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n_vecs"), 6)
          .as("drop_frac"))

  // ------------------------------------------------- repeated-span dedup

  /** Cross-document repeated-span detection — the span-granular exact
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): for each document, the fraction of its
    * `n`-token spans that also occur verbatim in at least one OTHER
    * document. Near-dup detectors miss a boilerplate paragraph pasted
    * into thousands of otherwise-distinct pages; this catches exactly
    * that.
    *
    * Shape: per-doc DISTINCT span hashes (one explode, spans leave the
    * row as a 60-bit [[hash60]] so the shuffle carries 8-byte keys, not
    * span text) → span-frequency hash aggregate → join back → per-doc
    * aggregate. Two key shuffles (span hash, doc id), no pair join —
    * cost is O(total spans) regardless of how duplicated the corpus is,
    * where a pair-based formulation blows up quadratically on hot
    * spans. Docs shorter than `n` tokens have no spans and report 0. */
  /** Per-doc DISTINCT `n`-token span hashes, memoized once per dataset
    * — the corpus tokenize behind BOTH [[spanDedup]] and
    * [[graft.operators.Sampling.contaminationNgram]] (and each consumer
    * reads it from more than one plan branch). Same economics as the
    * `token-tf` memo: one tokenize pass ever, every span query after
    * reads a compact (doc_id, 8-byte hash) parquet. */
  private[graft] def spanTable(spark: SparkSession, dir: String,
      n: Int): DataFrame =
    Memo.table(spark, dir, s"span$n") {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(T.wordShingles(col("text"), n))).as("span"))
        .select(col("doc_id"), hash60(col("span")).as("span_h"))
    }

  /** Harness query `span_scrub`: exact-substring dedup REMOVAL (Lee
    * et al. 2022's "deduplicating training data" ExactSubstr step —
    * [[spanDedup]] detects, this SCRUBS): every token covered by an
    * `n`-token span that occurs in ≥ `minDocs` distinct documents is
    * dropped; the kept stream (counts + order-exact fingerprint) is
    * what a training pipeline feeds the tokenizer.
    *
    * Shape: positional spans leave each doc as (start, hash60) rows;
    * the hot-span set is a filter over the SHARED distinct-span
    * frequency aggregate ([[spanTable]] — no second tokenize); hot
    * occurrences explode to ≤n covered positions each; kept tokens =
    * one anti join on (doc_id, pos); one per-doc aggregate rebuilds
    * counts and the length-prefixed fingerprint. O(total spans) at
    * any duplication level — no pair join, nothing quadratic. The
    * fingerprint is length-prefixed (len:token, concatenated bare)
    * so no in-token separator byte can alias two different streams. */
  def spanScrub(spark: SparkSession, dir: String, n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
      posexplode(T.tokens(col("text"))).as(Seq("pos", "token")))
    val spans = docs.select(col("doc_id"),
        posexplode(T.wordShingles(col("text"), n)).as(Seq("sp", "span")))
      .select(col("doc_id"), col("sp"), hash60(col("span")).as("span_h"))
    val hot = spanTable(spark, dir, n)
      .groupBy("span_h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("span_h")
    val covered = spans.join(hot, "span_h")
      .select(col("doc_id"),
        explode(sequence(col("sp"), col("sp") + (n - 1))).as("pos"))
      .distinct()
    val perDoc = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos"),
        concat(length(col("token")).cast("string"), lit(":"),
          col("token")).as("enc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        hash60(concat_ws("", transform(
          array_sort(collect_list(struct(col("pos"), col("enc")))),
          e => e.getField("enc")))).as("kept_h"))
    // null text → size() is NULL under ANSI (and -1 under legacy):
    // both collapse to 0 tokens, matching the oracle's coalesce
    val ntc = greatest(coalesce(col("nt"), lit(0)), lit(0)).cast("long")
    docs.select(col("doc_id"), size(T.tokens(col("text"))).as("nt"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        ntc.as("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (ntc - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_h"), hash60(lit(""))).as("kept_h"))
      .orderBy("doc_id")
  }

  def spanDedup(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val spans = spanTable(spark, dir, n)
    // spans are distinct per doc, so count(*) per hash = #docs carrying it
    val freq = spans.groupBy("span_h").agg(count(lit(1)).as("n_docs"))
    val perDoc = spans.join(freq, "span_h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        when(col("n_spans") === 0, 0.0d)
          .otherwise(round(col("n_dup_spans").cast("double") / col("n_spans"), 6)))
      .orderBy("doc_id")
  }
}
