package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftshim.Shim
import graft.Tables

/** Bucketed (pre-partitioned) catalog tables: the co-located join
  * tables and every index family graft serves from the catalog — E16
  * postings and positional indexes, E2a band indexes, E3 assignment and
  * IVF-PQ/SQ8 lists. Bucketing pays the clustering once at write time;
  * a join or `IN` filter on the bucket key then needs no exchange on
  * the index side and opens only the matching buckets' files.
  *
  * Every bucketed table goes through ONE write path:
  *   - [[write]] is the only bucketed writer in graft. Its spec
  *     (count, bucket and sort columns) is a catalog `BucketSpec`.
  *   - [[ensureBucketedTable]] builds a table once, under a temp name
  *     that is renamed only when complete, and stamps the source
  *     fingerprint it was built from. Every index is created there,
  *     with [[Buckets]] buckets.
  *   - [[append]] grows any bucketed table by a bucket-preserving
  *     append whose column order and spec come from the catalog, so an
  *     append can never disagree with the table it lands in.
  *   - Two lifecycles ride on those: `maintained` (corpus slice built,
  *     the new batch appended inside the guard) and `churned` (all rows
  *     at seq 0, the deleted batch tombstoned at seq 1, compacted — see
  *     [[IndexChurn]]).
  * Salted indexes are the same build with a shard key: hot tokens
  * spread over [[Salts]] sub-keys ([[hotSharded]]).
  */
object Bucketing {

  /** Bucket count of every table this module creates. Appends and
    * compactions read the count of an existing table from the catalog
    * instead, so a [[IndexChurn.rebucket]]ed table keeps its own. */
  val Buckets = 8

  /** Shard count of a hot token in the salted indexes. A constant, so
    * build, append and serve expand a hot token to the same keys. */
  val Salts = 8

  /** THE bucketed writer: `rows` written to `table` under `spec`, sorted
    * within each bucket. Append mode must pass the table's own spec
    * (Spark rejects a mismatch — the guard against silently
    * de-clustering an index); [[append]] reads it from the catalog. */
  private[sources] def write(rows: DataFrame, table: String, mode: String,
      spec: BucketSpec): Unit = {
    val (b, s) = (spec.bucketColumnNames, spec.sortColumnNames)
    val w = rows.write.mode(mode).bucketBy(spec.numBuckets, b.head, b.tail: _*)
    (if (s.isEmpty) w else w.sortBy(s.head, s.tail: _*)).saveAsTable(table)
  }

  /** [[Buckets]] buckets on `cols`, sorted by them. */
  private def specOf(cols: Seq[String]): BucketSpec =
    BucketSpec(Buckets, cols, cols)

  /** Bucket-preserving append of `rows` into an existing bucketed table,
    * in the table's column order and under its catalog `BucketSpec`:
    * only the new rows cluster into new per-bucket files next to the
    * existing ones (Spark groups several files per bucket at read time).
    * Existing files are untouched, no rebuild — BucketingSpec asserts the
    * pre-append files survive byte-identical. */
  def append(spark: SparkSession, table: String, rows: DataFrame): Unit = {
    val meta = Shim.catalogTable(spark, table)
    val cols = meta.schema.fieldNames.toSeq
    write(rows.select(cols.map(col): _*), table, "append",
      meta.bucketSpec.getOrElse(sys.error(s"$table is not bucketed")))
  }

  /** Write both sides bucketed+sorted on the join key into the session
    * catalog (native data-source tables — no Hive needed). */
  def writeBucketed(spark: SparkSession, dir: String): Unit = {
    write(Tables.load(spark, dir, "orders"), "orders_bkt", "overwrite",
      specOf(Seq("o_custkey")))
    write(Tables.load(spark, dir, "customer"), "customer_bkt", "overwrite",
      specOf(Seq("c_custkey")))
  }

  /** Join the bucketed tables: sort-merge (hinted past the broadcast
    * chooser to show the bucketing effect) with zero exchanges. */
  def colocatedJoin(spark: SparkSession): DataFrame = {
    val o = spark.table("orders_bkt")
    val c = spark.table("customer_bkt")
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .select(o("o_orderkey"), o("o_custkey"), c("c_name"), o("o_totalprice"))
  }

  /** The band index's bucket columns. Bucketed on BOTH join keys — a
    * subset bucketing gets discarded by the planner's bucketed-scan
    * chooser for a (band_id, band_key) join. */
  private val BandCols = Seq("band_id", "band_key")

  /** New-batch bands probing a bucketed corpus band index: the
    * increment's candidate join with the corpus side exchange-free
    * (BucketingSpec asserts ≤ 1 exchange, on the new side only). */
  def incrementalProbeColocated(spark: SparkSession,
      newBands: DataFrame, table: String): DataFrame = {
    val corpus = spark.table(table)
    newBands.hint("merge")
      .join(corpus.withColumnRenamed("doc_id", "corpus_id"), BandCols)
      .select("doc_id", "corpus_id")
  }

  /** Build-once bucketed CORPUS band index for
    * [[graft.operators.Dedup.incrementalPairsBucketed]] — the production
    * shape of its static side at 100 TB: clustering the index on
    * (band_id, band_key) once means each increment's probe moves only
    * the new batch's bands. One table per dataset dir, built only if
    * absent, so increments re-probe an existing index and never pay the
    * O(corpus) build. The harness's corpus is `doc_id % 10 != 0` (the
    * batch-id split the production table would carry as a column).
    * Returns the table name. */
  def ensureCorpusBandIndex(spark: SparkSession, dir: String,
      maxBucket: Int = 200): String = {
    val table = s"corpus_bands_bkt_${maxBucket}_${dirTag(dir)}"
    ensureBandIndexFrom(spark, table,
      graft.operators.Dedup.minhashCappedBands(spark, dir, maxBucket)
        .filter(col("doc_id") % 10 =!= 0),
      docsFp(spark, dir))
    table
  }

  /** Canonical 12-hex-char PATH tag for index table names: md5 of the
    * trailing-slash-normalized dir. `String.hashCode` (32 bits) can
    * realistically collide across dataset dirs, and a collision makes
    * two datasets fight over one table name — the fingerprint check
    * saves correctness, but every alternation then pays a full
    * O(corpus) index rebuild; 48 md5 bits make that a non-event, and
    * the normalization stops `data` vs `data/` duplicating every
    * index. */
  private[graft] def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.stripSuffix("/").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** Source fingerprints for the two tables the index families derive
    * from — text indexes read `documents`, ANN/PQ indexes read
    * `embeddings`. Per-source (not whole-dir) so a re-crawl of one
    * doesn't force rebuilding the other family's indexes. */
  private def docsFp(spark: SparkSession, dir: String): Option[String] =
    Some(SourceState.fingerprint(spark, dir, Seq("documents")))
  private def embFp(spark: SparkSession, dir: String): Option[String] =
    Some(SourceState.fingerprint(spark, dir, Seq("embeddings")))

  /** Clear a warehouse location left behind by a dead JVM: with the
    * local in-memory catalog a managed-table LOCATION can outlive the
    * JVM that registered it (files persist, catalog entries don't) and
    * a fresh create would die with LOCATION_ALREADY_EXISTS. Safe ONLY
    * because every table this module manages is a DERIVED CACHE
    * (rebuildable from the source data at any time) — never reuse this
    * pattern for primary data, where the orphaned files would be the
    * only copy. A persistent catalog (Hive/Glue) never needs this: the
    * table resolves via tableExists across sessions. */
  private def clearOrphanedLocation(spark: SparkSession, table: String): Unit = {
    // resolved through the session catalog, NOT "<warehouse>/<table>":
    // with a non-default current database the managed location is
    // <warehouse>/<db>.db/<table>, and the hardcoded guess would
    // silently no-op — leaving exactly the LOCATION_ALREADY_EXISTS
    // crash this helper exists to prevent
    val loc = new org.apache.hadoop.fs.Path(Shim.defaultTablePath(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    ()
  }

  /** Table property carrying the SOURCE-content fingerprint an index
    * was built from ([[SourceState.fingerprint]]). Validated on every
    * build-guard hit: the table names carry only a PATH discriminator,
    * and a path is not an identity — a dataset regenerated in place
    * (the r7 testdata drift, or any production re-crawl landing at the
    * same location) must rebuild the index, not serve the old one
    * forever under a persistent metastore. */
  val FingerprintProp = "graft.source.fingerprint"

  /** The hot-token companion of a salted index ([[hotSharded]]). */
  private def hotOf(table: String): String = s"${table}_hot"

  /** Drops `table` and its `_hot` companion (if any) when the table
    * exists but was built from sources that no longer match
    * `fingerprint` — or predates fingerprinting entirely, which is
    * indistinguishable from stale and equally cheap to rebuild (derived
    * cache). */
  private def dropIfStale(spark: SparkSession, table: String,
      fingerprint: Option[String]): Unit =
    fingerprint.foreach { fp =>
      if (spark.catalog.tableExists(table) && !Shim.catalogTable(spark, table)
          .properties.get(FingerprintProp).contains(fp)) {
        Seq(table, hotOf(table)).foreach { t =>
          spark.sql(s"DROP TABLE IF EXISTS $t")
          clearOrphanedLocation(spark, t)
        }
      }
    }

  /** Write `df` as a bucketed catalog table iff it doesn't exist yet
    * (build-once semantics; the builder is by-name so a hit costs no
    * plan construction). `andThen` runs exactly once, right after a
    * fresh build, and receives the table name to fold an increment
    * into — the hook for completing a maintained index idempotently.
    *
    * CRASH-ATOMIC completion: the build lands under a temp name
    * (`<table>__building`), `andThen` appends into the temp table, and
    * only a fully-built-and-appended index is renamed to the final
    * name (a pure catalog metadata op that also moves the managed
    * location). A crash anywhere before the rename leaves no table
    * under the final name, so the next call's tableExists guard
    * rebuilds from scratch instead of serving a corpus-slice-only
    * index forever — completion is observable in the name itself.
    *
    * `fingerprint` (when given) is stamped as a table property before
    * the rename and validated on every subsequent call: a hit whose
    * stored fingerprint differs drops and rebuilds (see
    * [[FingerprintProp]]). The stamp rides the same crash-atomic
    * rename, so a table can never exist under the final name without
    * its fingerprint. */
  def ensureBucketedTable(spark: SparkSession, table: String,
      df: => DataFrame, bucketCols: Seq[String],
      fingerprint: Option[String] = None)(
      andThen: String => Unit = _ => ()): Unit =
    synchronized {
      dropIfStale(spark, table, fingerprint)
      if (!spark.catalog.tableExists(table)) {
        val tmp = s"${table}__building"
        // a leftover temp table/location IS the crashed-build case —
        // derived cache, so drop and rebuild (see clearOrphanedLocation)
        spark.sql(s"DROP TABLE IF EXISTS $tmp")
        clearOrphanedLocation(spark, tmp)
        clearOrphanedLocation(spark, table)
        write(df, tmp, "overwrite", specOf(bucketCols))
        andThen(tmp)
        fingerprint.foreach(fp => spark.sql(
          s"ALTER TABLE $tmp SET TBLPROPERTIES ('$FingerprintProp'='$fp')"))
        spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
        ()
      }
    }

  /** Write `bands` as a bucketed band-index table iff it doesn't exist
    * yet. */
  def ensureBandIndexFrom(spark: SparkSession, table: String,
      bands: => DataFrame, fingerprint: Option[String] = None): Unit =
    ensureBucketedTable(spark, table, bands, BandCols, fingerprint)()

  // ------------------------------------------------------- the lifecycles

  /** The harness batch split of one frame: `key % 10 == 0` is the new
    * batch, the rest the corpus slice. */
  private def batchOf(rows: => DataFrame, key: String)(
      newBatch: Boolean): DataFrame =
    rows.filter(if (newBatch) col(key) % 10 === 0 else col(key) % 10 =!= 0)

  /** The MAINTAINED lifecycle: the corpus slice `slice(false)` is built
    * once, and the new batch `slice(true)` is appended inside the build
    * guard — so the final table always equals the full corpus, and
    * re-invocations never double-append. Returns the table name. */
  private def maintained(spark: SparkSession, table: String,
      bucketCols: Seq[String], fingerprint: Option[String])(
      slice: Boolean => DataFrame): String = {
    ensureBucketedTable(spark, table, slice(false), bucketCols, fingerprint) {
      t => append(spark, t, slice(true))
    }
    table
  }

  /** The CHURNED lifecycle inside the crash-atomic build guard: every
    * row stamped U at seq 0, the `deleted` rows tombstoned at seq 1
    * ([[IndexChurn.append]]), then a bucket-local
    * `compact(tombstonesOnly)`. The served index is exactly the
    * surviving rows, which each family's hash-equality with a fresh
    * build over the survivors proves. Every version of a key must land
    * in one bucket ([[IndexChurn.compact]]'s invariant). Returns the
    * table name. */
  private def churned(spark: SparkSession, table: String,
      rows: => DataFrame, deleted: Column, keyCols: Seq[String],
      bucketCols: Seq[String], fingerprint: Option[String]): String = {
    ensureBucketedTable(spark, table, IndexChurn.stamp(rows, "U", 0L),
        bucketCols, fingerprint) { t =>
      IndexChurn.append(spark, t, rows.filter(deleted), "D", 1L)
      IndexChurn.compact(spark, t, keyCols, bucketCols, tombstonesOnly = true)
    }
    table
  }

  // ------------------------------------------- bucketed postings catalog

  /** The E16 postings index as a token-BUCKETED catalog table — the
    * production serving shape: a query's `token IN (…)` filter bucket-
    * prunes the scan (only the matching buckets' files open), and joins
    * on token need no exchange on the index side. Maintained lifecycle
    * over the corpus slice, the `% 10 == 0` batch appended. Returns the
    * table name. */
  def ensureMaintainedPostingsIndex(spark: SparkSession, dir: String): String = {
    lazy val posts = graft.operators.Retrieval.postingsTable(spark, dir)
    maintained(spark, s"postings_bkt_${dirTag(dir)}", Seq("token"),
      docsFp(spark, dir))(batchOf(posts, "doc_id"))
  }

  /** The positional-postings twin of [[ensureMaintainedPostingsIndex]]:
    * (token, doc_id, positions) bucketed by token. Serves
    * `phrase_index_maintained`. */
  def ensureMaintainedPositionalIndex(spark: SparkSession, dir: String): String = {
    lazy val posts = graft.operators.Retrieval.positionalPostings(spark, dir)
    maintained(spark, s"positional_bkt_${dirTag(dir)}", Seq("token"),
      docsFp(spark, dir))(batchOf(posts, "doc_id"))
  }

  // ------------------------------------------ hot-token salting (skew)

  /** The build body of every SALTED postings index — the stopword-skew
    * answer for the token-bucketed catalog: bucketing by raw token puts
    * a stopword's ENTIRE posting list in one bucket, so at 100 TB one
    * bucket is TB-scale while the median is MBs (the minhash
    * mega-bucket problem, on the serving side). Tokens whose df exceeds
    * `hotDf` are frozen into the `<table>_hot` companion and shard over
    * [[Salts]] sub-keys ([[saltedShards]]), so no bucket ever holds
    * more than ~1/Salts of the hottest list; cold tokens keep
    * `shard_key = token` and their single-bucket pruning. Call it
    * inside the build guard (by name, through [[ensureBucketedTable]])
    * with `shard_key` as the bucket column: the companion is then
    * written only on a build, and dropped with a stale table.
    * BucketingSpec pins the skew bound and serve-path equivalence;
    * NOTES.md "Round 7: hot-token (Zipf stopword) bucket skew +
    * salting" records the byte spread on a Zipf corpus (17.7x
    * max/median unsalted, 2.3x salted).
    *
    * The df threshold is a BUILD-time decision; re-sharding a token
    * that later crosses the threshold is an index-maintenance job
    * (rewrite that token's rows under salted keys — O(one posting
    * list), the same economics as a churn compaction). */
  def hotSharded(spark: SparkSession, table: String, posts: DataFrame,
      hotDf: Long): DataFrame = {
    clearOrphanedLocation(spark, hotOf(table))
    posts.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") > hotDf)
      .write.mode("overwrite").saveAsTable(hotOf(table))
    saltedShards(spark, table, posts)
  }

  /** Shard-key a postings frame under `table`'s frozen hot policy: hot
    * tokens split by doc hash, cold tokens keep their own key. Payload
    * columns beyond (token, doc_id, tf) — e.g. the churn schema's
    * (op, seq) — pass through, and the shard derivation is a pure
    * function of (hot policy, doc_id), so a tombstone always lands in
    * the same shard as the rows it deletes (the [[IndexChurn.compact]]
    * same-bucket invariant). New rows for a salted index go through
    * this before [[append]]. */
  def saltedShards(spark: SparkSession, table: String,
      posts: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, concat, hash, pmod, when}
    val payload = posts.columns.toSeq
    val hot = broadcast(spark.table(hotOf(table))
      .select(col("token"), lit(true).as("is_hot")))
    posts.join(hot, Seq("token"), "left")
      .withColumn("shard_key",
        when(col("is_hot"),
          concat(col("token"), lit("#"),
            pmod(hash(col("doc_id")), lit(Salts)).cast("string")))
          .otherwise(col("token")))
      .select(("shard_key" +: payload).map(col): _*)
  }

  /** The ONE hot-token policy every salted build freezes (5% of the
    * corpus, floored at 10 — a token in more than 1-in-20 docs is
    * stopword-class; the Zipf head above that line is tiny): the
    * serve-side expansion reads the frozen `_hot` table, so the policy
    * must come from one place or the salted indexes drift from their
    * own expansion. */
  private def hotDfOf(spark: SparkSession, dir: String): Long =
    math.max(Tables.load(spark, dir, "documents").count() / 20, 10)

  /** Build-once salted index per dataset over `posts`. */
  private def ensureSaltedIndex(spark: SparkSession, table: String,
      dir: String, posts: => DataFrame): String = {
    ensureBucketedTable(spark, table,
      hotSharded(spark, table, posts, hotDfOf(spark, dir)), Seq("shard_key"),
      docsFp(spark, dir))()
    table
  }

  /** Salted postings catalog over the full corpus postings. Serves
    * `bm25_salted`, whose hash-equality with the full-scan BM25 twin is
    * the salting-correctness proof. Returns the table name. */
  def ensureSaltedPostingsIndex(spark: SparkSession, dir: String): String =
    ensureSaltedIndex(spark, s"postings_salt_${Salts}_${dirTag(dir)}", dir,
      graft.operators.Retrieval.postingsTable(spark, dir))

  /** Serve-side read of a salted postings table: each query token
    * expands to its shard keys — [[Salts]] sub-keys if hot (union at
    * read), just itself if cold — and the IN filter bucket-prunes
    * exactly as the unsalted index's did. The hot lookup reads the tiny
    * Zipf-head table once per query batch (driver-side, bounded); a
    * long-running server caches it. */
  def saltedPostings(spark: SparkSession, table: String,
      tokens: Seq[String]): DataFrame =
    saltedFilter(spark, table, tokens).select("token", "doc_id", "tf")

  /** Salted POSITIONAL index per dataset — same hot policy and shard
    * derivation as [[ensureSaltedPostingsIndex]], payload (token,
    * doc_id, positions): a stopword's position lists are just as
    * bucket-skewing as its tf postings. Serves `phrase_salted`. Returns
    * the table name. */
  def ensureSaltedPositionalIndex(spark: SparkSession, dir: String): String =
    ensureSaltedIndex(spark, s"positional_salt_${Salts}_${dirTag(dir)}", dir,
      graft.operators.Retrieval.positionalPostings(spark, dir))

  /** The shard-expanded IN filter over a salted table, churn metadata
    * (if any) retained — shared by the plain and churn serve paths. */
  def saltedFilter(spark: SparkSession, table: String,
      tokens: Seq[String]): DataFrame = {
    val hot = spark.table(hotOf(table)).select("token")
      .collect().map(_.getString(0)).toSet
    val keys = tokens.flatMap(t =>
      if (hot(t)) (0 until Salts).map(i => s"$t#$i") else Seq(t))
    // the shard-key IN is the bucket-pruning layer ONLY; the exact
    // token IN owns correctness: '#' is legal inside a token (the
    // tokenizer is whitespace-split), so a cold token literally named
    // "<hot>#<digit>" collides with a hot shard key and would
    // otherwise be scored as the hot token's postings
    spark.table(table).filter(col("shard_key").isin(keys: _*) &&
      col("token").isin(tokens: _*))
  }

  /** CHURN-capable SALTED postings index — the two skew/lifecycle
    * answers composed: hot tokens shard over salt sub-keys AND the
    * schema carries (op, seq) so doc deletes tombstone without a
    * rebuild. The shard key is a pure function of (frozen hot policy,
    * doc_id), so every version of a (token, doc_id) key — updates and
    * tombstones alike — lands in the same shard and the same bucket.
    * Churned lifecycle; `bm25_salted_churn`'s hash-equality with a
    * fresh build that never saw the deleted docs proves
    * delete-through-salt correctness. Returns the table name. */
  def ensureChurnedSaltedIndex(spark: SparkSession, dir: String): String = {
    val table = s"postings_saltchn_${Salts}_${dirTag(dir)}"
    lazy val sharded = hotSharded(spark, table,
      graft.operators.Retrieval.postingsTable(spark, dir), hotDfOf(spark, dir))
    churned(spark, table, sharded, col("doc_id") % 10 === 0,
      Seq("token", "doc_id"), Seq("shard_key"), docsFp(spark, dir))
  }

  // ----------------------------------------------- churnable index family

  /** CHURN-capable BM25 serving index: the postings table AND the
    * per-doc length table as churnable bucketed tables
    * ([[IndexChurn]] schema: payload ++ (op, seq)) — BM25's stats (N,
    * avgdl, dl) must forget a deleted doc too, or its lengths keep
    * skewing every score, so a doc delete tombstones BOTH tables in one
    * O(deleted postings) append. Churned lifecycle over the `doc_id %
    * 10 == 0` batch, so `bm25_index_churn`'s hash-equality with a fresh
    * build that never saw those docs is the delete+compact correctness
    * proof. Returns (postingsTable, docLenTable). */
  def ensureChurnedBm25Index(spark: SparkSession, dir: String): (String, String) = {
    // tombstones for a doc batch = its postings rows re-keyed as
    // deletes (production tokenizes the deleted docs' text or reads
    // their postings back; the memo serves the same rows here)
    lazy val posts = graft.operators.Retrieval.postingsTable(spark, dir)
    (churned(spark, s"postings_chn_${dirTag(dir)}", posts,
        col("doc_id") % 10 === 0, Seq("token", "doc_id"), Seq("token"),
        docsFp(spark, dir)),
      ensureChurnedDocLengths(spark, dir))
  }

  /** The churned DOC-LENGTH table ALONE — split out of
    * [[ensureChurnedBm25Index]] so a serve path that takes tf from its
    * own index (the salted churn serve) can get churn-correct
    * N/avgdl/dl stats without triggering — and discarding — the full
    * unsalted churned-postings build. The payload counts token-less
    * docs as dl=0 rows so N stays "all live docs" while avgdl averages
    * docs-with-tokens — the exact semantics of the full-scan twin's
    * separate N/avgdl aggregates. Returns the table name. */
  def ensureChurnedDocLengths(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.size
    import graft.functions.{TextFunctions => T}
    lazy val dls = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("dl"))
    churned(spark, s"doclen_chn_${dirTag(dir)}", dls, col("doc_id") % 10 === 0,
      Seq("doc_id"), Seq("doc_id"), docsFp(spark, dir))
  }

  /** CHURN-capable positional phrase index — the [[IndexChurn]] twin of
    * [[ensureMaintainedPositionalIndex]], proven by
    * `phrase_index_churn`'s hash-equality with a fresh build over the
    * remaining docs. Phrase serving reads no corpus stats, so one table
    * suffices. Returns the table name. */
  def ensureChurnedPositionalIndex(spark: SparkSession, dir: String): String = {
    lazy val posts = graft.operators.Retrieval.positionalPostings(spark, dir)
    churned(spark, s"positional_chn_${dirTag(dir)}", posts,
      col("doc_id") % 10 === 0, Seq("token", "doc_id"), Seq("token"),
      docsFp(spark, dir))
  }

  /** CHURN-capable corpus BAND index — the dedup twin of
    * [[ensureChurnedBm25Index]]: a deleted or re-ingested doc's LSH
    * bands must stop producing candidates without an index rebuild.
    * One doc's band rows scatter across MANY (band_id, band_key)
    * buckets — but each tombstone carries its victim's full (doc_id,
    * band_id, band_key) key, and the bucket cols are a subset of the
    * key cols, so every version lands in its victim's bucket; a doc
    * delete dirties at most `bands` buckets (band count, not corpus
    * size). The served index is exactly the corpus slice, so
    * `dedup_index_churn`'s hash-equality with the append-built corpus
    * index's probe ([[ensureCorpusBandIndex]]) IS the delete-through
    * proof. Returns the table name. */
  def ensureChurnedBandIndex(spark: SparkSession, dir: String,
      maxBucket: Int = 200): String = {
    lazy val bands =
      graft.operators.Dedup.minhashCappedBands(spark, dir, maxBucket)
    churned(spark, s"corpus_bands_chn_${maxBucket}_${dirTag(dir)}", bands,
      col("doc_id") % 10 === 0, "doc_id" +: BandCols, BandCols,
      docsFp(spark, dir))
  }

  // ---------------------------------------- bucketed ANN assignment index

  /** The E3 IVF assignment as a c_id-BUCKETED catalog table — the grown
    * form of [[graft.operators.Similarity.assignmentTable]]: the corpus
    * slice assigns once at build; new-vector batches assign ONLY
    * themselves against the frozen memoized centroids and fold in by
    * [[append]] — exactly how production IVF indexes grow between
    * periodic retrains. The maintained table therefore equals the
    * full-corpus assignment, which the harness proves by hash-equality
    * of `sim_topk_maintained` with the full-build oracle. Returns the
    * table name. */
  def ensureMaintainedAssignmentIndex(spark: SparkSession, dir: String,
      iters: Int = 2): String =
    maintained(spark, maintainedAssignmentTableName(dir, iters), Seq("c_id"),
      embFp(spark, dir))(
      graft.operators.Similarity.assignSlice(spark, dir, _, iters))

  /** MAINTAINED product-quantization index — the PQ twin of
    * [[ensureMaintainedAssignmentIndex]]: the corpus slice encoded once
    * against the trained codebooks, the new-vector batch encoded
    * against the SAME FROZEN codebooks (O(batch·M·Ksub), corpus-free)
    * and folded in by append. Bucketed by vec_id: the ADC probe join
    * broadcasts the lookup table so bucketing buys no pruning there —
    * vec_id bucketing positions the table for per-vector churn
    * (tombstones would bucket-prune exactly like the assignment
    * index's). Hash-equality of `sim_topk_pq_maintained` with the
    * full-encode memo is the append-correctness proof. */
  def ensureMaintainedPqIndex(spark: SparkSession, dir: String,
      iters: Int = 2): String =
    maintained(spark, s"pq_idx_bkt_${iters}_${dirTag(dir)}", Seq("vec_id"),
      embFp(spark, dir))(
      graft.operators.Quantize.encodeSlice(spark, dir, _, iters))

  /** THE maintained-assignment table name — shared with
    * [[graft.operators.Similarity.retrainAssignmentIndex]]'s staged
    * epoch flip, whose cutover works only because the retrained table
    * lands under exactly this name for the new iters: a one-sided
    * rename would silently rebuild a second, divergent table. */
  def maintainedAssignmentTableName(dir: String, iters: Int): String =
    s"ivf_assign_bkt_${iters}_${dirTag(dir)}"

  /** CHURN-capable ANN assignment index — deletes BETWEEN retrains:
    * [[graft.operators.Similarity.retrainAssignmentIndex]] rebuilds the
    * whole index under fresh centroids, but a vector deleted mid-epoch
    * must stop being served NOW, without paying the O(n·C) retrain.
    * Tombstones are assigned under the SAME frozen centroids as the
    * rows they delete (here: read from the same assignment memo), so
    * every version of a vec_id lands in the same c_id — and therefore
    * the same bucket — satisfying [[IndexChurn.compact]]'s invariant
    * even though the bucket col (c_id) is not the row key (vec_id); the
    * serve view keys on (c_id, vec_id), equivalent per-vector grouping,
    * so a probe's c_id join filter stays below the window and serving
    * cost stays O(probed lists). An embedding UPDATE that moves a
    * vector to a new centroid is a tombstone under the old c_id plus an
    * insert under the new one — two correctly-bucketed rows, never an
    * in-place rewrite. Churned lifecycle over the `vec_id % mod == 0`
    * batch; `sim_topk_churn`'s hash-equality with IVF over the
    * surviving vectors proves deleted vectors never surface in top-k.
    * Returns the table name. */
  def ensureChurnedAssignmentIndex(spark: SparkSession, dir: String,
      iters: Int = 2, mod: Int = 10): String = {
    lazy val assigned = graft.operators.Similarity
      .assignmentTable(spark, dir, iters)
      .select("vec_id", "c_id", "v", "nrm")
    // mod is part of the name: two parameterizations are two tables
    churned(spark, s"ivf_assign_chn_${iters}_${mod}_${dirTag(dir)}", assigned,
      col("vec_id") % mod === 0, Seq("c_id", "vec_id"), Seq("c_id"),
      embFp(spark, dir))
  }

  /** The IVF+PQ serving table — FAISS's IVFADC layout as a catalog
    * table: inverted lists of PQ codes, (c_id, vec_id, nrm, sub, code)
    * BUCKETED BY the coarse-list id. A query's nprobe probe becomes a
    * literal `c_id IN (…)` filter that bucket-prunes the scan to the
    * probed lists' files, and because c_id is the bucketing column, the
    * per-candidate M-addend ADC aggregation (grouping keys ⊇ c_id)
    * rides the bucketing with NO exchange on the index side — the only
    * shuffle left in a serve is the bounded per-query top-k window.
    * Built once per dataset from the two memoized halves (the IVF
    * assignment × the PQ encode); increments compose the two existing
    * frozen-model appends (assign O(batch·C) + encode O(batch·M·Ksub)),
    * churn/retrain ride the shared [[IndexChurn]]/staged-swap machinery
    * — this table only fuses the layouts. */
  def ensureIvfPqIndex(spark: SparkSession, dir: String,
      iters: Int = 2): String = {
    val table = s"ivfpq_idx_${iters}_${dirTag(dir)}"
    lazy val lists = graft.operators.Similarity
      .assignmentTable(spark, dir, iters).select("vec_id", "c_id")
      .join(graft.operators.Quantize.pqIndexTable(spark, dir, iters),
        "vec_id")
      .select("c_id", "vec_id", "nrm", "sub", "code")
    ensureBucketedTable(spark, table, lists, Seq("c_id"), embFp(spark, dir))()
    table
  }

  /** c_id-bucketed SQ8 inverted lists — the IVF,SQ8 catalog (the third
    * point on the compression axis next to [[ensureIvfPqIndex]]'s
    * 8 B/vector codes and the raw assignment's 512 B vectors: ~80 B of
    * id+norm+scale+64 int8 codes per row). Same serve mechanics: the
    * probe is a literal bucket-pruning `c_id IN (…)` filter, the only
    * shuffle is the per-query top-k window. */
  def ensureIvfSq8Index(spark: SparkSession, dir: String,
      iters: Int = 2): String = {
    val table = s"ivfsq8_idx_${iters}_${dirTag(dir)}"
    lazy val lists = graft.operators.Similarity
      .assignmentTable(spark, dir, iters).select("vec_id", "c_id")
      .join(graft.operators.Quantize.int8IndexTable(spark, dir), "vec_id")
      .select("c_id", "vec_id", "nrm", "scale", "codes")
    ensureBucketedTable(spark, table, lists, Seq("c_id"), embFp(spark, dir))()
    table
  }

  /** The residual-encoded twin of [[ensureIvfPqIndex]] — same bucketed
    * inverted-lists-of-codes layout, codes from
    * [[graft.operators.Quantize.pqResidualIndexTable]] (IVFADC
    * proper). */
  def ensureIvfPqResidualIndex(spark: SparkSession, dir: String,
      iters: Int = 2): String = {
    val table = s"ivfpqr_idx_${iters}_${dirTag(dir)}"
    ensureBucketedTable(spark, table,
      graft.operators.Quantize.pqResidualIndexTable(spark, dir, iters),
      Seq("c_id"), embFp(spark, dir))()
    table
  }

  /** CHURN-capable PQ index — the last PQ lifecycle phase after
    * build/append/pack: a deleted vector's codes must stop serving NOW,
    * without re-encoding anything. Same shape as
    * [[ensureChurnedAssignmentIndex]] on the LONG format (key =
    * (vec_id, sub) under the vec_id bucketing, so a tombstone batch
    * lands in exactly its victims' buckets and the tombstonesOnly
    * dirty-bucket fast path applies). ADC over the serve view must
    * hash-equal a fresh encode that never saw the deleted vectors —
    * deletes cannot resurface in a top-k, and the packed fold applies
    * downstream of the serve view unchanged. */
  def ensureChurnedPqIndex(spark: SparkSession, dir: String,
      iters: Int = 2): String = {
    lazy val codes = graft.operators.Quantize.pqIndexTable(spark, dir, iters)
      .select("vec_id", "nrm", "sub", "code")
    churned(spark, s"pq_idx_chn_${iters}_${dirTag(dir)}", codes,
      col("vec_id") % 10 === 0, Seq("vec_id", "sub"), Seq("vec_id"),
      embFp(spark, dir))
  }
}
