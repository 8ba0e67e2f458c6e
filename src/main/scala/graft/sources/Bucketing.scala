package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Bucketed (pre-partitioned) tables for shuffle-free co-located joins —
  * the 100 TB answer to repeatedly joining entity tables on the same key
  * (merchant_id in the reference): pay the clustering once at write
  * time, then every subsequent join on the bucket key needs NO exchange
  * on either side (BucketingSpec asserts the plan is exchange-free).
  */
object Bucketing {

  /** Write both sides bucketed+sorted on the join key into the session
    * catalog (native data-source tables — no Hive needed). */
  def writeBucketed(spark: SparkSession, dir: String, buckets: Int = 8): Unit = {
    Tables.load(spark, dir, "orders").write.mode("overwrite")
      .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bkt")
    Tables.load(spark, dir, "customer").write.mode("overwrite")
      .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bkt")
  }

  /** Join the bucketed tables: sort-merge (hinted past the broadcast
    * chooser to show the bucketing effect) with zero exchanges. */
  def colocatedJoin(spark: SparkSession): DataFrame = {
    val o = spark.table("orders_bkt")
    val c = spark.table("customer_bkt")
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .select(o("o_orderkey"), o("o_custkey"), c("c_name"), o("o_totalprice"))
  }

  /** The corpus LSH band index as a BUCKETED table — the production
    * shape of [[graft.operators.Dedup.incrementalPairs]]'s static side
    * at 100 TB: clustering the index on `band_key` once at write time
    * means each increment's probe join needs no exchange on the
    * (enormous) corpus side — only the new batch's bands shuffle into
    * the corpus's bucketing. Pays the clustering once per index
    * refresh, amortized over every nightly increment. Bucketed on BOTH
    * join keys — a subset bucketing gets discarded by the planner's
    * bucketed-scan chooser for a (band_id, band_key) join. */
  def writeBandIndexBucketed(spark: SparkSession, dir: String,
      buckets: Int = 8): Unit =
    graft.operators.Dedup.minhashCappedBands(spark, dir)
      .write.mode("overwrite")
      .bucketBy(buckets, "band_id", "band_key").sortBy("band_id", "band_key")
      .saveAsTable("corpus_bands_bkt")

  /** New-batch bands probing the bucketed corpus index: the increment's
    * candidate join with the corpus side exchange-free
    * (BucketingSpec asserts ≤ 1 exchange, on the new side only). */
  def incrementalProbeColocated(spark: SparkSession,
      newBands: DataFrame, table: String = "corpus_bands_bkt"): DataFrame = {
    val corpus = spark.table(table)
    newBands.hint("merge")
      .join(corpus.withColumnRenamed("doc_id", "corpus_id"),
        Seq("band_id", "band_key"))
      .select("doc_id", "corpus_id")
  }

  /** Build-once bucketed CORPUS band index for
    * [[graft.operators.Dedup.incrementalPairsBucketed]] — memo
    * semantics at the catalog level: one table per dataset dir (name
    * carries a dir discriminator), built only if absent, so increments
    * re-probe an existing index and never pay the O(corpus) build. The
    * harness's corpus is `doc_id % 10 != 0` (the batch-id split the
    * production table would carry as a column). Returns the table
    * name. */
  def ensureCorpusBandIndex(spark: SparkSession, dir: String,
      maxBucket: Int = 200, buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.col
    val table = s"corpus_bands_bkt_${maxBucket}_${dirTag(dir)}"
    ensureBandIndexFrom(spark, table,
      graft.operators.Dedup.minhashCappedBands(spark, dir, maxBucket)
        .filter(col("doc_id") % 10 =!= 0),
      buckets, docsFp(spark, dir))
    table
  }

  /** Source fingerprints for the two tables the index families derive
    * from — text indexes read `documents`, ANN/PQ indexes read
    * `embeddings`. Per-source (not whole-dir) so a re-crawl of one
    * doesn't force rebuilding the other family's indexes. */
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
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.graftshim.Shim.defaultTablePath(spark, table))
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

  private def tableFingerprint(spark: SparkSession,
      table: String): Option[String] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.get(FingerprintProp)

  /** True (and drops the table + companions) when `table` exists but
    * was built from sources that no longer match `fingerprint` — or
    * predates fingerprinting entirely, which is indistinguishable from
    * stale and equally cheap to rebuild (derived cache). */
  private def dropIfStale(spark: SparkSession, table: String,
      fingerprint: Option[String], companions: Seq[String] = Nil): Unit =
    fingerprint.foreach { fp =>
      if (spark.catalog.tableExists(table) &&
          !tableFingerprint(spark, table).contains(fp)) {
        (table +: companions).foreach { t =>
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
      df: => DataFrame, bucketCols: Seq[String], buckets: Int = 8,
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
        df.write.mode("overwrite")
          .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .saveAsTable(tmp)
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
      bands: => DataFrame, buckets: Int = 8,
      fingerprint: Option[String] = None): Unit =
    ensureBucketedTable(spark, table, bands,
      Seq("band_id", "band_key"), buckets, fingerprint)()

  /** Index maintenance — the other half of the incremental-dedup loop:
    * after an increment is verified, APPEND its bands into the corpus
    * index so increment N+1 sees increment N's docs as corpus. An
    * append-mode bucketed write clusters only the new batch's rows
    * into new per-bucket files next to the existing ones (Spark groups
    * multiple files per bucket at read time) — the existing index
    * files are untouched, no rebuild (BucketingSpec asserts the
    * pre-append files survive byte-identical). The bucket spec must
    * match the table's or Spark rejects the write — the guard against
    * silently de-clustering the index. */
  def appendToBandIndex(spark: SparkSession, table: String,
      newBands: DataFrame, buckets: Int = 8): Unit =
    newBands.select("doc_id", "band_id", "band_key")
      .write.mode("append")
      .bucketBy(buckets, "band_id", "band_key").sortBy("band_id", "band_key")
      .saveAsTable(table)

  // ------------------------------------------- bucketed postings catalog

  /** The E16 postings index as a token-BUCKETED catalog table — the
    * production serving shape: a query's `token IN (…)` filter bucket-
    * prunes the scan (only the matching buckets' files open), and joins
    * on token need no exchange on the index side. Build-once per
    * dataset over the corpus slice (`doc_id % 10 != 0` — the batch-id
    * split the production table would carry as a column), then the
    * harness increment (`% 10 == 0`) folds in via
    * [[appendToPostingsIndex]] exactly once, inside the build guard —
    * so the maintained table always equals the FULL corpus postings and
    * re-invocations never double-append. Returns the table name. */
  def ensureMaintainedPostingsIndex(spark: SparkSession, dir: String,
      buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.col
    val table = s"postings_bkt_${dirTag(dir)}"
    lazy val posts = graft.operators.Retrieval.postingsTable(spark, dir)
    ensureBucketedTable(spark, table,
      posts.filter(col("doc_id") % 10 =!= 0), Seq("token"), buckets,
      docsFp(spark, dir)) { t =>
      appendToPostingsIndex(spark, t,
        posts.filter(col("doc_id") % 10 === 0), buckets)
    }
    table
  }

  /** Postings-index maintenance — the retrieval twin of
    * [[appendToBandIndex]]: after a new document batch is ingested,
    * append its (token, doc_id, tf) postings into the bucketed index.
    * The append clusters only the new rows into new per-bucket files
    * next to the existing ones (existing files untouched — no rebuild;
    * BucketingSpec asserts byte-identity). The bucket spec must match
    * the table's or Spark rejects the write. */
  def appendToPostingsIndex(spark: SparkSession, table: String,
      newPostings: DataFrame, buckets: Int = 8): Unit =
    newPostings.select("token", "doc_id", "tf")
      .write.mode("append")
      .bucketBy(buckets, "token").sortBy("token")
      .saveAsTable(table)

  /** The positional-postings twin of [[ensureMaintainedPostingsIndex]]:
    * (token, doc_id, positions) bucketed by token, corpus slice built
    * once, the new-doc batch appended inside the build guard. Serves
    * `phrase_index_maintained`. */
  def ensureMaintainedPositionalIndex(spark: SparkSession, dir: String,
      buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.col
    val table = s"positional_bkt_${dirTag(dir)}"
    lazy val posts = graft.operators.Retrieval.positionalPostings(spark, dir)
    ensureBucketedTable(spark, table,
      posts.filter(col("doc_id") % 10 =!= 0), Seq("token"), buckets,
      docsFp(spark, dir)) { t =>
      appendToPositionalIndex(spark, t,
        posts.filter(col("doc_id") % 10 === 0), buckets)
    }
    table
  }

  /** Positional-index maintenance: bucket-preserving append of a new
    * batch's (token, doc_id, positions) rows — no rebuild. */
  def appendToPositionalIndex(spark: SparkSession, table: String,
      newPostings: DataFrame, buckets: Int = 8): Unit =
    newPostings.select("token", "doc_id", "positions")
      .write.mode("append")
      .bucketBy(buckets, "token").sortBy("token")
      .saveAsTable(table)

  // ------------------------------------------ hot-token salting (skew)

  /** SALTED postings index — the stopword-skew answer for the
    * token-bucketed catalog: bucketing by raw token puts a stopword's
    * ENTIRE posting list in one bucket, so at 100 TB one bucket is
    * TB-scale while the median is MBs (the minhash mega-bucket problem,
    * on the serving side). Tokens whose df exceeds `hotDf` shard across
    * `salts` sub-keys instead — `shard_key = token#pmod(hash(doc_id),
    * salts)` — so no bucket ever holds more than ~1/salts of the
    * hottest list; cold tokens keep `shard_key = token` and their
    * single-bucket pruning. The hot-token list (the Zipf head — tiny by
    * construction) lands in `<table>_hot` for the serve side to expand
    * filters with. BucketingSpec pins the skew bound and serve-path
    * equivalence; NOTES.md "Round 7: hot-token (Zipf stopword) bucket
    * skew + salting" records the byte spread on a Zipf corpus (17.7x
    * max/median unsalted, 2.3x salted).
    *
    * The df threshold is a BUILD-time decision; re-sharding a token
    * that later crosses the threshold is an index-maintenance job
    * (rewrite that token's rows under salted keys — O(one posting
    * list), the same economics as a churn compaction). */
  def writeSaltedPostingsIndex(spark: SparkSession, table: String,
      posts: DataFrame, hotDf: Long, salts: Int = 8,
      buckets: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    posts.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") > hotDf)
      .write.mode("overwrite").saveAsTable(s"${table}_hot")
    saltedShards(spark, table, posts, salts)
      .write.mode("overwrite")
      .bucketBy(buckets, "shard_key").sortBy("shard_key")
      .saveAsTable(table)
    // the shard count is part of the TABLE's identity, recorded on the
    // table itself: the serve-side hot-token expansion must enumerate
    // exactly the build's shard keys, and a parallel default argument
    // would silently drop shards the moment one side's default moved
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$SaltsProp'='$salts')")
    ()
  }

  /** Table property recording a salted index's shard count — written
    * at build, read by [[saltedFilter]], so serve and build can never
    * disagree on the hot-token expansion. */
  val SaltsProp = "graft.salts"

  /** Shard-key a postings frame under `table`'s hot policy: hot tokens
    * split by doc hash, cold tokens keep their own key. Payload columns
    * beyond (token, doc_id, tf) — e.g. the churn schema's (op, seq) —
    * pass through, and the shard derivation is a pure function of
    * (hot policy, doc_id), so a tombstone always lands in the same
    * shard as the rows it deletes (the [[IndexChurn.compact]]
    * same-bucket invariant). */
  private def saltedShards(spark: SparkSession, table: String,
      posts: DataFrame, salts: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val payload = posts.columns.toSeq
    val hot = broadcast(spark.table(s"${table}_hot")
      .select(col("token"), lit(true).as("is_hot")))
    posts.join(hot, Seq("token"), "left")
      .withColumn("shard_key",
        when(col("is_hot"),
          concat(col("token"), lit("#"),
            pmod(hash(col("doc_id")), lit(salts)).cast("string")))
          .otherwise(col("token")))
      .select(("shard_key" +: payload).map(col): _*)
  }

  /** Bucket-preserving append into a salted postings index: new rows
    * adopt the BUILD-time hot/cold sharding (the `<table>_hot` list is
    * the frozen policy — a token that crosses the threshold later gets
    * re-sharded by a maintenance job rewriting that one posting list,
    * the same O(one list) economics as a churn compaction, never by the
    * append path silently diverging from the serve-side expansion). */
  def appendToSaltedPostingsIndex(spark: SparkSession, table: String,
      newPostings: DataFrame, salts: Int = 8, buckets: Int = 8): Unit =
    saltedShards(spark, table, newPostings, salts)
      .write.mode("append")
      .bucketBy(buckets, "shard_key").sortBy("shard_key")
      .saveAsTable(table)

  /** Build-once salted postings catalog per dataset —
    * [[writeSaltedPostingsIndex]] over the full corpus postings with the
    * hot threshold at 5% of the corpus (a token in more than 1-in-20
    * docs is stopword-class; the Zipf head above that line is tiny).
    * Serves `bm25_salted`, whose hash-equality with the full-scan BM25
    * twin is the salting-correctness proof. Crash-safe by overwrite:
    * the guard checks the MAIN table, written after the hot table, so a
    * partial build rebuilds both. Returns the table name. */
  def ensureSaltedPostingsIndex(spark: SparkSession, dir: String,
      salts: Int = 8, buckets: Int = 8): String =
    ensureSaltedIndex(spark, s"postings_salt_${salts}_${dirTag(dir)}", dir,
      graft.operators.Retrieval.postingsTable(spark, dir), salts, buckets)

  /** The ONE hot-token policy every salted build freezes (5% of the
    * corpus, floored at 10): the serve-side expansion reads the frozen
    * `_hot` table, so the policy must come from one place or the
    * salted indexes drift from their own expansion. */
  private def hotDfThreshold(nDocs: Long): Long = math.max(nDocs / 20, 10)

  /** Shared build-once guard for the salted postings/positional
    * catalogs: stale-drop, orphan-clear, salted write under the frozen
    * hot policy, fingerprint stamped AFTER the main-table write (a
    * crash in between leaves a fingerprint-less table, which
    * dropIfStale treats as stale → rebuild — same safety as the
    * temp-name path). */
  private def ensureSaltedIndex(spark: SparkSession, table: String,
      dir: String, posts: => DataFrame, salts: Int,
      buckets: Int): String = synchronized {
    val fp = docsFp(spark, dir)
    dropIfStale(spark, table, fp, companions = Seq(s"${table}_hot"))
    if (!spark.catalog.tableExists(table)) {
      clearOrphanedLocation(spark, s"${table}_hot")
      clearOrphanedLocation(spark, table)
      val nDocs = Tables.load(spark, dir, "documents").count()
      writeSaltedPostingsIndex(spark, table, posts,
        hotDf = hotDfThreshold(nDocs), salts, buckets)
      fp.foreach(f => spark.sql(
        s"ALTER TABLE $table SET TBLPROPERTIES ('$FingerprintProp'='$f')"))
    }
    table
  }

  /** Serve-side read of a [[writeSaltedPostingsIndex]] table: each query
    * token expands to its shard keys — `salts` sub-keys if hot (union
    * at read), just itself if cold — and the IN filter bucket-prunes
    * exactly as the unsalted index's did. The hot lookup reads the tiny
    * Zipf-head table once per query batch (driver-side, bounded); a
    * long-running server caches it. */
  def saltedPostings(spark: SparkSession, table: String,
      tokens: Seq[String], salts: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.col
    saltedFilter(spark, table, tokens, salts)
      .select("token", "doc_id", "tf")
  }

  /** Build-once salted POSITIONAL index per dataset — same hot policy
    * and shard derivation as [[ensureSaltedPostingsIndex]], payload
    * (token, doc_id, positions): a stopword's position lists are just
    * as bucket-skewing as its tf postings. Serves `phrase_salted`.
    * Returns the table name. */
  def ensureSaltedPositionalIndex(spark: SparkSession, dir: String,
      salts: Int = 8, buckets: Int = 8): String =
    ensureSaltedIndex(spark, s"positional_salt_${salts}_${dirTag(dir)}", dir,
      graft.operators.Retrieval.positionalPostings(spark, dir), salts,
      buckets)

  /** The shard-expanded IN filter over a salted table, churn metadata
    * (if any) retained — shared by the plain and churn serve paths. */
  def saltedFilter(spark: SparkSession, table: String,
      tokens: Seq[String], saltsFallback: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the BUILD's shard count, read off the table itself ([[SaltsProp]])
    // — with the count EMBEDDED IN THE TABLE NAME as the second source
    // (every builder here names tables `*_salt[chn]_<salts>_<tag>`): a
    // crash between a churned build's rename and its ALTER leaves a
    // property-less table, and falling straight to the parameter
    // default would silently drop hot-token shards from every scan of
    // a non-default-salts build. The parameter is only the last-resort
    // fallback for externally-built tables predating both.
    val salts = org.apache.spark.sql.graftshim.Shim
      .tableProperty(spark, table, SaltsProp)
      .map(_.toInt)
      // anchored to the full builder convention — `..._salt[chn]_<n>_
      // <12-hex dirTag>` at END of name — so a coincidental
      // '_salt_<n>_' substring inside an EXTERNALLY-built table's name
      // (the stated audience of saltsFallback) can't override the
      // caller's explicit shard count with a wrong one
      .orElse("_salt(?:chn)?_(\\d+)_[0-9a-f]{12}$".r
        .findFirstMatchIn(table).map(_.group(1).toInt))
      .getOrElse(saltsFallback)
    val hot = spark.table(s"${table}_hot").select("token")
      .collect().map(_.getString(0)).toSet
    val keys = tokens.flatMap(t =>
      if (hot(t)) (0 until salts).map(i => s"$t#$i") else Seq(t))
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
    * tombstones alike — lands in the same shard and the same bucket,
    * which is exactly [[IndexChurn.compact]]'s invariant. Harness
    * lifecycle inside the build guard mirrors
    * [[ensureChurnedBm25Index]]: full build at seq=0, tombstones for
    * the `doc_id % 10 == 0` batch at seq=1, bucket-local compact;
    * `bm25_salted_churn`'s hash-equality with a fresh build that never
    * saw those docs proves delete-through-salt correctness. Returns the
    * table name. */
  def ensureChurnedSaltedIndex(spark: SparkSession, dir: String,
      salts: Int = 8, buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val table = s"postings_saltchn_${salts}_${dirTag(dir)}"
    lazy val posts = graft.operators.Retrieval.postingsTable(spark, dir)
    // the whole lifecycle (hot policy, seq-0 build, seq-1 tombstones,
    // compaction) runs under ensureBucketedTable's temp-name + rename,
    // so a crash at ANY step leaves no table under the final name and
    // the next call rebuilds — the same completion-observability the
    // advisor required of the maintained builds. The hot table lives
    // under the FINAL name (its overwrite is idempotent on rebuild).
    ensureBucketedTable(spark, table, {
        clearOrphanedLocation(spark, s"${table}_hot")
        val nDocs = Tables.load(spark, dir, "documents").count()
        posts.groupBy("token").agg(count(lit(1)).as("df"))
          .filter(col("df") > hotDfThreshold(nDocs))
          .write.mode("overwrite").saveAsTable(s"${table}_hot")
        saltedShards(spark, table, IndexChurn.stamp(posts, "U", 0L), salts)
      }, Seq("shard_key"), buckets, docsFp(spark, dir)) { t =>
      saltedShards(spark, table,
          IndexChurn.stamp(posts.filter(col("doc_id") % 10 === 0), "D", 1L),
          salts)
        .write.mode("append")
        .bucketBy(buckets, "shard_key").sortBy("shard_key")
        .saveAsTable(t)
      IndexChurn.compact(spark, t, Seq("token", "doc_id"),
        Seq("shard_key"), buckets, tombstonesOnly = true)
    }
    // idempotent identity stamp (the guarded build runs under a temp
    // name, so the property is set on the final table here)
    if (org.apache.spark.sql.graftshim.Shim
        .tableProperty(spark, table, SaltsProp).isEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('$SaltsProp'='$salts')")
    table
  }

  // ----------------------------------------------- churnable index family

  /** CHURN-capable BM25 serving index: the postings table AND the
    * per-doc length table as churnable bucketed tables
    * ([[IndexChurn]] schema: payload ++ (op, seq)) — BM25's stats (N,
    * avgdl, dl) must forget a deleted doc too, or its lengths keep
    * skewing every score, so a doc delete tombstones BOTH tables in one
    * O(deleted postings) append. Build-once per dataset; the harness
    * lifecycle (delete the `doc_id % 10 == 0` batch at seq=1, then
    * compact) runs exactly once inside the build guard, so
    * `bm25_index_churn`'s hash-equality with a fresh build that never
    * saw those docs is the delete+compact correctness proof. The
    * doc-length payload counts token-less docs as dl=0 rows so N stays
    * "all live docs" while avgdl averages docs-with-tokens — the exact
    * semantics of the full-scan twin's separate N/avgdl aggregates.
    * Returns (postingsTable, docLenTable). */
  def ensureChurnedBm25Index(spark: SparkSession, dir: String,
      buckets: Int = 8): (String, String) = {
    import org.apache.spark.sql.functions.{col, size}
    import graft.functions.{TextFunctions => T}
    val h = dirTag(dir)
    val pt = s"postings_chn_$h"
    lazy val posts = graft.operators.Retrieval.postingsTable(spark, dir)
    ensureBucketedTable(spark, pt,
      IndexChurn.stamp(posts, "U", 0L), Seq("token"), buckets,
      docsFp(spark, dir)) { t =>
      // tombstones for a doc batch = its postings rows re-keyed as
      // deletes (production tokenizes the deleted docs' text or reads
      // their postings back; the memo serves the same rows here)
      IndexChurn.append(spark, t,
        posts.filter(col("doc_id") % 10 === 0), "D", 1L, Seq("token"), buckets)
      IndexChurn.compact(spark, t, Seq("token", "doc_id"), Seq("token"),
        buckets, tombstonesOnly = true)
    }
    (pt, ensureChurnedDocLengths(spark, dir, buckets))
  }

  /** The churned DOC-LENGTH table ALONE — split out of
    * [[ensureChurnedBm25Index]] so a serve path that takes tf from its
    * own index (the salted churn serve) can get churn-correct
    * N/avgdl/dl stats without triggering — and discarding — the full
    * unsalted churned-postings build. Same lifecycle: full lengths at
    * seq=0, the `doc_id % 10 == 0` batch tombstoned at seq=1,
    * bucket-local compact. Returns the table name. */
  def ensureChurnedDocLengths(spark: SparkSession, dir: String,
      buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.{col, size}
    import graft.functions.{TextFunctions => T}
    val dt = s"doclen_chn_${dirTag(dir)}"
    lazy val dls = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("dl"))
    ensureBucketedTable(spark, dt,
      IndexChurn.stamp(dls, "U", 0L), Seq("doc_id"), buckets,
      docsFp(spark, dir)) { t =>
      IndexChurn.append(spark, t,
        dls.filter(col("doc_id") % 10 === 0), "D", 1L, Seq("doc_id"), buckets)
      IndexChurn.compact(spark, t, Seq("doc_id"), Seq("doc_id"), buckets,
        tombstonesOnly = true)
    }
    dt
  }

  /** CHURN-capable positional phrase index — the [[IndexChurn]] twin of
    * [[ensureMaintainedPositionalIndex]]: same harness lifecycle as the
    * BM25 churn index (delete the `doc_id % 10 == 0` batch, compact),
    * proven by `phrase_index_churn`'s hash-equality with a fresh build
    * over the remaining docs. Phrase serving reads no corpus stats, so
    * one table suffices. Returns the table name. */
  def ensureChurnedPositionalIndex(spark: SparkSession, dir: String,
      buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.col
    val table = s"positional_chn_${dirTag(dir)}"
    lazy val posts = graft.operators.Retrieval.positionalPostings(spark, dir)
    ensureBucketedTable(spark, table,
      IndexChurn.stamp(posts, "U", 0L), Seq("token"), buckets,
      docsFp(spark, dir)) { t =>
      IndexChurn.append(spark, t,
        posts.filter(col("doc_id") % 10 === 0), "D", 1L, Seq("token"), buckets)
      IndexChurn.compact(spark, t, Seq("token", "doc_id"), Seq("token"),
        buckets, tombstonesOnly = true)
    }
    table
  }

  /** CHURN-capable corpus BAND index — the dedup twin of
    * [[ensureChurnedBm25Index]], closing the delete story for the last
    * append-only serving index family: a deleted or re-ingested doc's
    * LSH bands must stop producing candidates without an index rebuild.
    * Unlike the token-keyed indexes, one doc's band rows scatter across
    * MANY (band_id, band_key) buckets — but each tombstone carries its
    * victim's full (doc_id, band_id, band_key) key, and the bucket cols
    * are a subset of the key cols, so every version lands in its
    * victim's bucket and [[IndexChurn.compact]]'s same-bucket invariant
    * holds; a doc delete dirties at most `bands` buckets (band count,
    * not corpus size). Harness lifecycle inside the crash-atomic build
    * guard: full capped band table at seq=0, tombstones for the
    * `doc_id % 10 == 0` batch at seq=1, bucket-local compact — the
    * served index is exactly the corpus slice, so `dedup_index_churn`'s
    * hash-equality with the append-built corpus index's probe
    * ([[ensureCorpusBandIndex]]) IS the delete-through proof. Returns
    * the table name. */
  def ensureChurnedBandIndex(spark: SparkSession, dir: String,
      maxBucket: Int = 200, buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.col
    val table = s"corpus_bands_chn_${maxBucket}_${dirTag(dir)}"
    lazy val bands =
      graft.operators.Dedup.minhashCappedBands(spark, dir, maxBucket)
    ensureBucketedTable(spark, table,
      IndexChurn.stamp(bands, "U", 0L), Seq("band_id", "band_key"), buckets,
      docsFp(spark, dir)) { t =>
      IndexChurn.append(spark, t, bands.filter(col("doc_id") % 10 === 0),
        "D", 1L, Seq("band_id", "band_key"), buckets)
      IndexChurn.compact(spark, t, Seq("doc_id", "band_id", "band_key"),
        Seq("band_id", "band_key"), buckets, tombstonesOnly = true)
    }
    table
  }

  // ---------------------------------------- bucketed ANN assignment index

  /** The E3 IVF assignment as a c_id-BUCKETED catalog table — the grown
    * form of [[graft.operators.Similarity.assignmentTable]]: the corpus
    * slice assigns once at build; new-vector batches assign ONLY
    * themselves against the frozen memoized centroids and fold in via
    * [[appendToAssignmentIndex]] — exactly how production IVF indexes
    * grow between periodic retrains. The maintained table therefore
    * equals the full-corpus assignment, which the harness proves by
    * hash-equality of `sim_topk_maintained` with the full-build oracle.
    * Returns the table name. */
  def ensureMaintainedAssignmentIndex(spark: SparkSession, dir: String,
      iters: Int = 2, buckets: Int = 8): String = {
    val table = maintainedAssignmentTableName(dir, iters)
    val S = graft.operators.Similarity
    ensureBucketedTable(spark, table,
      S.assignSlice(spark, dir, newBatch = false, iters), Seq("c_id"), buckets,
      embFp(spark, dir)) { t =>
      appendToAssignmentIndex(spark, t,
        S.assignSlice(spark, dir, newBatch = true, iters), buckets)
    }
    table
  }

  /** Assignment-index maintenance: append a new batch's (vec_id, c_id,
    * v, nrm) rows, clustered into the existing c_id bucketing — no
    * rebuild, existing files untouched. */
  def appendToAssignmentIndex(spark: SparkSession, table: String,
      newAssigned: DataFrame, buckets: Int = 8): Unit =
    newAssigned.select("vec_id", "c_id", "v", "nrm")
      .write.mode("append")
      .bucketBy(buckets, "c_id").sortBy("c_id")
      .saveAsTable(table)

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
      iters: Int = 2, buckets: Int = 8): String = {
    val table = s"pq_idx_bkt_${iters}_${dirTag(dir)}"
    val Q = graft.operators.Quantize
    ensureBucketedTable(spark, table,
      Q.encodeSlice(spark, dir, newBatch = false, iters),
      Seq("vec_id"), buckets, embFp(spark, dir)) { t =>
      appendToPqIndex(spark, t,
        Q.encodeSlice(spark, dir, newBatch = true, iters), buckets)
    }
    table
  }

  /** PQ-index maintenance: bucket-preserving append of a new batch's
    * (vec_id, nrm, sub, code) rows — no rebuild. */
  def appendToPqIndex(spark: SparkSession, table: String,
      newCodes: DataFrame, buckets: Int = 8): Unit =
    newCodes.select("vec_id", "nrm", "sub", "code")
      .write.mode("append")
      .bucketBy(buckets, "vec_id").sortBy("vec_id")
      .saveAsTable(table)

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
    * in-place rewrite. Harness lifecycle in the crash-atomic guard:
    * full assignment at seq=0, tombstones for the `vec_id % 10 == 0`
    * batch at seq=1, bucket-local compact; `sim_topk_churn`'s
    * hash-equality with IVF over the surviving vectors proves deleted
    * vectors never surface in top-k. Returns the table name. */
  def ensureChurnedAssignmentIndex(spark: SparkSession, dir: String,
      iters: Int = 2, buckets: Int = 8, mod: Int = 10): String = {
    import org.apache.spark.sql.functions.col
    // mod is part of the name: two parameterizations are two tables
    val table =
      s"ivf_assign_chn_${iters}_${mod}_${dirTag(dir)}"
    lazy val assigned = graft.operators.Similarity
      .assignmentTable(spark, dir, iters)
      .select("vec_id", "c_id", "v", "nrm")
    ensureBucketedTable(spark, table,
      IndexChurn.stamp(assigned, "U", 0L), Seq("c_id"), buckets,
      embFp(spark, dir)) { t =>
      IndexChurn.append(spark, t, assigned.filter(col("vec_id") % mod === 0),
        "D", 1L, Seq("c_id"), buckets)
      IndexChurn.compact(spark, t, Seq("c_id", "vec_id"), Seq("c_id"),
        buckets, tombstonesOnly = true)
    }
    table
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
      iters: Int = 2, buckets: Int = 8): String = {
    val table = s"ivfpq_idx_${iters}_${dirTag(dir)}"
    lazy val lists = graft.operators.Similarity
      .assignmentTable(spark, dir, iters).select("vec_id", "c_id")
      .join(graft.operators.Quantize.pqIndexTable(spark, dir, iters),
        "vec_id")
      .select("c_id", "vec_id", "nrm", "sub", "code")
    ensureBucketedTable(spark, table, lists, Seq("c_id"), buckets,
      embFp(spark, dir))()
    table
  }

  /** c_id-bucketed SQ8 inverted lists — the IVF,SQ8 catalog (the third
    * point on the compression axis next to [[ensureIvfPqIndex]]'s
    * 8 B/vector codes and the raw assignment's 512 B vectors: ~80 B of
    * id+norm+scale+64 int8 codes per row). Same serve mechanics: the
    * probe is a literal bucket-pruning `c_id IN (…)` filter, the only
    * shuffle is the per-query top-k window. */
  def ensureIvfSq8Index(spark: SparkSession, dir: String,
      iters: Int = 2, buckets: Int = 8): String = {
    val table = s"ivfsq8_idx_${iters}_${dirTag(dir)}"
    lazy val lists = graft.operators.Similarity
      .assignmentTable(spark, dir, iters).select("vec_id", "c_id")
      .join(graft.operators.Quantize.int8IndexTable(spark, dir), "vec_id")
      .select("c_id", "vec_id", "nrm", "scale", "codes")
    ensureBucketedTable(spark, table, lists, Seq("c_id"), buckets,
      embFp(spark, dir))()
    table
  }

  /** The residual-encoded twin of [[ensureIvfPqIndex]] — same bucketed
    * inverted-lists-of-codes layout, codes from
    * [[graft.operators.Quantize.pqResidualIndexTable]] (IVFADC
    * proper). */
  def ensureIvfPqResidualIndex(spark: SparkSession, dir: String,
      iters: Int = 2, buckets: Int = 8): String = {
    val table = s"ivfpqr_idx_${iters}_${dirTag(dir)}"
    ensureBucketedTable(spark, table,
      graft.operators.Quantize.pqResidualIndexTable(spark, dir, iters),
      Seq("c_id"), buckets, embFp(spark, dir))()
    table
  }

  /** CHURN-capable PQ index — the last PQ lifecycle phase after
    * build/append/pack: a deleted vector's codes must stop serving NOW,
    * without re-encoding anything. Same shape as
    * [[ensureChurnedAssignmentIndex]] on the LONG format (key =
    * (vec_id, sub) under the vec_id bucketing, so a tombstone batch
    * lands in exactly its victims' buckets and the tombstonesOnly
    * dirty-bucket fast path applies): full encode at seq 0, the
    * `vec_id % 10 == 0` batch tombstoned at seq 1, bucket-local
    * compaction. ADC over the serve view must hash-equal a fresh
    * encode that never saw the deleted vectors — deletes cannot
    * resurface in a top-k, and the packed fold applies downstream of
    * the serve view unchanged. */
  def ensureChurnedPqIndex(spark: SparkSession, dir: String,
      iters: Int = 2, buckets: Int = 8): String = {
    import org.apache.spark.sql.functions.col
    val table = s"pq_idx_chn_${iters}_${dirTag(dir)}"
    lazy val codes = graft.operators.Quantize.pqIndexTable(spark, dir, iters)
      .select("vec_id", "nrm", "sub", "code")
    ensureBucketedTable(spark, table,
      IndexChurn.stamp(codes, "U", 0L), Seq("vec_id"), buckets,
      embFp(spark, dir)) { t =>
      IndexChurn.append(spark, t, codes.filter(col("vec_id") % 10 === 0),
        "D", 1L, Seq("vec_id"), buckets)
      IndexChurn.compact(spark, t, Seq("vec_id", "sub"), Seq("vec_id"),
        buckets, tombstonesOnly = true)
    }
    table
  }
}
