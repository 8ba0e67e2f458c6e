package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.Shim

/** Churn (delete/update) support for the maintained bucketed serving
  * indexes — the missing half of the append-only growth story in
  * [[Bucketing]]: a deleted or re-ingested document must stop being
  * served without an index rebuild.
  *
  * Contract: a churnable index table is a bucketed catalog table whose
  * schema is `payload ++ (op: string, seq: long)`:
  *
  *   - appends write the payload rows with `op='U'` and a monotonically
  *     increasing batch `seq` ([[append]]);
  *   - deletes append TOMBSTONE rows — same key, `op='D'`, higher `seq`
  *     ([[append]] with `op="D"`); an O(deleted keys) write, never a
  *     rewrite;
  *   - reads go through [[served]]: latest `seq` wins per key (the
  *     [[graft.operators.Cdc.latestWins]] kernel), winning tombstones
  *     drop out. The per-key version count is tiny between compactions,
  *     and a query's key filter (e.g. `token IN (…)`) pushes below the
  *     window, so serving cost stays O(matching postings) and the
  *     bucketed scan still prunes;
  *   - [[compact]] folds history down again: ONLY the buckets that
  *     contain a superseded row or a tombstone are rewritten (bucket-
  *     local file I/O — untouched buckets stay byte-identical, which
  *     ChurnSpec asserts), so compaction cost is O(dirty buckets), not
  *     O(index).
  *
  * Crash-safety of [[compact]] comes from an ordering trick rather than
  * a rename dance: the compacted winners KEEP their original (op, seq)
  * rows, i.e. they are an exact subset of the rows already in the dirty
  * buckets — so the staging files are moved IN first and the superseded
  * files deleted after, and at every instant [[served]] over (old ∪
  * compacted) equals [[served]] over either side alone. A crash mid-
  * compaction leaves duplicate rows that the next compaction (or the
  * serve-time window) collapses; nothing is ever lost or double-served.
  *
  * Single-writer contract: appends, deletes, and compaction of ONE
  * index table must not run concurrently with each other (same contract
  * as [[graft.operators.Cdc.mergeIntoStore]]'s staging recovery).
  * Concurrent READS are SET-consistent at every point — the winner set
  * a reader computes is correct mid-compaction — but not physically
  * wait-free: a reader in another session holding a STALE cached file
  * listing can hit FileNotFoundException after compaction deletes a
  * superseded file (standard Spark behavior for any rewritten table;
  * `REFRESH TABLE` / retry resolves, or set
  * `spark.sql.files.ignoreMissingFiles` for serving sessions), and
  * [[rebucket]]'s two-rename swap has an instant where the catalog
  * name resolves to neither table (a concurrent read at that instant
  * fails fast with TABLE_OR_VIEW_NOT_FOUND and succeeds on retry —
  * rename is metadata-only, so the window is milliseconds).
  *
  * Reference tie-in: the reference delegates exactly this churn problem
  * to ClickHouse's ReplacingMergeTree (latest row per key wins at merge
  * time); [[served]] is that read view and [[compact]] is the
  * background merge, expressed over Spark bucketed tables.
  */
object IndexChurn {

  /** Spark's bucket id for a row: `pmod(murmur3(bucketCols), buckets)`.
    * `functions.hash` IS the hash bucketed writes use (Murmur3, seed
    * 42 — the default seed of HashPartitioning's expression), so this
    * expression reproduces file placement exactly; ChurnSpec pins the
    * agreement against actual bucketed files so a Spark-version drift
    * cannot silently rot compaction. */
  def bucketIdExpr(bucketCols: Seq[Column], buckets: Int): Column =
    pmod(hash(bucketCols: _*), lit(buckets))

  /** Stamp payload rows with churn metadata. Rejects payload columns
    * that collide with the churn schema's own names: `op`/`seq` would
    * be shadowed here, and `rk`/`b` are used internally by the serve
    * window and the dirty-bucket computation — a payload column named
    * `rk` would otherwise be silently clobbered by [[servedFrom]] and
    * physically DROPPED from any bucket [[compact]] ever rewrites. */
  def stamp(payload: DataFrame, op: String, seq: Long): DataFrame = {
    val clash = payload.columns.toSeq.intersect(ReservedCols)
    require(clash.isEmpty,
      s"churn payload uses reserved column name(s): ${clash.mkString(", ")}")
    payload.withColumn("op", lit(op)).withColumn("seq", lit(seq))
  }

  /** Column names the churn machinery owns (schema + internals). */
  val ReservedCols: Seq[String] = Seq("op", "seq", "rk", "b")

  /** The table's actual bucket count, from the catalog. Maintenance
    * entry points resolve the count through this (a `buckets` argument
    * of -1) rather than trusting a caller-supplied constant: after a
    * [[rebucket]] the count CHANGES, and a stale constant would make
    * [[compact]] map rows to the wrong bucket ids — missing dirty
    * buckets while rewriting clean ones (still serve-consistent, but
    * debt never clears). Self-describing beats remembering; [[append]]
    * reads the whole spec the same way. */
  def bucketCountOf(spark: SparkSession, table: String): Int =
    Shim.catalogTable(spark, table).bucketSpec
      .getOrElse(sys.error(s"$table is not bucketed")).numBuckets

  private def resolveBuckets(spark: SparkSession, table: String,
      buckets: Int): Int =
    if (buckets > 0) buckets else bucketCountOf(spark, table)

  /** Append one batch of payload rows (op='U') or tombstones (op='D')
    * into a churnable index table — a bucket-preserving append: the new
    * rows cluster into new per-bucket files next to the existing ones,
    * which are untouched. `seq` must be strictly greater than any seq
    * already in the table for the same keys (the monotonic-batch
    * contract; on a seq tie the serve view lets the tombstone win, and
    * [[winnersOf]]'s row-hash tiebreak makes even a same-op tie pick
    * one winner reproducibly — a violated contract fails
    * deterministically, not randomly). The bucket spec and column order
    * come from the catalog ([[Bucketing.append]]). */
  def append(spark: SparkSession, table: String, payload: DataFrame,
      op: String, seq: Long): Unit =
    Bucketing.append(spark, table, stamp(payload, op, seq))

  /** The serving read: latest seq per key wins (tombstones win seq
    * ties — 'D' < 'U' so `op` ascending puts the delete first), winning
    * tombstones filtered out, churn metadata dropped. A key filter on
    * the result pushes below the window (the key columns are the
    * window's partition spec), so bucket pruning and O(matching
    * postings) serving survive churn. */
  def served(spark: SparkSession, table: String, keyCols: Seq[String]): DataFrame =
    servedFrom(spark.table(table), keyCols)

  /** [[served]] over an arbitrary churn-schema frame (the testable
    * kernel). */
  def servedFrom(df: DataFrame, keyCols: Seq[String]): DataFrame =
    winnersOf(df, keyCols).drop("op", "seq")

  /** THE latest-wins winner selection — the one definition
    * [[servedFrom]], [[compact]] and [[rebucket]] all rank through
    * (three hand-rolled copies of this window would let a tie-break
    * edit desynchronize serve from compaction, breaking the
    * move-in-first crash argument, which depends on compact picking
    * exactly the serve view's winners). Order: seq DESC (latest batch
    * wins), op ASC ('D' < 'U' — a tombstone wins a seq tie, so a
    * violated monotonic-seq contract fails closed), then a hash of the
    * whole row as the final tiebreak so even a DOUBLE violation (two
    * distinct U payloads at one (key, seq)) picks the same winner on
    * every execution — serve before compaction, the compacted rewrite,
    * and every retry agree. For contract-compliant data the hash never
    * decides anything (remaining ties are byte-identical rows). */
  private def winnersOf(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("seq").desc, col("op").asc,
        xxhash64(struct(df.columns.map(col): _*)))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("op") =!= "D")
      .drop("rk")
  }

  /** Rewrite ONLY the buckets holding churn debt (a superseded version
    * or a tombstone), collapsing each key to its winner and dropping
    * tombstones for good. Move-in-before-delete makes every instant
    * serve-consistent (see object doc); untouched buckets are never
    * opened for write.
    *
    * Invariant required of callers: all versions of a key live in the
    * SAME bucket — true whenever the bucket columns are a subset of the
    * key columns, and for the ANN assignment index (bucketed by c_id,
    * keyed by vec_id) exactly when tombstones are assigned under the
    * same frozen centroids as the rows they delete; a centroid change
    * is a RETRAIN (staged full rebuild), never churn.
    *
    * Dirty detection has two modes. The default (`tombstonesOnly =
    * false`) is exact — one groupBy over the whole index finds every
    * superseded version and tombstone — but that aggregate is O(index)
    * and, measured at 100×, costs MORE than the bucket rewrite itself
    * (NOTES.md "Round 7: churn lifecycle economics at 100x": 14.3 s
    * exact vs 7.0 s tombstonesOnly on identical debt).
    * `tombstonesOnly = true` derives the dirty-bucket set from the
    * tombstone rows alone (a column-pruned scan, no shuffle): exactly
    * right for delete-triggered compaction, since an update's D
    * before-image flags its bucket too; the only
    * debt it can miss is U-over-U replay duplicates in buckets with no
    * tombstone — harmless (the serve view collapses them; they clear
    * on that bucket's next tombstone-triggered or exact pass). The
    * rewrite itself collapses ALL debt in a chosen bucket either
    * way. */
  def compact(spark: SparkSession, table: String, keyCols: Seq[String],
      bucketCols: Seq[String], buckets: Int = -1,
      tombstonesOnly: Boolean = false): Unit = {
    spark.sql(s"REFRESH TABLE $table") // see debtFraction: cross-session writes
    val b = resolveBuckets(spark, table, buckets)
    val t = spark.table(table)
    val affected = (
      if (tombstonesOnly)
        t.filter(col("op") === "D")
          .select(bucketIdExpr(bucketCols.map(col), b).as("b"))
          .distinct()
      else
        t.withColumn("b", bucketIdExpr(bucketCols.map(col), b))
          .groupBy(keyCols.map(col): _*)
          .agg(collect_set(col("b")).as("bs"), count(lit(1)).as("n"),
            max((col("op") === "D").cast("int")).as("has_d"))
          .filter(col("n") > 1 || col("has_d") === 1)
          .select(explode(col("bs")).as("b")).distinct()
      ).collect().map(_.getInt(0)).toSet
    if (affected.isEmpty) return
    val hconf = spark.sparkContext.hadoopConfiguration
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(hconf)
    val oldFiles = dataFiles(fs, loc).map(_.getPath)
      .filter(p => bucketOfFile(p.getName).exists(affected.contains))
    // winners keep their original (op, seq) — they are byte-equal rows
    // to ones already present, which is what makes move-in-first safe
    val winners = winnersOf(spark.read.schema(t.schema)
      .parquet(oldFiles.map(_.toString): _*), keyCols)
    // staging keeps the FULL qualified name (like rebucket's): stripping
    // the database would make same-named indexes in two databases share
    // one staging table in the CURRENT database — two concurrent
    // compactions could then move each other's winner files
    val stg = s"${table}__compact"
    spark.sql(s"DROP TABLE IF EXISTS $stg")
    Bucketing.write(winners, stg, "overwrite",
      BucketSpec(b, bucketCols, bucketCols))
    val stgLoc = tableLocation(spark, stg)
    dataFiles(fs, stgLoc).map(_.getPath).foreach { p =>
      val dst = new org.apache.hadoop.fs.Path(loc, p.getName)
      require(fs.rename(p, dst), s"compaction move failed: $p -> $dst")
    }
    oldFiles.foreach(p => fs.delete(p, false))
    spark.sql(s"DROP TABLE IF EXISTS $stg")
    spark.sql(s"REFRESH TABLE $table")
    ()
  }

  /** Tombstone debt of an index: fraction of rows that are tombstones.
    * Two column-pruned counts over the metadata-cached file listing —
    * cheap enough to gate every maintenance tick. (Superseded U
    * versions don't count; they are serve-invisible and clear on the
    * next tombstone-triggered pass of their bucket.)
    *
    * The REFRESH first is load-bearing: maintenance runs next to
    * writers on OTHER sessions (a streaming foreachBatch executes in a
    * cloned session, and an append whose payload plan was built on the
    * outer session commits through THAT session), and a session that
    * never wrote the table can hold a stale cached file listing that
    * silently hides fresh tombstones from the debt count. */
  def debtFraction(spark: SparkSession, table: String): Double = {
    spark.sql(s"REFRESH TABLE $table")
    // one aggregate pass for both counts — this gates EVERY streaming
    // maintenance tick (x3 tables per microbatch), so two separate
    // count() jobs would double the hot path's scheduling + scan cost
    val r = spark.table(table).agg(count(lit(1)).as("n"),
      sum(when(col("op") === "D", 1L).otherwise(0L)).as("d")).head()
    val total = r.getLong(0)
    if (total == 0L) 0.0 else r.getLong(1).toDouble / total
  }

  /** The maintenance-tick policy: compact (fast, tombstone-derived
    * dirty set) only once tombstone debt crosses `threshold` — so a
    * steady trickle of deletes is absorbed by O(deleted) appends and
    * the bucket rewrites amortize over many delete batches, which is
    * what makes churn cheaper than rebuilding (NOTES: at 100× one
    * compaction pass approaches a rebuild for doc-granular deletes;
    * its win IS this amortization). Returns true iff it compacted. */
  def compactIfNeeded(spark: SparkSession, table: String,
      keyCols: Seq[String], bucketCols: Seq[String], buckets: Int = -1,
      threshold: Double = 0.05): Boolean = {
    // heal a crashed rebucket swap FIRST: after a crash between its two
    // renames the live name resolves to nothing, and the debt probe
    // below would throw TABLE_OR_VIEW_NOT_FOUND on every tick — the
    // documented self-healing must not depend on reaching rebucket()
    recoverRebucket(spark, table)
    val run = debtFraction(spark, table) >= threshold
    if (run) compact(spark, table, keyCols, bucketCols, buckets,
      tombstonesOnly = true)
    run
  }

  /** Bucket-count evolution: rebuild the index into `newBuckets`
    * buckets via a staged table and metadata-only rename swap — the
    * lifecycle operation a 100×-grown index eventually needs, since a
    * fixed bucket count stops bounding per-bucket bytes (8 buckets of
    * a 100 TB index are 12 TB each; pruning to 3-of-8 no longer saves
    * the query). Compaction rides along free: only latest-wins
    * winners (original (op, seq) kept — the monotonic-append contract
    * survives) are written to the staging table, so the evolved index
    * starts debt-free.
    *
    * Swap order: build `<t>__rebucket` fully, rename the live table
    * aside to `<t>__retired`, rename the staging table in, drop the
    * retired table. Readers resolve the catalog name, so they see the
    * old complete index until the instant of the swap (rename is a
    * metastore pointer move, not file I/O). Crash recovery, same
    * single-writer contract as [[compact]]: a leftover `__rebucket`
    * is junk (rebuilt next run); a missing live table with a
    * `__retired` present means the crash hit between the two renames —
    * rename `__retired` back before retrying. [[recoverRebucket]]
    * does exactly that and is called on entry. */
  def rebucket(spark: SparkSession, table: String, keyCols: Seq[String],
      bucketCols: Seq[String], newBuckets: Int): Unit = {
    recoverRebucket(spark, table)
    // see debtFraction: a session that never wrote the table can hold a
    // stale file listing — here that would DROP cross-session appends
    // from the rebuilt index, so the refresh is load-bearing
    spark.sql(s"REFRESH TABLE $table")
    val stg = s"${table}__rebucket"
    val retired = s"${table}__retired"
    spark.sql(s"DROP TABLE IF EXISTS $stg")
    Bucketing.write(winnersOf(spark.table(table), keyCols), stg, "overwrite",
      BucketSpec(newBuckets, bucketCols, bucketCols))
    spark.sql(s"DROP TABLE IF EXISTS $retired")
    spark.sql(s"ALTER TABLE $table RENAME TO $retired")
    spark.sql(s"ALTER TABLE $stg RENAME TO $table")
    spark.sql(s"DROP TABLE IF EXISTS $retired")
    ()
  }

  /** Max bytes held by any one bucket of the index — the signal that
    * drives [[rebucketIfNeeded]]. One file-listing pass, no data read. */
  def maxBucketBytes(spark: SparkSession, table: String): Long = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the listing already carries each file's length — a per-file
    // getFileStatus would be an N+1 RPC storm on an object store
    val per = dataFiles(fs, loc)
      .flatMap(st => bucketOfFile(st.getPath.getName).map(_ -> st.getLen))
      .groupBy(_._1).map(_._2.map(_._2).sum)
    if (per.isEmpty) 0L else per.max
  }

  /** The evolution policy: double the bucket count (via [[rebucket]])
    * whenever some bucket's bytes exceed `maxBytes` — the maintenance
    * tick that keeps per-bucket size bounded as an index grows 100×,
    * so bucket pruning keeps meaning something and a single bucket
    * never becomes the scan. The check is one file listing; the
    * rebuild only runs when growth actually crossed the bound.
    * Returns the new bucket count (== `buckets` when nothing ran). */
  def rebucketIfNeeded(spark: SparkSession, table: String,
      keyCols: Seq[String], bucketCols: Seq[String], buckets: Int = -1,
      maxBytes: Long): Int = {
    recoverRebucket(spark, table) // see compactIfNeeded: heal BEFORE touching
    val b = resolveBuckets(spark, table, buckets)
    if (maxBucketBytes(spark, table) > maxBytes) {
      rebucket(spark, table, keyCols, bucketCols, b * 2)
      b * 2
    } else b
  }

  /** Heal the one non-atomic window of [[rebucket]]: live table gone
    * but its retired predecessor present → rename it back. Idempotent;
    * a no-op when the live table exists. */
  def recoverRebucket(spark: SparkSession, table: String): Unit = {
    val retired = s"${table}__retired"
    if (!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(retired))
      spark.sql(s"ALTER TABLE $retired RENAME TO $table")
    ()
  }

  /** Resolved storage location of a catalog table. */
  private def tableLocation(spark: SparkSession,
      table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(Shim.catalogTable(spark, table).location)

  /** Visible data files of a bucketed table directory, WITH their
    * statuses (one listing serves both paths and sizes). */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(loc).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })

  private val BucketInName = "_(\\d{5})\\.".r

  /** Bucket id encoded in a bucketed data file's name
    * (`part-…_00003.c000.snappy.parquet` → 3). */
  def bucketOfFile(name: String): Option[Int] =
    BucketInName.findFirstMatchIn(name).map(_.group(1).toInt)
}
