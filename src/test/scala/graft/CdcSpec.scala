package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Cdc

/** CDC application semantics: snapshot⊕changelog merge vs whole-stream
  * fold, tombstone deletes, at-least-once idempotence, SCD2 interval
  * integrity. */
class CdcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // the driver's events parquet stores ts as int64 epoch-NANOS
  // (TESTDATA.md; Tables.loadEvents converts) — the fixture must too
  private def ts(s: String): Long = Timestamp.valueOf(s).getTime * 1000000L

  /** Tiny changelog: user 1 insert→update, user 2 insert→update→delete,
    * user 3 insert only, user 4 delete-then-reinsert. */
  lazy val fixtureDir: String = {
    import spark.implicits._
    val rows = Seq(
      (10L, ts("2024-01-01 10:00:00"), 1L, "signup", 1.0, "{}"),
      (11L, ts("2024-01-02 10:00:00"), 1L, "purchase", 2.0, "{}"),
      (20L, ts("2024-01-01 11:00:00"), 2L, "signup", 3.0, "{}"),
      (21L, ts("2024-01-02 11:00:00"), 2L, "click", 4.0, "{}"),
      (22L, ts("2024-01-03 11:00:00"), 2L, "error", 5.0, "{}"),
      (30L, ts("2024-01-01 12:00:00"), 3L, "signup", 6.0, "{}"),
      (40L, ts("2024-01-01 13:00:00"), 4L, "error", 7.0, "{}"),
      (41L, ts("2024-01-02 13:00:00"), 4L, "signup", 8.0, "{}"))
    val dir = Files.createTempDirectory("cdcfix").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("snapshot + changelog merge equals whole-stream latest-wins fold") {
    // the associativity claim the cdc_apply oracle states directly
    val merged = Cdc.applySnapshot(spark, TestSpark.sf, cutoff = "2024-03-01")
    val whole = Cdc.applySnapshot(spark, TestSpark.sf, cutoff = "1900-01-01")
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty)
    assert(merged.count() > 0)
  }

  test("tombstones delete, re-inserts revive, updates supersede") {
    val snap = Cdc.applySnapshot(spark, fixtureDir, cutoff = "2024-01-02")
      .select("user_id", "last_type", "last_value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(snap === Set(
      (1L, "purchase", 2.0), // update wins over insert
      (3L, "signup", 6.0),   // untouched insert survives
      (4L, "signup", 8.0)))  // re-insert after tombstone revives
    // user 2's final op is a tombstone → absent
  }

  test("at-least-once replay is idempotent: stale changes lose to the snapshot") {
    import spark.implicits._
    val log = Tables.load(spark, fixtureDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        Cdc.opOf(col("event_type")).as("op"),
        col("event_type").as("last_type"), col("value").as("last_value"))
    val base = Cdc.latestWins(log, Seq("user_id"), Seq("ts", "event_id"))
    // replay the ENTIRE history as a "new" batch over the snapshot
    val replayed = Cdc.applyChangelog(base, log)
    val direct = Cdc.applyChangelog(base, base.limit(0))
    assert(replayed.exceptAll(direct).isEmpty && direct.exceptAll(replayed).isEmpty)
  }

  test("streaming CDC upsert: cross-batch supersede/delete, replay-safe store") {
    import spark.implicits._
    def tss(s: String) = Timestamp.valueOf(s)
    val dir = Files.createTempDirectory("cdcstream").toString
    val store = Files.createTempDirectory("cdcstore").toString
    val b1 = Seq(
      (1L, tss("2024-01-01 10:00:00"), 100L, "I", "signup", 1.0),
      (2L, tss("2024-01-01 10:01:00"), 101L, "I", "signup", 2.0),
      (3L, tss("2024-01-01 10:02:00"), 102L, "I", "signup", 3.0))
      .toDF("user_id", "ts", "event_id", "op", "last_type", "last_value")
    val b2 = Seq(
      (1L, tss("2024-01-02 10:00:00"), 200L, "U", "purchase", 9.0),
      (2L, tss("2024-01-02 10:01:00"), 201L, "D", "error", 0.0),
      (4L, tss("2024-01-02 10:02:00"), 202L, "I", "signup", 4.0))
      .toDF("user_id", "ts", "event_id", "op", "last_type", "last_value")
    b1.repartition(1).write.mode("append").parquet(dir)
    b2.repartition(1).write.mode("append").parquet(dir)
    val changes = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    graft.streaming.StreamingBackfill.cdcUpsertLoop(changes, store, buckets = 4)

    def snap() = Cdc.currentSnapshot(spark, store)
      .select("user_id", "last_type", "last_value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val expected = Set((1L, "purchase", 9.0), (3L, "signup", 3.0),
      (4L, "signup", 4.0)) // user 2 tombstoned in batch 2
    assert(snap() === expected)

    // at-least-once: replaying batch 1 against the store changes nothing
    // (the retained tombstone beats user 2's replayed insert)
    Cdc.mergeIntoStore(b1, store, buckets = 4, batchId = 99L)
    assert(snap() === expected)

    // point lookup prunes to the key's single bucket partition
    val look = Cdc.lookup(spark, store, 1L, buckets = 4)
    assert(look.collect().map(_.getAs[String]("last_type")).toSeq === Seq("purchase"))
    val plan = look.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))

    // schema evolution: a later batch carries a column the store
    // predates — only its buckets rewrite, the snapshot shows the
    // union schema with nulls for untouched keys
    val b3 = Seq((5L, tss("2024-01-03 10:00:00"), 300L, "I", "signup", 5.0, "DE"))
      .toDF("user_id", "ts", "event_id", "op", "last_type", "last_value",
        "country")
    Cdc.mergeIntoStore(b3, store, buckets = 4, batchId = 3L)
    val evolved = Cdc.currentSnapshot(spark, store)
      .select("user_id", "country").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(evolved(5L) === Some("DE"))
    assert(evolved(1L) === None && evolved.size === 4)
  }

  test("CDC upsert loop: a rerun over a drained checkpoint rewrites nothing") {
    import spark.implicits._
    def tss(s: String) = Timestamp.valueOf(s)
    val dir = Files.createTempDirectory("cdcckptsrc").toString
    val store = Files.createTempDirectory("cdcckptstore").toString
    val ckpt = Files.createTempDirectory("cdcckpt").toString
    Seq(
      Seq((1L, tss("2024-01-01 10:00:00"), 100L, "I", "signup", 1.0),
        (2L, tss("2024-01-01 10:01:00"), 101L, "I", "signup", 2.0)),
      Seq((1L, tss("2024-01-02 10:00:00"), 200L, "U", "purchase", 9.0),
        (2L, tss("2024-01-02 10:01:00"), 201L, "D", "error", 0.0))
    ).foreach(rows => rows
      .toDF("user_id", "ts", "event_id", "op", "last_type", "last_value")
      .repartition(1).write.mode("append").parquet(dir))
    def run(): Unit = graft.streaming.StreamingBackfill.cdcUpsertLoop(
      spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, " +
          "event_id BIGINT, op STRING, last_type STRING, last_value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(dir),
      store, buckets = 4, checkpointDir = ckpt)
    // every data file of the store with its length: a replayed batch
    // re-merges its buckets into fresh part files even when the rows
    // are unchanged, so a rewrite shows here, not in the snapshot
    def listing(): Set[(String, Long)] = {
      val root = new org.apache.hadoop.fs.Path(store)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen)).toSet
    }
    def snap() = Cdc.currentSnapshot(spark, store)
      .select("user_id", "last_type", "last_value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    run()
    val (files, rows) = (listing(), snap())
    assert(rows === Set((1L, "purchase", 9.0)))
    assert(files.exists(_._1.endsWith(".parquet")))
    run()
    assert(listing() === files, "rerun over the checkpoint rewrote the store")
    assert(snap() === rows)
  }

  test("multi-bucket merge runs a constant number of jobs, not O(buckets)") {
    import spark.implicits._
    def tss(s: String) = Timestamp.valueOf(s)
    val store = Files.createTempDirectory("cdcjobs").toString
    def mkBatch(day: String, keys: Seq[Long]) = keys.map(u =>
      (u, tss(s"$day 10:00:00"), u * 10, "I", "signup", 1.0))
      .toDF("user_id", "ts", "event_id", "op", "last_type", "last_value")
    // seed: 64 keys spread across the 16 buckets, so every later merge
    // hits an existing base (identical plan shape for both probes)
    Cdc.mergeIntoStore(mkBatch("2024-01-01", 1L to 64L), store,
      buckets = 16, batchId = 0L)
    val byBucket = (1L to 64L).groupBy(u => Cdc.bucketIdOf(u.toString, 16))
    assert(byBucket.size >= 8) // the wide batch genuinely spans many buckets
    // count the jobs a merge schedules, draining the async listener bus
    // deterministically instead of sleeping (ADVICE r6: a hard-coded
    // ceiling + sleep flakes across AQE stage-count changes and bus lag)
    def jobsFor(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.sql.graftshim.Shim.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        org.apache.spark.sql.graftshim.Shim.drainListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get
    }
    // narrow merge: all keys in ONE bucket; wide merge: all 64 keys
    // across >= 8 buckets. O(1)-jobs means the two counts are EQUAL —
    // the assertion survives AQE changing how many jobs one merge is,
    // as long as that number does not grow with the bucket count
    val narrowKeys = byBucket.values.maxBy(_.size)
    val jNarrow = jobsFor(Cdc.mergeIntoStore(
      mkBatch("2024-01-02", narrowKeys), store, buckets = 16, batchId = 1L))
    val jWide = jobsFor(Cdc.mergeIntoStore(
      mkBatch("2024-01-03", 1L to 64L), store, buckets = 16, batchId = 2L))
    assert(jWide === jNarrow,
      s"job count grew with affected buckets: $jNarrow (1 bucket) vs " +
        s"$jWide (${byBucket.size} buckets)")
    // and both sit far below the old per-bucket loop's >= 2k+1 floor
    assert(jWide < 2 * byBucket.size + 1, s"O(buckets) job count: $jWide")
    assert(Cdc.currentSnapshot(spark, store).count() === 64)
  }

  test("store swap recovery: an interrupted rename restores before merging") {
    import spark.implicits._
    def tss(s: String) = Timestamp.valueOf(s)
    val store = Files.createTempDirectory("cdcrecover").toString
    val bId = Cdc.bucketIdOf("1", 4)
    // a second key in the SAME bucket — its survival proves the
    // restored base was read, not just the new batch
    val mate = (2L to 200L).find(k => Cdc.bucketIdOf(k.toString, 4) == bId).get
    val b1 = Seq(
      (1L, tss("2024-01-01 10:00:00"), 1L, "I", "signup", 1.0),
      (mate, tss("2024-01-01 11:00:00"), 2L, "I", "signup", 2.0))
      .toDF("user_id", "ts", "event_id", "op", "last_type", "last_value")
    Cdc.mergeIntoStore(b1, store, buckets = 4, batchId = 0L)
    // simulate the crash window: live bucket renamed aside, not yet
    // replaced — exactly the state between mergeIntoStore's two renames
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, s"bucket=$bId"),
      new org.apache.hadoop.fs.Path(root, s".old_$bId")))
    val b2 = Seq((1L, tss("2024-01-02 10:00:00"), 3L, "U", "click", 9.0))
      .toDF("user_id", "ts", "event_id", "op", "last_type", "last_value")
    Cdc.mergeIntoStore(b2, store, buckets = 4, batchId = 1L)
    val snap = Cdc.currentSnapshot(spark, store)
      .select("user_id", "last_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(snap(1L) === "click")     // new batch applied
    assert(snap(mate) === "signup")  // restored base survived the crash
  }

  test("SCD2 intervals chain: valid_to = next valid_from, one current row per key") {
    val h = Cdc.scdHistory(spark, fixtureDir).collect()
    val byUser = h.groupBy(_.getLong(0))
    byUser.foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r.getTimestamp(3).getTime, r.getLong(1)))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getTimestamp(4) === b.getTimestamp(3))
        case _ =>
      }
      assert(rows.count(_.getBoolean(5)) === 1)
      assert(sorted.last.getBoolean(5))
    }
    assert(h.length === 8)
  }
}
