package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.sources.IndexChurn

/** Index-churn machinery: tombstone/supersede semantics of the serve
  * view, replay idempotence, and bucket-local compaction (untouched
  * buckets byte-identical, mid-compaction states serve-consistent). */
class ChurnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def location(table: String): String =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(col("col_name") === "Location")
      .collect()(0).getString(1).stripPrefix("file:")

  private def files(table: String): Set[(String, Long)] =
    new java.io.File(location(table)).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length())).toSet

  private def bucketOf(token: String, buckets: Int = 8): Int = {
    import spark.implicits._
    Seq(token).toDF("token")
      .select(IndexChurn.bucketIdExpr(Seq(col("token")), buckets))
      .head().getInt(0)
  }

  test("bucketIdExpr reproduces bucketed file placement exactly") {
    import spark.implicits._
    val table = "churn_bucket_pin_t"
    try {
      // repartition(1) keeps the write to 8 files (one per bucket) —
      // default parallelism would write up to partitions×buckets files
      (1L to 500L).map(i => (s"tok$i", i)).toDF("token", "doc_id")
        .repartition(1)
        .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
        .saveAsTable(table)
      // ONE job over the whole location (input_file_name carries the
      // bucket id) instead of a read+count per file — this test was 20 s
      // of per-file job overhead for a 500-row fixture
      val rows = spark.read.parquet(location(table))
        .select(element_at(split(input_file_name(), "/"), -1).as("fname"),
          IndexChurn.bucketIdExpr(Seq(col("token")), 8).as("bb"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val b = IndexChurn.bucketOfFile(r.getString(0))
        assert(b.isDefined, s"no bucket id in ${r.getString(0)}")
        assert(b.get === r.getInt(1),
          s"bucketIdExpr disagrees with file placement for ${r.getString(0)}")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  private def seed(table: String): Unit = {
    import spark.implicits._
    val payload = (1L to 200L).map(i => (s"tok${i % 20}", i, 1L))
      .toDF("token", "doc_id", "tf")
    IndexChurn.stamp(payload, "U", 0L)
      .write.mode("overwrite").bucketBy(8, "token").sortBy("token")
      .saveAsTable(table)
  }

  test("serve view: update supersedes, delete drops, replay collapses") {
    import spark.implicits._
    val table = "churn_life_t"
    try {
      seed(table)
      // seq 1: update (tok1, 1) to tf=5; seq 2: delete (tok2, 2)
      IndexChurn.append(spark, table,
        Seq(("tok1", 1L, 5L)).toDF("token", "doc_id", "tf"),
        "U", 1L)
      IndexChurn.append(spark, table,
        Seq(("tok2", 2L, 0L)).toDF("token", "doc_id", "tf"),
        "D", 2L)
      def servedMap() = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val s1 = servedMap()
      assert(s1(("tok1", 1L)) === 5L, "update did not supersede")
      assert(!s1.contains(("tok2", 2L)), "tombstone did not delete")
      assert(s1(("tok3", 3L)) === 1L)
      assert(s1.size === 199)
      // at-least-once replay: the SAME (key, seq) rows land twice;
      // the serve view must collapse them, not double anything
      IndexChurn.append(spark, table,
        Seq(("tok1", 1L, 5L)).toDF("token", "doc_id", "tf"),
        "U", 1L)
      assert(servedMap() === s1, "replayed batch changed the serve view")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compact: only dirty buckets rewritten, untouched byte-identical") {
    import spark.implicits._
    val table = "churn_compact_t"
    try {
      seed(table)
      // churn exactly two keys, both under tok1 — one bucket is dirty
      IndexChurn.append(spark, table,
        Seq(("tok1", 1L, 7L)).toDF("token", "doc_id", "tf"),
        "U", 1L)
      IndexChurn.append(spark, table,
        Seq(("tok1", 21L, 0L)).toDF("token", "doc_id", "tf"),
        "D", 2L)
      val dirtyBucket = bucketOf("tok1")
      val pre = files(table)
      val servedPre = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      IndexChurn.compact(spark, table, Seq("token", "doc_id"), Seq("token"))
      val post = files(table)
      val preClean = pre.filter { case (n, _) =>
        IndexChurn.bucketOfFile(n).get != dirtyBucket }
      val postClean = post.filter { case (n, _) =>
        IndexChurn.bucketOfFile(n).get != dirtyBucket }
      assert(preClean === postClean,
        "compaction touched a bucket with no churn debt")
      assert(pre.diff(post).nonEmpty, "no dirty-bucket file was replaced")
      // the serve view is unchanged by compaction…
      val servedPost = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(servedPost === servedPre)
      // …and the debt is actually gone: no tombstones, one row per key
      val t = spark.table(table)
      assert(t.filter(col("op") === "D").count() === 0)
      assert(t.groupBy("token", "doc_id").count()
        .filter(col("count") > 1).count() === 0)
      // second compact is a no-op (nothing dirty): files unchanged
      IndexChurn.compact(spark, table, Seq("token", "doc_id"), Seq("token"))
      assert(files(table) === post, "no-debt compaction rewrote files")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("tombstonesOnly detection: clears delete debt, skips tombstone-free buckets") {
    import spark.implicits._
    val table = "churn_tonly_t"
    try {
      seed(table)
      // a delete in tok2's bucket, and an update in a DIFFERENT bucket
      // (picked dynamically so the test can't rot with hash changes):
      // the fast path must rewrite only the tombstone's bucket
      val updIdx = (0 until 20)
        .find(k => bucketOf(s"tok$k") != bucketOf("tok2")).get
      val updTok = s"tok$updIdx"
      val updDoc = if (updIdx == 0) 20L else updIdx.toLong // seed key (tokK, K)
      IndexChurn.append(spark, table,
        Seq(("tok2", 2L, 0L)).toDF("token", "doc_id", "tf"),
        "D", 1L)
      IndexChurn.append(spark, table,
        Seq((updTok, updDoc, 9L)).toDF("token", "doc_id", "tf"),
        "U", 2L)
      def servedSet() = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val pre = servedSet()
      val tombBucket = bucketOf("tok2")
      val filesPre = files(table)
      IndexChurn.compact(spark, table, Seq("token", "doc_id"),
        Seq("token"), tombstonesOnly = true)
      // serve view unchanged; the tombstone and its victim are gone
      assert(servedSet() === pre, "fast-path compaction changed the serve view")
      val t = spark.table(table)
      assert(t.filter(col("op") === "D").count() === 0,
        "tombstone survived a tombstonesOnly pass")
      // only the tombstone's bucket was opened: every other bucket's
      // files are byte-identical — including the update's bucket, whose
      // U-over-U debt is the documented (serve-invisible) miss
      val untouchedPre = filesPre.filter { case (n, _) =>
        IndexChurn.bucketOfFile(n).get != tombBucket }
      val untouchedPost = files(table).filter { case (n, _) =>
        IndexChurn.bucketOfFile(n).get != tombBucket }
      assert(untouchedPre === untouchedPost,
        "tombstonesOnly pass rewrote a bucket with no tombstone")
      assert(t.filter(col("token") === updTok && col("doc_id") === updDoc)
        .count() === 2, "expected the superseded version to be left behind")
      // the exact pass then clears the remaining debt, same serve view
      IndexChurn.compact(spark, table, Seq("token", "doc_id"), Seq("token"))
      assert(servedSet() === pre)
      assert(spark.table(table).groupBy("token", "doc_id").count()
        .filter(col("count") > 1).count() === 0,
        "exact pass left multi-version keys")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("mid-compaction overlap (winners + history both present) serves identically") {
    import spark.implicits._
    val table = "churn_overlap_t"
    try {
      seed(table)
      IndexChurn.append(spark, table,
        Seq(("tok4", 4L, 9L)).toDF("token", "doc_id", "tf"),
        "U", 1L)
      val before = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // simulate the compaction crash window: the winner rows have been
      // moved in but the superseded files not yet deleted — i.e. the
      // winners exist TWICE. served() must not change.
      IndexChurn.append(spark, table,
        Seq(("tok4", 4L, 9L)).toDF("token", "doc_id", "tf"),
        "U", 1L)
      val during = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(during === before, "duplicated winners changed the serve view")
      // and the next compaction clears the duplicates for good
      IndexChurn.compact(spark, table, Seq("token", "doc_id"), Seq("token"))
      assert(spark.table(table).groupBy("token", "doc_id").count()
        .filter(col("count") > 1).count() === 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compactIfNeeded: trickle absorbed by appends, threshold triggers the pass") {
    import spark.implicits._
    val table = "churn_tick_t"
    try {
      seed(table) // 200 rows
      // 2 tombstones = 1% debt: below the 5% default, tick must no-op
      IndexChurn.append(spark, table,
        Seq(("tok1", 1L, 0L), ("tok2", 2L, 0L)).toDF("token", "doc_id", "tf"),
        "D", 1L)
      val pre = files(table)
      assert(!IndexChurn.compactIfNeeded(spark, table,
        Seq("token", "doc_id"), Seq("token")), "tick compacted below threshold")
      assert(files(table) === pre, "a no-op tick touched files")
      // push debt over 5%: the tick compacts and clears every tombstone
      IndexChurn.append(spark, table,
        (3L to 13L).map(i => (s"tok${i % 20}", i, 0L))
          .toDF("token", "doc_id", "tf"),
        "D", 2L)
      assert(IndexChurn.compactIfNeeded(spark, table,
        Seq("token", "doc_id"), Seq("token")), "tick skipped above threshold")
      assert(spark.table(table).filter(col("op") === "D").count() === 0)
      assert(IndexChurn.debtFraction(spark, table) === 0.0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("rebucket: serve view survives the swap, new bucket count prunes, debt cleared") {
    import spark.implicits._
    val table = "churn_rebucket_t"
    try {
      seed(table)
      IndexChurn.append(spark, table,
        Seq(("tok1", 1L, 7L)).toDF("token", "doc_id", "tf"),
        "U", 1L)
      IndexChurn.append(spark, table,
        Seq(("tok2", 2L, 0L)).toDF("token", "doc_id", "tf"),
        "D", 2L)
      def servedSet() = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val pre = servedSet()
      IndexChurn.rebucket(spark, table, Seq("token", "doc_id"),
        Seq("token"), newBuckets = 16)
      assert(servedSet() === pre, "rebucket changed the serve view")
      // evolved table: 16 bucket files max id, debt gone, staging gone
      val ids = files(table).map { case (n, _) => IndexChurn.bucketOfFile(n).get }
      assert(ids.max >= 8 && ids.max < 16,
        s"expected 16-bucket layout, saw bucket ids $ids")
      assert(spark.table(table).filter(col("op") === "D").count() === 0)
      assert(!spark.catalog.tableExists(s"${table}__rebucket"))
      assert(!spark.catalog.tableExists(s"${table}__retired"))
      // a key filter still bucket-prunes at the NEW count
      val probe = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .filter(col("token") === "tok3")
      val plan = Shim.executedPlan(probe).toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning after rebucket:\n$plan")
      assert(sel.get.group(2).toInt === 16)
      // appends keep working against the evolved table with DEFAULT
      // args — the bucket count self-resolves from the catalog, so a
      // caller holding the stale pre-evolution count can't corrupt
      // placement (contract: kept original seqs stay below new ones)
      assert(IndexChurn.bucketCountOf(spark, table) === 16)
      IndexChurn.append(spark, table,
        Seq(("tok3", 3L, 0L)).toDF("token", "doc_id", "tf"),
        "D", 3L)
      IndexChurn.compact(spark, table, Seq("token", "doc_id"),
        Seq("token"), tombstonesOnly = true)
      assert(spark.table(table).filter(col("op") === "D").count() === 0,
        "auto-resolved compaction missed the tombstone bucket")
      assert(!servedSet().contains(("tok3", 3L, 1L)),
        "post-rebucket tombstone not honored")
      // crash-window recovery: live table renamed aside, recover heals
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__retired")
      IndexChurn.recoverRebucket(spark, table)
      assert(spark.catalog.tableExists(table))
      assert(servedSet().size === pre.size - 1)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__rebucket")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__retired")
    }
  }

  test("rebucketIfNeeded: bounded buckets no-op, oversized doubles and prunes") {
    import spark.implicits._
    val table = "churn_autorebucket_t"
    try {
      seed(table)
      val before = files(table)
      val big = IndexChurn.maxBucketBytes(spark, table)
      assert(big > 0L)
      // bound above current max: policy must not touch the table
      assert(IndexChurn.rebucketIfNeeded(spark, table,
        Seq("token", "doc_id"), Seq("token"), 8, big + 1) === 8)
      assert(files(table) === before, "no-op policy rewrote files")
      // bound below: evolve to 16 and the new count serves + prunes
      assert(IndexChurn.rebucketIfNeeded(spark, table,
        Seq("token", "doc_id"), Seq("token"), 8, big - 1) === 16)
      assert(IndexChurn.maxBucketBytes(spark, table) < big)
      assert(IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .count() === 200)
      val plan = Shim.executedPlan(
        IndexChurn.served(spark, table, Seq("token", "doc_id"))
          .filter(col("token") === "tok3")).toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined && sel.get.group(2).toInt === 16,
        s"evolved table lost pruning:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__rebucket")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__retired")
    }
  }

  test("served postings query still bucket-prunes under churn") {
    import spark.implicits._
    val table = "churn_prune_t"
    try {
      seed(table)
      IndexChurn.append(spark, table,
        Seq(("tok5", 5L, 0L)).toDF("token", "doc_id", "tf"),
        "D", 1L)
      val probe = IndexChurn.served(spark, table, Seq("token", "doc_id"))
        .filter(col("token").isin("tok1", "tok2", "tok3"))
        .groupBy("token").agg(count(col("doc_id")).as("df"))
      val plan = Shim.executedPlan(probe).toString
      assert(plan.contains("SelectedBucketsCount"),
        s"token filter did not bucket-prune under the churn window:\n$plan")
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).get
      assert(sel.group(1).toInt < sel.group(2).toInt, s"no pruning:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("churned band index: deleted docs never resurface as candidates") {
    val sf = TestSpark.sf
    val t = graft.sources.Bucketing.ensureChurnedBandIndex(spark, sf)
    // the serve view is exactly the corpus band slice: the tombstoned
    // % 10 == 0 batch is gone, everything else survives
    val served = IndexChurn.served(spark, t,
      Seq("band_id", "band_key", "doc_id"))
    assert(served.filter(col("doc_id") % 10 === 0).count() === 0,
      "a deleted doc's bands survived churn")
    val want = graft.operators.Dedup.minhashCappedBands(spark, sf)
      .filter(col("doc_id") % 10 =!= 0).count()
    assert(served.count() === want)
    // compaction is complete: no tombstones, one row per band key —
    // possible because a tombstone carries its victim's full
    // (doc_id, band_id, band_key), landing in the victim's bucket
    assert(spark.table(t).filter(col("op") === "D").count() === 0)
    assert(spark.table(t).groupBy("doc_id", "band_id", "band_key").count()
      .filter(col("count") > 1).count() === 0)
    // and the served probe equals the append-built corpus index's probe
    val churned = graft.operators.Dedup.incrementalPairsChurned(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val appended = graft.operators.Dedup.incrementalPairsBucketed(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(churned === appended,
      "churned-index probe diverges from the append-built corpus probe")
    // no drop: memoized serving index shared with the harness queries
  }

  test("churned assignment index: serve window rides the c_id bucketing") {
    val sf = TestSpark.sf
    val t = graft.sources.Bucketing.ensureChurnedAssignmentIndex(spark, sf)
    val served = IndexChurn.served(spark, t, Seq("c_id", "vec_id"))
    assert(served.filter(col("vec_id") % 10 === 0).count() === 0,
      "a deleted vector survived churn")
    val want = graft.operators.Similarity.assignmentTable(spark, sf)
      .filter(col("vec_id") % 10 =!= 0).count()
    assert(served.count() === want)
    assert(spark.table(t).filter(col("op") === "D").count() === 0)
    // the latest-wins window keys on (c_id, vec_id) — a per-vector
    // grouping, since tombstones share their victim's frozen-centroid
    // c_id — so the c_id bucketing satisfies its distribution and the
    // serve view needs NO exchange over the index scan
    val plan = Shim.executedPlan(served).toString
    assert(!plan.contains("Exchange"),
      s"churn serve view shuffled the bucketed assignment index:\n$plan")
    // no drop: memoized serving index shared with the harness queries
  }

  test("churned salted index: deletes ride shard keys, compaction clears") {
    val sf = TestSpark.sf
    val t = graft.sources.Bucketing.ensureChurnedSaltedIndex(spark, sf)
    try {
      // the deleted batch is gone from the serve view, the survivors
      // are exactly the fresh-build postings of the remaining docs
      val served = IndexChurn.servedFrom(spark.table(t),
        Seq("token", "doc_id"))
      assert(served.filter(col("doc_id") % 10 === 0).count() === 0,
        "a deleted doc's postings survived the salted churn")
      val want = graft.operators.Retrieval.postingsTable(spark, sf)
        .filter(col("doc_id") % 10 =!= 0).count()
      assert(served.count() === want)
      // compaction collapsed every key: no tombstones, no multi-version
      // keys — possible only because a tombstone's shard key equals its
      // victim's (pure function of frozen hot policy + doc_id)
      assert(spark.table(t).filter(col("op") === "D").count() === 0)
      assert(spark.table(t).groupBy("token", "doc_id").count()
        .filter(col("count") > 1).count() === 0)
      // shard keys obey the policy: hot tokens carry a salt suffix,
      // cold tokens are their own key
      val hot = spark.table(s"${t}_hot").select("token")
        .collect().map(_.getString(0)).toSet
      val badShard = spark.table(t)
        .filter(col("token").isin(hot.toSeq: _*) =!=
          col("shard_key").contains("#")).count()
      assert(badShard === 0, "shard keys diverge from the hot policy")
    } finally ()
    // no drop: the table is the memoized serving index other tests and
    // the harness queries share
  }
}
