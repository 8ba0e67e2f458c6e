package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Backfill, RunMetrics}

/** X7 observability: task-level metrics fold into pollable counters. */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("instrumented backfill run reports rows read and tasks, no failures") {
    val (n, m) = RunMetrics.instrument(spark) {
      Backfill.run(spark, sf).count()
    }
    assert(n > 0)
    assert(m.jobs >= 1 && m.failedJobs == 0)
    assert(m.tasks >= 1 && m.failedTasks == 0)
    // the feed scanned at least its own row count from parquet
    assert(m.inputRecords >= n, s"inputRecords=${m.inputRecords} feed=$n")
    assert(m.inputBytes > 0)
    assert(m.render.contains("failed"))
  }

  test("warm index serves run in three jobs each: bm25Batch and " +
      "probedTopKForIds (one per shuffle or broadcast, one result)") {
    val R = graft.operators.Retrieval
    val S = graft.operators.Similarity
    def bm25() = R.bm25Batch(spark, sf, R.QueryBatch, 10).collect()
    def ann() = S.probedTopKForIds(spark, sf, R.QueryBatch.map(_._1), 10)
      .collect()
    // the first calls build the impact memo, the assignment memo and
    // the codebook artifact; the pinned counts are the warm serve's
    bm25(); ann()
    val (b, mb) = RunMetrics.instrument(spark)(bm25())
    val (a, ma) = RunMetrics.instrument(spark)(ann())
    assert(b.nonEmpty && a.nonEmpty)
    // bm25Batch: the impact scan's shuffle, the fold's shuffle, the
    // window + TakeOrderedAndProject result
    assert(mb.jobs == 3 && mb.failedJobs == 0, mb.render)
    // probedTopKForIds: the probe broadcast, the list scan's TopK
    // shuffle, the result
    assert(ma.jobs == 3 && ma.failedJobs == 0, ma.render)
  }

  test("listener is removed after the run (no counters tick afterwards)") {
    import org.apache.spark.sql.graftshim.Shim
    val l = new RunMetrics
    spark.sparkContext.addSparkListener(l)
    Tables.load(spark, sf, "orders").count()
    Shim.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(l)
    val frozen = l.snapshot()
    assert(frozen.tasks >= 1)
    Tables.load(spark, sf, "orders").count() // after removal
    Shim.drainListenerBus(spark)
    assert(l.snapshot() == frozen)
  }
}
