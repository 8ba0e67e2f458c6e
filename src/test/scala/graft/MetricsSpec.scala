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

  // every bounded serve ranks through Similarity.serveTopK (no
  // range-partition sampling job); sim_topk_incremental keeps its global
  // sort. The pinned counts are the second (warm) run's: the first builds
  // the memos, catalog indexes and codebook artifacts
  private def warmJobs(want: Seq[(String, Long)]): Unit = {
    val got = want.map { case (q, _) =>
      def run() = SparkEntry.queries(q)(spark, sf).collect()
      run()
      val (rows, m) = RunMetrics.instrument(spark)(run())
      assert(rows.nonEmpty && m.failedJobs == 0, s"$q: ${m.render}")
      q -> m.jobs
    }
    assert(got === want)
  }

  test("warm probed ANN serves: job counts of the withProbes family") {
    // each serve picks its probes by a narrow map over the memoized
    // codebook literal (withProbes)
    warmJobs(Seq(
      "sim_topk_ivfpq" -> 7L,
      "sim_topk_ivfpq_res" -> 7L,
      "sim_topk_int8_ivf" -> 5L,
      "mmr_rerank_ivf" -> 8L,
      "semantic_dedup_incremental" -> 8L))
  }

  test("warm ANN serves: job counts of the other sim_topk serves and MMR") {
    warmJobs(Seq(
      "sim_topk_brute" -> 3L,
      "sim_topk_ivf" -> 3L,
      "sim_topk_ivf_kmeans" -> 3L,
      "sim_topk_incremental" -> 5L,
      "sim_topk_maintained" -> 3L,
      "sim_topk_churn" -> 3L,
      "sim_topk_retrained" -> 3L,
      "sim_topk_pq" -> 6L,
      "sim_topk_pq_rerank" -> 9L,
      "sim_topk_pq_maintained" -> 5L,
      "sim_topk_pq_packed" -> 6L,
      "sim_topk_pq_churn" -> 5L,
      "sim_topk_ivfpq_rerank" -> 10L,
      "sim_topk_opq" -> 6L,
      "sim_topk_opq_rerank" -> 9L,
      "sim_topk_int8" -> 3L,
      "sim_topk_int8_rerank" -> 6L,
      "mmr_rerank" -> 8L))
  }

  test("windowed two-entity Derby backfill write runs one task per entity") {
    // two entities over one Derby table, each partitioned 2 ways over
    // 2024: a one-week window touches one stride of each, so the write
    // is 2 tasks, not 2 strides x 2 entities
    val e = PipelineSpec.windowEntity
    val cfg = Backfill.Config(start = Some("2024-03-01"),
      end = Some("2024-03-07"), entities = Seq(e, e.copy(name = "win2")),
      source = (_, _, _) => PipelineSpec.window(parts = 2))
    val out = java.nio.file.Files.createTempDirectory("windowsink").toString
    try {
      val (_, m) = RunMetrics.instrument(spark) {
        graft.sinks.EventSink.write(Backfill.run(spark, sf, cfg),
          graft.sinks.EventSink.Parquet(out))
      }
      assert(m.jobs == 1 && m.failedJobs == 0, m.render)
      assert(m.tasks == 2, m.render)
      assert(spark.read.parquet(out).count() == 12)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
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
