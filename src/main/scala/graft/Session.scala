package graft

import org.apache.spark.sql.SparkSession

/** The one declaration of the session every graft main runs under
  * (`Bench`, `Verify`, `Smoke`, `Explain`, `Probe`; `KillProbe` keeps
  * its own Hive-enabled builder). SessionSpec fails if another main
  * builds a session of its own, so the policy cannot drift apart again:
  *  - `local[cpus]` with one shuffle partition per core;
  *  - `spark.sql.session.timeZone` pinned to UTC, so timestamp results
  *    (and therefore oracle hashes) never depend on the host timezone;
  *  - the ObjectHashAggregate sort fallback raised from 128 groups per
  *    partition to 4194304: TypedImperativeAggregates (TopK/BottomK)
  *    run under ObjectHashAggregateExec, and the default threshold
  *    silently reverts them to the sort-based aggregation they exist to
  *    avoid (NOTES.md "Round 8: kNN graph + semantic clusters": the
  *    200k-vector graph build took 823.6 s under the default and 618 s
  *    raised, Lloyd training included); results are identical
  *    either way, the mains measure and exercise the intended plan;
  *  - the UI off. */
object Session {
  def apply(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
