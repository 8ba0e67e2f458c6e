package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Semi-structured & reshaping surface: JSON extraction (the inverse of
  * the T3 envelope — `serde_json` round-trip in the reference,
  * `Cargo.toml:23`), pivot, and quantile statistics.
  */
object SemiStructured {

  /** Parse the events `props` JSON column with an explicit schema
    * (from_json — codegen'd Jackson parse, no UDF) and extract a field
    * both typed and via path. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k_typed"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"))
      .orderBy("event_id")

  /** Dead-letter routing — malformed payloads must neither abort a
    * 100 TB job (Spark 4's ANSI mode throws on bad parses) nor silently
    * vanish: every row leaves tagged `ok` with its typed field or
    * `quarantined` with the raw payload retained for replay. One narrow
    * map using `from_json`'s corrupt-record column — PERMISSIVE parses
    * never throw, and a malformed input lands verbatim in the corrupt
    * field, which is both the routing signal and the dead letter. The
    * harness corrupts a deterministic subset in-plan so both paths are
    * observable and oracle-checked. */
  def quarantineSplit(spark: SparkSession, dir: String): DataFrame = {
    val payload = when(col("event_id") % 37 === 0,
      concat(lit("x"), col("props"))).otherwise(col("props"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("_corrupt", StringType)))
    val opts = new java.util.HashMap[String, String]()
    opts.put("columnNameOfCorruptRecord", "_corrupt")
    Tables.load(spark, dir, "events")
      .select(col("event_id"), payload.as("payload"))
      .withColumn("parsed", from_json(col("payload"), schema, opts))
      .select(col("event_id"),
        when(col("parsed._corrupt").isNotNull, lit("quarantined"))
          .otherwise(lit("ok")).as("status"),
        col("parsed.k").as("k_value"),
        col("parsed._corrupt").as("dead_letter"))
      .orderBy("event_id")
  }

  /** Pivot: docs count per lang × source — groupBy+pivot compiles to
    * one hash aggregate with conditional counts (values enumerated, so
    * no second pass). */
  def pivotLangSource(spark: SparkSession, dir: String): DataFrame = {
    val sources = (0 until 10).map(i => s"src$i")
    Tables.load(spark, dir, "documents")
      .withColumn("src", // fold the long tail so the pivot is bounded
        when(col("source").isin(sources.map(_.asInstanceOf[Any]): _*), col("source"))
          .otherwise(lit("other")))
      .groupBy("lang").pivot("src", sources :+ "other").count()
      .na.fill(0L)
      .orderBy("lang")
  }

  /** Fixed-width histogram of order amounts: `width_bucket` binning +
    * one hash aggregate — the scalable distribution profile (no sort,
    * no collect; bin count is a constant). */
  def histogramTotals(spark: SparkSession, dir: String, bins: Int = 20): DataFrame =
    Tables.load(spark, dir, "orders")
      .withColumn("bucket",
        width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(bins)))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Time-spine gap filling: generate the full hourly spine between the
    * stream's min/max event time (sequence + explode — no driver loop),
    * left-join hourly counts, zero-fill the gaps. The shape every
    * time-series rollup needs so missing hours read as 0, not absent. */
  def eventsSpineFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds.select(explode(sequence(col("lo"), col("hi"),
      expr("INTERVAL 1 HOUR"))).as("hour"))
    spine.join(hourly, Seq("hour"), "left")
      .select(col("hour"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("hour")
  }

  /** Exact percentiles (median/p90) of order amounts per status —
    * `percentile` with interpolation, matching DuckDB's quantile_cont. */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(min(col("o_totalprice")), 4).as("p_min"),
        round(max(col("o_totalprice")), 4).as("p_max"))
      .orderBy("o_orderstatus")
}
