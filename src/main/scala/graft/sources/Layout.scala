package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Physical data-layout operators — the write-side levers that decide
  * how much of 100 TB a query has to READ. Parquet prunes at two
  * levels: partition directories, and per-file/row-group min-max
  * stats. Both only help if the writer CLUSTERED the data so each
  * file covers a narrow slice of the filtered columns.
  *
  *   - [[zValue]]: Morton (Z-order) interleaving of two dimensions —
  *     sorting by it clusters rows so every file covers a small
  *     RECTANGLE of (x, y) space, giving min-max pruning on BOTH
  *     columns from one layout. A single-column sort gives stripes:
  *     perfect pruning on that column, zero on the other. This is the
  *     layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`,
  *     re-expressed as a plain deterministic Catalyst expression (bit
  *     shifts + masks, codegen'd, oracle-checkable).
  *   - [[zorderKey]]: the harness query that computes it over the
  *     events table's (entity, time) dimensions.
  */
object Layout {

  /** Morton/Z-value: interleave the low `bits` bits of two non-negative
    * integer columns (x gets the odd bit positions, y the even) —
    * the native [[graft.functions.ZOrder64]] expression (one codegen'd
    * loop; SQL-callable as `z_order(x, y, bits)`), recomputable
    * bit-identically in ANSI SQL, so the oracle checks it. `bits`=16
    * covers 65536 distinct cells per dimension; the result fits a
    * long. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    graft.functions.ZOrder64.z_order(x.cast("long"), y.cast("long"), bits)

  /** The composed-expression twin of [[zValue]] (shifts + masks +
    * multiplies as a plain expression tree) — kept as the equality
    * witness for the native expression (LayoutSpec pins them equal). */
  def zValueComposed(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** Harness query `zorder_key`: the z-value over the events table's
    * (user_id, hour-of-stream) — the two dimensions an events reader
    * actually filters by (entity and time). Deterministic, fully
    * oracle-checked bit math. */
  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    val hour = floor((unix_timestamp(col("ts")) -
      unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))) / 3600L)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        hour.cast("long").as("stream_hour"))
      .withColumn("zkey", zValue(col("user_id"), col("stream_hour")))
      .orderBy("event_id")
  }
}
