package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.graftshim.Shim

/** S1/S2 — partitioned JDBC source for the production path (the
  * reference reads a Postgres replica through a 5-connection pool with
  * 10k-row LIMIT/OFFSET pages — `src/main.rs:167-170`,
  * `payment_intent.rs:61-71`).
  *
  * Spark-first replacement: ONE partitioned scan per entity, split on
  * `created_at` bounds across `numPartitions` concurrent connections;
  * Catalyst pushes filters/projection into the generated SQL (JDBC
  * `compileFilter`), so the per-merchant predicates reach Postgres
  * exactly like the reference's hand-rendered WHERE clauses — without
  * the O(pages²) OFFSET re-scans (SURVEY.md §4).
  *
  * A request reads only the strides its window can touch: [[within]]
  * re-splits a partitioned read over the window, so a one-week
  * backfill against a table partitioned over years is one query, not
  * `numPartitions` (most of them empty).
  *
  * It runs live against embedded Derby: PipelineSpec's JDBC cases and
  * graftbench's `backfill_jdbc` replica (orders and lineitem). The
  * harness operators read parquet via [[graft.Tables]]; swapping
  * `reader` in is a config change, not a code change.
  */
object Jdbc {
  import graft.pipeline.ConfigBootstrap.Secret

  /** Connection + partitioning config (defaults mirror the reference's
    * tuning: fetchsize 10000 = its page size `main.rs:43-44`; 5
    * partitions = its merchant parallelism `main.rs:46-47`). The
    * password is a [[graft.pipeline.ConfigBootstrap.Secret]] — the S4
    * bootstrap's decrypted credential flows to the reader without ever
    * appearing in a toString/log (the case class renders
    * `Secret(****)`). */
  case class JdbcConfig(
      url: String,
      table: String,
      user: String = "",
      password: Secret = new Secret(""),
      partitionColumn: Option[String] = Some("created_at"),
      lowerBound: Option[String] = None,
      upperBound: Option[String] = None,
      numPartitions: Int = 5,
      fetchSize: Int = 10000)

  /** Render the Spark JDBC reader options (pure — unit-testable without
    * a live database). */
  def options(cfg: JdbcConfig): Map[String, String] = {
    val base = Map(
      "url" -> cfg.url,
      "dbtable" -> cfg.table,
      "user" -> cfg.user,
      "password" -> cfg.password.reveal(),
      "fetchsize" -> cfg.fetchSize.toString,
      "pushDownPredicate" -> "true",
      "pushDownLimit" -> "true")
    val parts = (cfg.partitionColumn, cfg.lowerBound, cfg.upperBound) match {
      case (Some(c), Some(lo), Some(hi)) => Map(
        "partitionColumn" -> c, "lowerBound" -> lo, "upperBound" -> hi,
        "numPartitions" -> cfg.numPartitions.toString)
      case _ => Map.empty[String, String]
    }
    base ++ parts
  }

  def reader(spark: SparkSession, cfg: JdbcConfig): DataFrameReader =
    spark.read.format("jdbc").options(options(cfg))

  def load(spark: SparkSession, cfg: JdbcConfig): DataFrame =
    reader(spark, cfg).load()

  /** `df` restricted to the strides the inclusive window [`start`,
    * `end`] on `column` can touch. When `df` is a bare partitioned JDBC
    * read whose partition column is `column` (case-insensitive), the
    * same relation comes back split over
    * [max(lowerBound, start), min(upperBound, end)] into
    * `clamp(ceil(n · window / span), 1, n)` strides: the user's stride
    * width is kept and the strides outside the window are dropped (a
    * window outside the span reads as one unbounded query). Any other
    * frame, or a bound the column's type cannot read, comes back
    * unchanged.
    *
    * Rows never depend on the bounds: Spark's first stride is open
    * below (NULLs included) and its last open above, so every row still
    * lands in exactly one stride, and the caller's pushed range
    * predicate does the filtering. The split reuses the relation's
    * resolved schema and options ([[Shim.restrideJdbc]]): no second
    * connection or schema probe. */
  def within(df: DataFrame, column: String, start: Option[String],
      end: Option[String]): DataFrame = {
    val restrided = for {
      s <- Shim.jdbcStrides(df) if s.column.equalsIgnoreCase(column)
      lo <- s.boundValue(s.lower)
      hi <- s.boundValue(s.upper) if lo < hi
      from <- start.fold(Option(lo))(s.boundValue)
      to <- end.fold(Option(hi))(s.boundValue)
    } yield {
      val (l, lower) = if (from > lo) (from, start.get) else (lo, s.lower)
      val (u, upper) = if (to < hi) (to, end.get) else (hi, s.upper)
      if (u < l) Shim.restrideJdbc(df, s.lower, s.upper, 1)
      else {
        val n = math.ceil(s.numPartitions.toDouble * (u - l) / (hi - lo))
          .toInt.max(1).min(s.numPartitions)
        if (n == s.numPartitions && l == lo && u == hi) df
        else Shim.restrideJdbc(df, lower, upper, n)
      }
    }
    restrided.getOrElse(df)
  }
}
