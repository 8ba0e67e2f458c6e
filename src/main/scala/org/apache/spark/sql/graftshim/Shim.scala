package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Spark internals needed by custom Catalyst
  * expressions (Column ↔ Expression conversion, function registration).
  * Lives under org.apache.spark.sql so the qualified-private members are
  * in scope — the standard technique for out-of-tree Catalyst extensions.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The optimized logical plan behind a DataFrame. */
  def optimized(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan

  /** The executed physical plan behind a DataFrame. */
  def executedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan

  /** Free the storage blocks behind a `localCheckpoint()`ed Dataset.
    * `Dataset.unpersist` is a CacheManager operation and a NO-OP for
    * checkpoint blocks (they are persisted directly on the underlying
    * RDD, outside the cache manager), so an iterative loop that
    * checkpoints per round needs this to reclaim superseded rounds
    * promptly instead of waiting for the ContextCleaner to notice the
    * RDD was GC'd. After this call the Dataset is UNRECOVERABLE (the
    * checkpoint truncated its lineage) — only free state that nothing
    * will read again.
    *
    * Deliberately matches ONLY a root-level `LogicalRDD` (looking
    * through column-pruning `Project`s, the shape `localCheckpoint()`
    * followed by a `select` produces): a whole-plan traversal would
    * also free any checkpoint-backed or createDataFrame-from-RDD input
    * buried deeper in the caller's plan — blocks the caller may still
    * need, and a freed localCheckpoint is unrecoverable. A DataFrame
    * that is not itself a checkpoint is a safe no-op here. */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = {
    @annotation.tailrec
    def root(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      p match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          root(pr.child)
        case _ => ()
      }
    root(df.queryExecution.analyzed)
  }

  /** Block until the async listener bus has delivered all queued events
    * (`LiveListenerBus.waitUntilEmpty` is private[spark]) — needed to
    * snapshot listener-fed metrics right after an action returns. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The partitioning of a bare partitioned JDBC relation, as its
    * reader options state it: the partition column, the bound strings
    * and the partition count. `boundValue` reads a bound string the
    * way `JDBCRelation.columnPartition` reads these (integral value,
    * epoch day, or epoch micros in the session time zone), so a window
    * can be measured against the span; it is None for a string the
    * column's type cannot hold. */
  final case class JdbcStrides(column: String, lower: String,
      upper: String, numPartitions: Int, boundValue: String => Option[Long])

  /** `df`'s JDBC relation when `df` is exactly one partitioned JDBC
    * read (no projection, filter or other operator on top). */
  private def jdbcRelation(df: org.apache.spark.sql.DataFrame): Option[(
      org.apache.spark.sql.execution.datasources.LogicalRelation,
      org.apache.spark.sql.execution.datasources.jdbc.JDBCRelation)] =
    analyzed(df) match {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case r: org.apache.spark.sql.execution.datasources.jdbc.JDBCRelation
              if r.jdbcOptions.partitionColumn.isDefined => Some((lr, r))
          case _ => None
        }
      case _ => None
    }

  private def sessionConf(
      r: org.apache.spark.sql.execution.datasources.jdbc.JDBCRelation) =
    r.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf

  /** [[JdbcStrides]] of a bare partitioned JDBC read; None for any
    * other frame. Reads the relation's resolved schema only: no
    * connection. */
  def jdbcStrides(df: org.apache.spark.sql.DataFrame): Option[JdbcStrides] =
    jdbcRelation(df).flatMap { case (_, r) =>
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
      import org.apache.spark.unsafe.types.UTF8String
      val o = r.jdbcOptions
      val zone = DateTimeUtils.getZoneId(
        sessionConf(r).sessionLocalTimeZone)
      for {
        c <- o.partitionColumn
        lo <- o.lowerBound
        hi <- o.upperBound
        n <- o.numPartitions
        f <- r.schema.find(_.name.equalsIgnoreCase(c))
        read <- (f.dataType match {
          case _: NumericType => Some((v: String) => v.toLongOption)
          case DateType => Some((v: String) =>
            DateTimeUtils.stringToDate(UTF8String.fromString(v)).map(_.toLong))
          case TimestampType => Some((v: String) =>
            DateTimeUtils.stringToTimestamp(UTF8String.fromString(v), zone))
          case _ => None
        }): Option[String => Option[Long]]
      } yield JdbcStrides(c, lo, hi, n, read)
    }

  /** `df`, a bare partitioned JDBC read, split into `numPartitions`
    * strides over [`lower`, `upper`] by Spark's own
    * `JDBCRelation.columnPartition`, over the relation's resolved schema
    * and its other options unchanged: no second connection and no
    * second schema probe. The output attributes are kept. */
  def restrideJdbc(df: org.apache.spark.sql.DataFrame, lower: String,
      upper: String, numPartitions: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JDBCRelation}
    val (lr, r) = jdbcRelation(df).getOrElse(throw new IllegalArgumentException(
      "restrideJdbc needs a bare partitioned JDBC read"))
    val opts = new JDBCOptions(Seq(
        JDBCOptions.JDBC_LOWER_BOUND -> lower,
        JDBCOptions.JDBC_UPPER_BOUND -> upper,
        JDBCOptions.JDBC_NUM_PARTITIONS -> numPartitions.toString)
      .foldLeft(r.jdbcOptions.parameters) { case (m, (k, v)) => m.updated(k, v) })
    val conf = sessionConf(r)
    val parts = JDBCRelation.columnPartition(r.schema, conf.resolver,
      conf.sessionLocalTimeZone, opts)
    ofRows(r.sparkSession, lr.copy(
      relation = r.copy(parts = parts, jdbcOptions = opts)(r.sparkSession)))
  }

  /** A table's catalog metadata — its properties, `bucketSpec`,
    * location and schema (`getTableMetadata` is behind the private[sql]
    * session state). `table` may be database-qualified. */
  def catalogTable(spark: SparkSession, table: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    state.catalog.getTableMetadata(
      state.sqlParser.parseTableIdentifier(table))
  }

  /** The catalog-resolved default managed-table location for `table`
    * in the CURRENT database (`SessionCatalog.defaultTablePath` is
    * private[sql]) — "<warehouse>/<db>.db/<table>" when the session
    * database is not `default`, which a hardcoded warehouse join gets
    * wrong. */
  def defaultTablePath(spark: SparkSession, table: String): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
      .defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .toString
}
