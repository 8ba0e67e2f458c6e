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
