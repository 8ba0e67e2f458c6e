package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew handling for large⋈large joins on hot keys (the 100 TB
  * discipline item): the harness query `skew_salted_join` joins a
  * naturally skewed key and lets AQE's sort-merge skew split spread the
  * hot partitions.
  */
object Skew {

  /** Harness face of the skewed join: lineitem (hot keys: one order =
    * up to 7 lines, and the join key has TPC-H's natural skew) ⋈ orders
    * subset.
    *
    * r18 A/B (guide §2.2, VERDICT item 7): a manual key-salted join
    * (big side salted by a row hash, small side replicated `factor`×)
    * moves `factor`× the orders side through the shuffle; AQE's
    * sort-merge skew split handles this fixture's skew with NO
    * replication — measured 0.57 s (salted) vs 0.19 s (plain) warm-min
    * at sf0.1, and at scale the plain form shuffles |orders| instead of
    * 8·|orders|. The query therefore serves the plain join and lets AQE
    * split hot partitions. */
  def saltedJoinQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val li = graft.Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val ord = graft.Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderpriority")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("o_orderpriority"))
      .orderBy("l_orderkey", "l_linenumber")
  }
}
