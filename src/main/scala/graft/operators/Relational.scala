package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational operators re-expressing the reference backfill's query
  * surface (SURVEY.md §2.1–§2.5) Spark-first.
  *
  * The reference's one query shape —
  * `SELECT * FROM entity WHERE merchant_id = :m AND created_at BETWEEN :s
  * AND :e ORDER BY pk LIMIT n OFFSET k*n`
  * (reference `src/data_transfer/payment_intent.rs:61-71`) — maps to a
  * single partitioned scan with pushed-down predicates; pagination (O2)
  * becomes a `row_number` window only where page semantics are genuinely
  * wanted. The test star schema stands in for the payment tables:
  * `customer` ~ `merchant_key_store`, `orders`/`lineitem` ~ entity tables.
  *
  * Scale notes (100 TB discipline):
  *  - predicates and projections are plain Catalyst expressions → pushed to
  *    the parquet/JDBC scan, no custom code;
  *  - the key-store join (J1, `src/main.rs:190-313`) is a broadcast hash
  *    join — the key store is ~#merchants rows, orders of magnitude smaller
  *    than the entity tables;
  *  - no driver-side loops, no OFFSET re-scans (the reference re-plans the
  *    filtered scan once per page, O(pages²) server work — SURVEY.md §4).
  */
object Relational {

  /** S1+P1+P2+P3+O1: the reference's core parameterized scan
    * (`payment_intent.rs:62-71`): equality on merchant, inclusive
    * created_at range, ordered full-row projection. */
  def backfillScan(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") === lit(42L) &&
        col("o_orderdate").between(lit("1995-01-01").cast("timestamp"),
                                   lit("1999-12-31").cast("timestamp")))
      .orderBy("o_orderkey")

  /** S1+P3+P4: the multi-merchant backfill scan — the reference renders
    * its merchant list into the WHERE clause by hand
    * (`payment_intent.rs:63-64`); here the `isin` stays a Catalyst `In`
    * that reaches BOTH storage flavors' scans: parquet `PushedFilters`
    * and the compiled JDBC `IN (…)` WHERE fragment (PipelineSpec pins
    * the latter against a live Derby database). A short merchant list
    * therefore costs only the selected stripes/rows at the source —
    * never a full-range scan with a post-filter. */
  def backfillScanInList(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_custkey").isin(7L, 42L, 99L, 1234L) &&
        col("o_orderdate").between(lit("1995-01-01").cast("timestamp"),
                                   lit("1999-12-31").cast("timestamp")))
      .orderBy("o_orderkey")

  /** A1: COUNT(*) of the key-store table (`src/main.rs:323-329`). */
  def countKeystores(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer").agg(count(lit(1)).as("cnt"))

  /** A2: per-merchant row counts — one shuffle replaces the reference's N
    * point `COUNT(*)` queries (`payment_intent.rs:36-43`). Map-side partial
    * aggregation keeps the shuffle to one row per (partition, merchant). */
  def countPerMerchant(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate").between(
        lit("1995-01-01").cast("timestamp"), lit("1999-12-31").cast("timestamp")))
      .groupBy("o_custkey").agg(count(lit(1)).as("order_cnt"))
      .orderBy("o_custkey")

  /** P4: key stores for an explicit merchant id list
    * (`src/main.rs:192-206`) — an IN-list filter, pushed to the scan. */
  def keystoreInList(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .filter(col("c_custkey").isin(1L, 7L, 42L, 99L, 101L))
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .orderBy("c_custkey")

  /** J1: entity ⋈ merchant_key_store on merchant_id
    * (`src/main.rs:190-313` drives this as a driver-side nested loop; here
    * a broadcast hash join — the key store is the small side). */
  def backfillJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_nationkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy("o_orderkey")
  }

  /** J1 with runtime Bloom pruning: when the key-store side is filtered
    * (a merchant subset) but too large for an `isin` list, its join keys
    * fold into a few-KB Bloom filter ([[graft.functions.GraftBloom]])
    * that prunes fact rows BEFORE the join shuffle — at 100 TB the
    * shuffle then scales with the dim's selectivity, not the fact table.
    * No false negatives ⇒ result identical to the plain join (the
    * oracle runs the plain join). */
  def bloomJoinPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftBloom
    val dim = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"))
    val bloom = GraftBloom.fromColumn(dim, "c_custkey")
    Tables.load(spark, dir, "orders")
      .filter(GraftBloom.might_contain(col("o_custkey"), bloom))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** J1 (filter-only form): merchants that have entity rows — left-semi,
    * the semantics of the reference's "skip merchants with 0 rows" count
    * check (`payment_intent.rs:44` progress gate). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
    cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** FULL OUTER on partially-overlapping key sets (the reconciliation
    * join: "which merchants exist only in the key store, only in the
    * order stream, or in both"). Disjoint residues make all three row
    * classes observable; the join key coalesces. */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("merchant_id"), col("c_name"))
    val facts = Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") % 5 === 0)
      .groupBy(col("o_custkey").as("merchant_id"))
      .agg(count(lit(1)).as("order_cnt"))
    dims.join(facts, Seq("merchant_id"), "full_outer")
      .select("merchant_id", "c_name", "order_cnt")
      .orderBy("merchant_id")
  }

  /** Complement of [[semiJoin]]: merchants with no entity rows in the
    * window (anti). Scoped to one year so the result is non-trivial —
    * every merchant has SOME order across all history. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
    cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** O2 as a window: the reference's LIMIT/OFFSET page k
    * (`payment_intent.rs:61,65-66`) re-expressed as `row_number` over the
    * page sort key — deterministic (the reference's pagination is not:
    * SURVEY.md §2.5 correctness note). Page 3, page size 100. Only the
    * 300-row prefix is ranked: the sort-plus-limit plans as a
    * TakeOrderedAndProject (per-partition heaps of 300), so the
    * unpartitioned window sees 300 rows, never the whole table on one
    * task — for any page, not only for page ends within Spark's
    * `windowGroupLimitThreshold`, where its InferWindowGroupLimit rule
    * would insert the same top-k. Both sort null keys first, so the
    * prefix is the window's. */
  def paginationWindow(spark: SparkSession, dir: String): DataFrame = {
    val (page, size) = (3, 100)
    Tables.load(spark, dir, "orders")
      .orderBy("o_orderkey").limit(page * size)
      .withColumn("rn",
        row_number().over(Window.orderBy("o_orderkey")).cast("long"))
      .filter(col("rn") > (page - 1) * size)
      .select("rn", "o_orderkey", "o_custkey", "o_orderstatus")
  }

  /** T5: tenant stamping (`src/main.rs:129,135`; `payment_intent.rs:103`)
    * — a literal column, plus the entity tag used for topic routing. */
  def tenantTag(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("tenant", lit("public"))
      .withColumn("entity", lit("payment_intent"))
      .select("event_id", "tenant", "entity", "event_type", "user_id")
      .orderBy("event_id")

  /** Point-in-time enrichment via the custom AS-OF join operator
    * ([[graft.plans.AsOf]]): each event picks up the latest order of the
    * same merchant at-or-before the event time. The right side is
    * pre-deduped to one row per (merchant, time) so the as-of pick is
    * deterministic (ties on the time axis are otherwise arbitrary —
    * SURVEY.md §2.5's non-unique-sort-key lesson). */
  def asofEventOrder(spark: SparkSession, dir: String): DataFrame = {
    // timed source: an event with no time has no "latest order BEFORE it"
    val ev = Tables.loadTimedEvents(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("t", unix_micros(col("ts")))
    // r18 (guide §2.4 "two operations keyed the same way share one
    // exchange"): cluster by the AS-OF key before the dedup aggregate —
    // HashPartitioning(o_custkey) satisfies both the groupBy's
    // clustering (o_custkey ⊆ group key) and the as-of join's required
    // distribution, so the right side reaches the merge with ONE
    // exchange instead of two (the agg's (custkey, date) exchange plus
    // a re-cluster on custkey). Bytes are unchanged: the group key is
    // nearly unique per row here, so the removed exchange carried the
    // whole aggregate output anyway.
    val ord = Tables.load(spark, dir, "orders")
      .repartition(col("o_custkey"))
      .groupBy("o_custkey", "o_orderdate")
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .withColumn("ot", unix_micros(col("o_orderdate").cast("timestamp")))
    graft.plans.AsOf.join(spark, ev, ord,
      ev("user_id"), ord("o_custkey"), ev("t"), ord("ot"))
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        col("o_orderdate"))
      .orderBy("event_id")
  }

  /** Forward as-of: each order picks up the merchant's FIRST event
    * at-or-after the order time — the "next interaction after purchase"
    * attribution query. Right side pre-deduped to one row per
    * (user, time) so the pick is deterministic. */
  def asofOrderNextEvent(spark: SparkSession, dir: String): DataFrame = {
    // timed contract (Tables.loadTimedEvents's rule, applied to the
    // ORDER side here): an order with no timestamp has no "first event
    // at-or-after it" — excluded from the as-of, on both engines
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("ot", unix_micros(col("o_orderdate").cast("timestamp")))
    // same one-exchange clustering as asofEventOrder's order side (r18)
    val ev = Tables.load(spark, dir, "events")
      .repartition(col("user_id"))
      .groupBy("user_id", "ts")
      .agg(min(col("event_id")).as("event_id"))
      .withColumn("t", unix_micros(col("ts")))
    graft.plans.AsOf.join(spark, ord, ev,
      ord("o_custkey"), ev("user_id"), ord("ot"), ev("t"), forward = true)
      .select(col("o_orderkey"), col("o_custkey"), col("event_id"),
        col("ts").as("next_event_ts"))
      .orderBy("o_orderkey")
  }

  /** Top-k per group (window): top 3 orders per merchant by amount —
    * the canonical analytics query downstream ClickHouse consumers run on
    * the backfilled topics (SURVEY.md §2.7: free via Spark built-ins). */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rk")
  }
}
