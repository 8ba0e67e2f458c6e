package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.Tables
import graft.sources.Jdbc

/** The reference-parity deliverable (SURVEY.md §7 M2): the whole
  * backfill run — reference `main()` EP1 (`src/main.rs:59-321`) — as one
  * declarative pipeline, parameterized like its CLI (`main.rs:33-57`):
  * merchant list (or all), date range, batch size, parallelism.
  *
  * Reference shape vs this pipeline:
  *  - its 3-level driver loop (key-store pages → merchants × `parallel`
  *    → LIMIT/OFFSET row pages) becomes ONE partitioned scan per entity
  *    with pushed-down predicates — no driver orchestration, Spark's
  *    scheduler is the concurrency;
  *  - the per-merchant key-store lookup becomes a broadcast hash join;
  *  - per-row `log_*` Kafka produces become a single columnar envelope
  *    projection + a batched sink write;
  *  - fail-fast-no-resume (X6) becomes task retry + atomic job.
  *
  * The harness binds `source` to parquet tables (offline container);
  * production binds the same entity names to [[graft.sources.Jdbc]]
  * configs and `sink` to `format("kafka")`.
  */
object Backfill {

  /** CLI-equivalent parameters (reference `main.rs:33-57`).
    *
    * `source` is the binding seam the reference wires at
    * `main.rs:167-170` (pool → per-entity scan): it resolves an entity
    * to its DataFrame. The default reads the harness parquet layout;
    * production swaps in [[graft.sources.Jdbc]] (`(s, _, e) =>
    * Jdbc.load(s, jdbcConfigFor(e))`) — a config change, not a code
    * change, and the rest of the pipeline (predicates, envelope,
    * increments) composes over it unchanged. */
  case class Config(
      tenant: String = "public",
      merchantIds: Option[Seq[Long]] = None, // None = all merchants
      start: Option[String] = None,          // inclusive, like BETWEEN
      end: Option[String] = None,
      entities: Seq[Entity] = defaultEntities,
      source: (SparkSession, String, Entity) => DataFrame = defaultSource)

  /** Default entity source: the harness parquet tables. */
  val defaultSource: (SparkSession, String, Entity) => DataFrame =
    (s, dir, e) => Tables.load(s, dir, e.table)

  /** One backfill entity: table + identity/merchant/time columns and
    * the envelope payload (mirrors the four dump_* modules). */
  case class Entity(
      name: String,
      table: String,
      keyCol: String,
      merchantCol: String,
      timeCol: String,
      payload: Seq[String])

  /** orders/lineitem stand in for payment_intent/payment_attempt
    * (SURVEY.md §1: capability = full-row dump of wide typed tables). */
  val defaultEntities: Seq[Entity] = Seq(
    Entity("orders", "orders", "o_orderkey", "o_custkey", "o_orderdate",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")),
    Entity("lineitem", "lineitem", "l_orderkey", "l_orderkey", "l_shipdate",
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus", "l_shipdate")))

  /** P2/P3/P4 predicate block over `src`: merchant selection +
    * inclusive range. The merchant set is ONE `InSet` with values of
    * the column's type (BIGINT or INTEGER; other types fall back to
    * `isin`): it pushes down as the same `In(col, [...])` and keeps the
    * same rows as `isin`, without analyzing one literal per merchant
    * (which `OptimizeIn` then folds into this very `InSet`). */
  private def predicates(src: DataFrame, e: Entity, cfg: Config): Column = {
    val m = cfg.merchantIds.map { ids =>
      val values = src.schema.fields.find(_.name.equalsIgnoreCase(e.merchantCol))
        .map(_.dataType).collect {
          case LongType => ids.toSet[Any]
          // an id outside INT range matches no row, as under `isin`'s
          // widening of the column to BIGINT
          case IntegerType => ids.filter(_.isValidInt).map(_.toInt).toSet[Any]
        }
      values.fold(col(e.merchantCol).isin(ids: _*))(v =>
        Shim.column(InSet(Shim.expression(col(e.merchantCol)), v)))
    }.getOrElse(lit(true))
    // both sides cast to NTZ: comparing an NTZ column against an LTZ
    // literal (plain "timestamp") coerces through the session timezone
    // — boundary rows would move with the host zone (DST gaps make the
    // shift non-monotonic), violating the engine-independence policy
    val lo = cfg.start
      .map(s => col(e.timeCol).cast("timestamp_ntz") >=
        lit(s).cast("timestamp_ntz")).getOrElse(lit(true))
    val hi = cfg.end
      .map(s => col(e.timeCol).cast("timestamp_ntz") <=
        lit(s).cast("timestamp_ntz")).getOrElse(lit(true))
    m && lo && hi
  }

  /** One entity's source scoped to the request, the one path every
    * feed and mark reads through: a partitioned JDBC source keeps only
    * the strides the window can touch ([[Jdbc.within]]), then the
    * [[predicates]] filter (pushed into the generated SQL) selects the
    * rows. */
  private def scoped(spark: SparkSession, dir: String, e: Entity,
      cfg: Config): DataFrame = {
    val src = Jdbc.within(cfg.source(spark, dir, e), e.timeCol, cfg.start,
      cfg.end)
    src.filter(predicates(src, e, cfg))
  }

  /** Envelope projection over an already-filtered entity source: a pure
    * narrow map. Timestamps and doubles are pre-formatted so the JSON
    * is engine-independent. */
  private def envelope(src: DataFrame, e: Entity, tenant: Column): DataFrame = {
    val payloadCols = e.payload.map { c =>
      // case-INsensitive field lookup: JDBC catalogs (Derby, Oracle, …)
      // fold unquoted identifiers to uppercase; Spark resolves columns
      // case-insensitively, so the envelope's type dispatch must too
      val dt = src.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"payload column '$c' missing from entity '${e.name}' source"))
        .dataType
      val v = dt.typeName match {
        // null-guarded: format_string feeds java.util.Formatter, which
        // renders a null arg as the STRING "null" (precision-truncated
        // to "nu" by %.2f) instead of propagating — the explicit-null
        // contract below requires a real JSON null for a null amount
        case "double" => when(col(c).isNotNull, format_string("%.2f", col(c)))
        // the JDBC seam delivers money as DECIMAL/FLOAT: same 2-dp
        // canonical rendering as double, or the JSON becomes
        // engine/scale-dependent (trailing zeros, scientific notation)
        case t if t == "float" || t.startsWith("decimal") =>
          when(col(c).isNotNull,
            format_string("%.2f", col(c).cast("double")))
        // cast to NTZ first: an LTZ-typed column (JDBC TIMESTAMP, or a
        // data generation Tables.acceptable admits as LTZ) would render
        // in the session timezone; the naive cast is deterministic
        // under the repo's pinned-UTC discipline
        case t if t.startsWith("timestamp") =>
          date_format(col(c).cast("timestamp_ntz"), "yyyy-MM-dd HH:mm:ss")
        case _ => col(c)
      }
      v.as(c)
    }
    src.select(
      lit(e.name).as("entity"),
      col(e.keyCol).cast("string").as("key"),
      tenant.as("tenant"),
      // ignoreNullFields=false: a null column serializes as an explicit
      // `"field":null`, not an absent key — the event-log contract (a
      // consumer must distinguish "cleared to null" from "not in this
      // entity's schema"), and what the reference's serde emits for
      // Option::None fields
      to_json(struct(payloadCols: _*), Map("ignoreNullFields" -> "false"))
        .as("value"))
  }

  /** One entity's event feed with an arbitrary tenant column: filtered
    * scan → envelope. */
  private def feedOf(spark: SparkSession, dir: String, e: Entity,
      cfg: Config, tenant: Column): DataFrame =
    envelope(scoped(spark, dir, e, cfg), e, tenant)

  /** One entity's event feed under the config's single tenant. */
  def entityFeed(spark: SparkSession, dir: String, e: Entity,
      cfg: Config): DataFrame =
    feedOf(spark, dir, e, cfg, lit(cfg.tenant))

  /** Per-tenant routing target (reference
    * `config/development.toml:724-729`: a tenant selects a schema and a
    * ClickHouse database; `main.rs:119-145`: the TenantID is stamped on
    * every event). Here the routing payload is the per-tenant topic
    * namespace events publish under. */
  case class Tenant(id: String, topicPrefix: String)

  /** Multi-tenant backfill feed: each row is assigned a tenant by
    * `tenantOf` (an expression over the entity's columns — in
    * production the merchant→tenant map, mirroring the reference's
    * per-tenant schema config), then the (tiny) tenant table is
    * broadcast-joined to stamp the per-tenant, per-entity topic the
    * event routes to. The whole thing stays a narrow map + broadcast
    * join — no shuffle added over the single-tenant feed.
    *
    * Routing is left-join + runtime assert, NOT an inner join: an
    * unmapped tenant id (typo'd config, a lookup miss yielding null)
    * must fail the job loudly, not silently drop its events from the
    * replay. */
  def runMultiTenant(spark: SparkSession, dir: String, tenants: Seq[Tenant],
      tenantOf: Entity => Column, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val tenantDf = tenants.map(t => (t.id, t.topicPrefix))
      .toDF("tenant", "topic_prefix")
    cfg.entities.map(e => feedOf(spark, dir, e, cfg, tenantOf(e)))
      .reduce(_ unionAll _)
      .join(broadcast(tenantDf), Seq("tenant"), "left")
      .select(col("entity"), col("key"), col("tenant"),
        concat_ws("-",
          when(col("topic_prefix").isNull,
            raise_error(concat(lit("unmapped tenant in routing table: "),
              coalesce(col("tenant"), lit("<null>")))))
            .otherwise(col("topic_prefix")),
          col("entity")).as("topic"),
        col("value"))
  }

  /** The consolidated feed: UNION ALL of every entity feed — the
    * `consolidated_events_topic` twin. One job, entities scan in
    * parallel (the reference serializes them per merchant, X3). Each
    * entity is read through [[scoped]]: over a partitioned JDBC source
    * only the strides the request's window can touch become tasks, and
    * the merchant set reaches the replica as one pushed `IN` — the
    * reference's `WHERE merchant_id = :m AND created_at BETWEEN`. */
  def run(spark: SparkSession, dir: String, cfg: Config = Config()): DataFrame =
    cfg.entities.map(entityFeed(spark, dir, _, cfg)).reduce(_ unionAll _)

  /** Wide-payload fidelity case at the reference's real width (its
    * payment_intent is ~40 columns with JSON metadata, enum statuses
    * and nullable PII — SURVEY.md §1; the default harness entities are
    * 6 flat non-null columns). A documents-based entity whose source
    * synthesizes a 32-column payload: an enum-like lifecycle `status`
    * (+ a reason only on the failed branch), EIGHT independent null
    * patterns across string/numeric/boolean columns (%5-failed-only,
    * %7, %11, %13, %17, %19, %23, %29), money/count integers, booleans,
    * a doubly-NESTED metadata struct (serializes as JSON objects inside
    * the envelope, not escaped strings) and a string array — all flowed
    * through the SAME `run()` path via the source seam, so explicit-null
    * serialization, nesting and arrays need no special-case envelope. */
  def wideEntityFeed(spark: SparkSession, dir: String): DataFrame = {
    val payload = Seq(
      "doc_id", "lang", "source", "n_chars",
      "status", "status_reason",
      "customer_email", "customer_phone", "billing_name", "billing_city",
      "billing_country", "shipping_city",
      "amount", "currency", "fee_amount", "net_amount", "tax_amount",
      "surcharge_amount", "attempt_count",
      "is_active", "is_test", "off_session",
      "capture_method", "auth_type", "client_secret", "return_url",
      "description", "statement_name", "created_by", "version",
      "metadata", "tags")
    val e = Entity("documents", "documents", "doc_id", "doc_id", "doc_id",
      payload)
    val cfg = Config(entities = Seq(e), source = (s, d, _) =>
      Tables.load(s, d, "documents").select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        when(col("doc_id") % 5 === 0, "created")
          .when(col("doc_id") % 5 === 1, "processing")
          .when(col("doc_id") % 5 === 2, "succeeded")
          .when(col("doc_id") % 5 === 3, "failed")
          .otherwise("cancelled").as("status"),
        when(col("doc_id") % 5 === 3,
          concat(lit("code_"), col("doc_id") % 13))
          .otherwise(lit(null).cast("string")).as("status_reason"),
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("user"), col("doc_id"), lit("@example.com")))
          .as("customer_email"),
        when(col("doc_id") % 11 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("+1555"),
            lpad((col("doc_id") % 1000000).cast("string"), 6, "0")))
          .as("customer_phone"),
        when(col("doc_id") % 13 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("name_"), col("doc_id") % 997))
          .as("billing_name"),
        concat(lit("city_"), col("doc_id") % 50).as("billing_city"),
        when(col("doc_id") % 4 === 0, "US").when(col("doc_id") % 4 === 1, "DE")
          .when(col("doc_id") % 4 === 2, "IN").otherwise("BR")
          .as("billing_country"),
        when(col("doc_id") % 17 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("city_"), col("doc_id") % 60))
          .as("shipping_city"),
        (col("n_chars") * 100).as("amount"),
        when(col("doc_id") % 3 === 0, "USD").when(col("doc_id") % 3 === 1, "EUR")
          .otherwise("INR").as("currency"),
        (col("n_chars") % 97).as("fee_amount"),
        (col("n_chars") * 100 - col("n_chars") % 97).as("net_amount"),
        (col("n_chars") % 23).as("tax_amount"),
        when(col("doc_id") % 19 === 0, lit(null).cast("long"))
          .otherwise(col("n_chars") % 11).as("surcharge_amount"),
        (col("doc_id") % 4 + 1).as("attempt_count"),
        (col("doc_id") % 2 === 0).as("is_active"),
        (col("doc_id") % 10 === 0).as("is_test"),
        when(col("doc_id") % 23 === 0, lit(null).cast("boolean"))
          .otherwise(col("doc_id") % 3 === 0).as("off_session"),
        when(col("doc_id") % 2 === 0, "automatic").otherwise("manual")
          .as("capture_method"),
        when(col("doc_id") % 3 === 0, "three_ds")
          .when(col("doc_id") % 3 === 1, "no_three_ds")
          .otherwise("exempted").as("auth_type"),
        concat(lit("pi_"), col("doc_id"), lit("_secret")).as("client_secret"),
        concat(lit("https://merchant-"), col("doc_id") % 20,
          lit(".example.com/return")).as("return_url"),
        when(col("doc_id") % 29 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("order "), col("doc_id"))).as("description"),
        concat(lit("STMT-"), upper(col("lang"))).as("statement_name"),
        lit("svc_backfill").as("created_by"),
        (col("doc_id") % 3).as("version"),
        struct(col("source").as("src"), (col("n_chars") % 10).as("bucket"),
          struct((col("doc_id") % 2 === 1).as("priority"),
            concat(lit("r"), col("doc_id") % 4).as("region")).as("flags"))
          .as("metadata"),
        array(concat(lit("t"), col("doc_id") % 3), col("lang")).as("tags")))
    run(spark, dir, cfg).orderBy("key")
  }

  /** Reconciliation checksums: per-entity row count + order-independent
    * bit_xor of row hashes over the emitted feed. The reference relied
    * on downstream ClickHouse/OpenSearch recounts for integrity
    * (SURVEY.md §5); here the feed self-certifies — run the same
    * aggregate over source and sink and compare (xor is commutative,
    * so partition order is irrelevant; a single flipped byte flips the
    * checksum). Row hash = md5-prefix over a length-prefixed concat
    * (separator-proof), cross-engine so the oracle recomputes it. */
  def feedChecksum(feed: DataFrame): DataFrame = {
    // a null component gets an explicit marker: concat null-propagates,
    // hash60 is null-intolerant and bit_xor SKIPS nulls — a null-key
    // row would otherwise contribute nothing to the checksum while
    // still counting in n_rows, and source-vs-sink certification would
    // pass with different null-row content on the two sides
    val canon = concat(Seq(col("key"), col("tenant"), col("value")).map(c =>
      when(c.isNull, lit("n|"))
        .otherwise(concat(length(c).cast("string"), lit(":"), c, lit("|")))): _*)
    feed.groupBy("entity").agg(
      count(lit(1)).as("n_rows"),
      bit_xor(graft.functions.Hash60.hash60(canon)).as("checksum"))
      .orderBy("entity")
  }

  /** A planned increment: the lazy feed of rows newer than the persisted
    * mark, plus the `commit` that advances the mark. Planning NEVER
    * writes state — callers commit only after the feed is durably in
    * the sink, so a failed (or never-executed) write leaves the mark
    * where it was and the next run re-emits the unprocessed rows.
    * Re-emission means at-least-once into the sink, the same contract
    * the reference's re-run has (X6) — downstream dedupes by key. */
  case class Increment(feed: DataFrame, commit: () => Unit)

  /** Incremental batch backfill: plan a feed of rows newer than the
    * persisted high-water mark — the idempotent re-run story the
    * reference lacks (X6: fail-fast, no resume, full-range re-read on
    * retry). State is one tiny parquet of (entity, hwm); the watermark
    * column is the entity's `timeCol`, exclusive lower bound (rows AT
    * the mark were emitted by the run that set it).
    *
    * The new marks are read from the SOURCE at plan time (not the
    * filtered slice, so an empty increment keeps the previous mark;
    * not at commit time, so rows arriving after planning are never
    * silently skipped — they re-emit next run instead). The commit
    * writes the state beside the old one and renames over it, so a
    * crash mid-commit loses at most the advancement (re-emit), never
    * the rows. */
  def planIncremental(spark: SparkSession, dir: String, stateDir: String,
      cfg: Config = Config()): Increment = {
    import org.apache.spark.sql.types._
    val statePath = s"$stateDir/hwm.parquet"
    val stateSchema = StructType(Seq(
      StructField("entity", StringType), StructField("hwm", TimestampNTZType)))
    // ONLY a missing path means "no state": a transient read failure
    // (FS hiccup, corrupt footer) must propagate — swallowing it would
    // silently reset the mark, re-emit all history as duplicates, and
    // then commit over the still-intact state file
    def readState(p: String): Option[Map[String, java.time.LocalDateTime]] =
      try Some(spark.read.schema(stateSchema).parquet(p).collect()
        .map(r => r.getString(0) -> r.getAs[java.time.LocalDateTime](1)).toMap)
      catch {
        case _: java.io.FileNotFoundException => None
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("Path does not exist") => None
      }
    // crash recovery: if the committed state is missing but a `.next`
    // exists, a commit died between delete and rename — `.next` was
    // written only after its increment was durably sunk, so it IS the
    // valid mark (see commit below); fall back to it rather than
    // re-emitting all history
    val prior: Map[String, java.time.LocalDateTime] =
      readState(statePath).orElse(readState(s"$statePath.next"))
        .getOrElse(Map.empty)

    // the CLI-parity predicates (merchants, range) scope the increment
    // exactly as they scope the batch run — accepted-and-dropped
    // parameters would silently emit unscoped data. The marks below
    // are computed over the SAME scoped source, so the mark tracks the
    // stream actually emitted; runs with DIFFERENT scopes must use
    // different stateDirs (a mark advanced by one scope would skip the
    // other scope's older rows).
    val feed = cfg.entities.map { e =>
      val base = scoped(spark, dir, e, cfg)
      val src = prior.get(e.name)
        .map(h => base.filter(col(e.timeCol).cast("timestamp_ntz") > lit(h)))
        .getOrElse(base)
      envelope(src, e, lit(cfg.tenant))
    }.reduce(_ unionAll _)

    // max over the NTZ cast: an LTZ-typed timeCol (JDBC TIMESTAMP)
    // would otherwise collect as java.sql.Timestamp and explode the
    // (String, LocalDateTime) state encoder AFTER the sink write —
    // wedging the increment permanently (mark never advances)
    val newHwm = cfg.entities.map { e =>
      val m = scoped(spark, dir, e, cfg)
        .agg(max(col(e.timeCol).cast("timestamp_ntz"))).collect().head
      (e.name, if (m.isNullAt(0)) prior.get(e.name).orNull
               else m.getAs[java.time.LocalDateTime](0))
    }.filter(_._2 != null)

    // commit protocol: write `.next`, delete the old state, rename
    // `.next` into place. Every crash window is recoverable: before the
    // delete, the old state survives (re-emit since the old mark —
    // at-least-once); between delete and rename, the read path above
    // falls back to `.next` (which already reflects a sunk increment);
    // after the rename, the commit is complete.
    val commit = () => {
      import spark.implicits._
      val next = s"$statePath.next"
      // MERGE with the prior marks: this run's cfg.entities may be a
      // subset — overwriting the state wholesale would delete every
      // other entity's mark and re-emit its entire history next run
      (prior ++ newHwm.toMap).toSeq.toDF("entity", "hwm").coalesce(1)
        .write.mode("overwrite").parquet(next)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(statePath).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(statePath), true)
      if (!fs.rename(new org.apache.hadoop.fs.Path(next),
          new org.apache.hadoop.fs.Path(statePath)))
        throw new java.io.IOException(s"rename $next -> $statePath failed")
      ()
    }
    Increment(feed, commit)
  }

  /** Plan → durably sink (parquet append) → THEN advance the mark.
    * Returns the number of rows this run added, counted from the
    * append's OWN task metrics (successful write tasks only — the file
    * committer rolls failed attempts back). A before/after count of the
    * sink would pay two full O(sink) scans, so the Nth increment would
    * cost O(all prior increments) — the opposite of incremental; the
    * metrics count is O(this increment) and never reads the sink.
    * The listener is session-global, so the returned count assumes no
    * OTHER write job runs on this SparkSession concurrently with the
    * append (same single-writer-per-session scope as the state
    * commit protocol itself). */
  def runIncremental(spark: SparkSession, dir: String, stateDir: String,
      sinkDir: String, cfg: Config = Config()): Long = {
    val inc = planIncremental(spark, dir, stateDir, cfg)
    val (_, m) = RunMetrics.instrument(spark) {
      inc.feed.write.mode("append").parquet(sinkDir)
    }
    inc.commit()
    m.outputRecords
  }

  /** At-least-once compaction — the downstream half of the X6 story:
    * re-runs (and task retries) duplicate events into the sink; the
    * reference leans on ClickHouse/OpenSearch deduping by key
    * (SURVEY §2.8 X6, §2.1 S6). This is that dedupe as an operator:
    * exact-duplicate rows collapse to one with a delivery count — one
    * hash-aggregate shuffle on the full event identity, the
    * ReplacingMergeTree-style idempotent-consumer shape. The harness
    * query feeds it a deterministic 10% re-delivery (hash-selected
    * keys) so the compaction is observable and oracle-checkable. */
  def compactFeed(feed: DataFrame): DataFrame =
    feed.groupBy("entity", "key", "tenant", "value")
      .agg(count(lit(1)).as("n_deliveries"))

  /** [[compactFeed]] over the standard [[run]] feed, restructured for
    * the plan (r17, optimization guide §2.4/§2.3/§2.5) — result
    * rows identical to `compactFeed(run(...))`:
    *
    *  - per-entity aggregation, union AFTER: compaction groups can
    *    never span entities (`entity` is in the group key and constant
    *    per branch), and splitting lets each branch reuse one exchange;
    *  - each entity is hash-repartitioned by its envelope key STRING
    *    before the envelope projection, so the group-by's clustering
    *    requirement is already satisfied (alias-aware partitioning:
    *    the envelope aliases that exact cast) and the 200-byte JSON
    *    `value` column is never shuffled at all — the only exchange
    *    carries the narrow raw payload columns (guide §8: decide over
    *    light rows, move heavy bytes once — here the heavy JSON is
    *    built AFTER its rows are already where they aggregate);
    *  - the pre-spread only fires when the scan arrived as fewer
    *    splits than the per-entity parallelism share (a small
    *    single-file table scans as ONE task and serializes the whole
    *    CPU-bound envelope+agg stage, guide §2.5 "input skew"); a
    *    production source with thousands of splits skips the branch
    *    and the group-by inserts its usual identity exchange. */
  def compactRun(spark: SparkSession, dir: String,
      cfg: Config = Config()): DataFrame = {
    val share = math.max(1, spark.sparkContext.defaultParallelism /
      math.max(1, cfg.entities.size))
    cfg.entities.map { e =>
      val base = cfg.source(spark, dir, e)
      val src = if (base.rdd.getNumPartitions < share)
        base.repartition(share, col(e.keyCol).cast("string")) else base
      run(spark, dir, cfg.copy(entities = Seq(e), source = (_, _, _) => src))
        .groupBy("entity", "key", "tenant", "value")
        .agg(count(lit(1)).as("n_deliveries"))
    }.reduce(_ unionAll _)
  }
}
