package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loading for the harness parquet layout (TESTDATA.md).
  *
  * In production the same operators run over JDBC sources (see
  * [[graft.sources.Jdbc]]); the harness swaps in parquet directories so the
  * oracle (DuckDB) reads the identical bytes.
  *
  * ==Timestamp policy (engine-wide)==
  * Event-time columns that the engine OWNS (events.ts) are normalized at
  * load to `TimestampType` — a UTC instant — regardless of the physical
  * storage era (see [[loadEvents]]). Plain fact columns that arrive as
  * parquet TIMESTAMP(isAdjustedToUTC=false) and are only filtered/grouped
  * (o_orderdate, l_shipdate) stay `TimestampNTZType` as read: DuckDB reads
  * the same naive micros, so oracle comparison is byte-identical with no
  * conversion on either side. The normalization itself must never depend
  * on `spark.sql.session.timeZone` (see the explicit-schema read below).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // memoized per (session, dir, table): every `spark.read.parquet` call
  // builds a fresh InMemoryFileIndex (directory listing + footer schema
  // read) — a fixed tax on every one of the ~150 harness queries. The
  // cached DataFrame is just an immutable logical plan whose file index
  // is resolved once. NOTE a weak session key would never collect here
  // (the cached DataFrames strongly reference their session), so growth
  // is bounded explicitly instead: the whole cache resets once more
  // than MaxSessions sessions have been seen — a rebuild costs one
  // directory listing, a leak costs the heap.
  private val MaxSessions = 8
  private case class Cached(fp: String, df: DataFrame)
  private val loaded =
    new java.util.HashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Cached]]()

  /** Events with a usable event time (`ts IS NOT NULL`) — THE source
    * for every operator that orders, windows, buckets or as-of-joins on
    * event time. A null-ts event is unplaceable on the time axis, and
    * letting it through forks engines: Spark windows sort it FIRST
    * while every replaying SQL engine sorts NULLS LAST, and Spark's
    * `window()` generator drops it while `time_bucket()` emits a NULL
    * bucket — nine cross-engine divergences at once, found by the
    * eventdegen gate. `cdc_apply`'s cutoff comparisons already dropped
    * null ts implicitly; this makes the rule explicit and family-wide.
    * Operators that DON'T touch the time axis (funnel joins, quarantine
    * routing) keep reading the raw table — a timeless event still
    * carries a user, a type and a payload. */
  def loadTimedEvents(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events").filter(col("ts").isNotNull)

  /** Pre-spread a source that arrived as fewer scan splits than the
    * cluster parallelism (optimization guide §2.5 "input skew": a
    * small single-file table scans as ONE task under the 4 MB
    * openCost floor, serializing every CPU-bound narrow map downstream
    * — tokenize/explode/aggregate stages measured 300-900 ms on one
    * core with 31 idle). Hash-repartitions by `key` — deterministic
    * (content-keyed, no round-robin sort pass) and join/agg-reusable
    * downstream. A production source with thousands of splits takes
    * the no-op branch, so nothing is shuffled at scale. Both branches
    * of a self-joining consumer see the SAME exchange subtree, so AQE
    * stage reuse runs the scan once. */
  def spread(spark: SparkSession, df: DataFrame, key: Column): DataFrame =
    if (df.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
      df.repartition(spark.sparkContext.defaultParallelism, key)
    else df

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val m = loaded.synchronized {
      if (!loaded.containsKey(spark) && loaded.size() >= MaxSessions)
        loaded.clear()
      var mm = loaded.get(spark)
      if (mm == null) {
        mm = new java.util.concurrent.ConcurrentHashMap[String, Cached]()
        loaded.put(spark, mm)
      }
      mm
    }
    // validate-on-hit: the memoized plan holds a point-in-time file
    // index, and the harness has regenerated testdata in place before
    // (r7). One file stat per load is the price of never serving a
    // listing of files that no longer exist.
    val fp = graft.sources.SourceState.fingerprint(spark, dir, Seq(name))
    val key = s"$dir/$name"
    val hit = m.get(key)
    if (hit != null && hit.fp == fp) hit.df
    else {
      // drop Spark's own cached file listing for the path too —
      // spark.sql.metadataCacheTTLSeconds defaults to "never expire"
      if (hit != null) spark.catalog.refreshByPath(s"$dir/$name.parquet")
      val df = assertNoDrift(name,
        if (name == "events") loadEvents(spark, dir)
        else spark.read.parquet(s"$dir/$name.parquet"))
      m.put(key, Cached(fp, df))
      df
    }
  }

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** documents schema as stored on disk — shared by any streaming
    * reader (file-source streams require an explicit schema) so the
    * batch and stream paths can't diverge: a stream reading a stale
    * local copy of this schema would silently yield nulls for
    * renamed/missing columns rather than erroring. */
  val documentsSchema: StructType = st(
    "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
    "source" -> StringType, "n_chars" -> LongType)

  /** events schema AFTER normalization — `ts` is a UTC-instant
    * `TimestampType`. This is also the explicit read schema for the
    * TIMESTAMP_MICROS storage era: parquet int64 micros requested as LTZ
    * are taken as micros-since-epoch directly, with NO session-timezone
    * cast in between (a `cast(ntz as timestamp)` would shift by the
    * session zone — oracle hashes would then depend on the host tz). */
  val eventsSchema: StructType = st(
    "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)

  /** ns→µs conversion for the stored `ts` long. Integer `div`, not `/`:
    * long/long promotes to double, which loses precision above 2^53
    * (epoch-nanos ≈ 1.7e18) → off-by-1-µs errors. Matches DuckDB's
    * µs-native truncation, so oracle results agree. */
  private def eventsNanosToTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** The harness regenerates testdata between rounds and has already
    * changed the physical `ts` type once (TIMESTAMP(NANOS) →
    * TIMESTAMP_MICROS, breaking every events consumer at analysis time).
    * Dispatch on what is actually stored instead of assuming an era:
    *   - long (nanos under nanosAsLong): truncate ns→µs as before;
    *   - timestamp (µs, NTZ or LTZ): re-read with the explicit LTZ
    *     schema — session-timezone-independent, keeps the UTC-LTZ output
    *     schema every downstream operator and oracle row expects.
    * Anything else is unknown drift → fail loudly (see assertNoDrift). */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => eventsNanosToTs(raw)
      case TimestampNTZType | TimestampType =>
        spark.read.schema(eventsSchema).parquet(s"$dir/events.parquet")
      case other => throw new IllegalStateException(
        s"data drift: events.ts is stored as ${other.simpleString}, " +
          "expected timestamp (µs) or long (ns)")
    }
  }

  /** Normalized (post-load) schema pin for every harness table. Types are
    * compared by `simpleString` (nullability-insensitive: parquet marks
    * everything nullable). A regenerated table whose schema drifts fails
    * HERE with one readable line, instead of analysis-erroring dozens of
    * queries deep — the r7 µs drift cost a full round's bench signal. */
  private[graft] val expectedSchemas: Map[String, StructType] = Map(
    "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> eventsSchema,
    "documents" -> documentsSchema,
    "embeddings" -> st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** o_orderdate/l_shipdate may legitimately arrive as either NTZ or
    * LTZ micros across data generations (both hash identically through
    * the oracle); the pin accepts either spelling for those, exact
    * match for everything else. */
  private def acceptable(table: String, colName: String, got: String,
      want: String): Boolean =
    got == want ||
      (Set("o_orderdate", "l_shipdate").contains(colName) &&
        Set("timestamp", "timestamp_ntz").contains(got) &&
        Set("timestamp", "timestamp_ntz").contains(want))

  private[graft] def assertNoDrift(name: String, df: DataFrame): DataFrame = {
    expectedSchemas.get(name).foreach { exp =>
      val got = df.schema.fields.map(f => f.name -> f.dataType.simpleString)
      val want = exp.fields.map(f => f.name -> f.dataType.simpleString)
      if (got.map(_._1).toSeq != want.map(_._1).toSeq)
        throw new IllegalStateException(
          s"data drift: $name columns are ${got.map(_._1).mkString(",")}, " +
            s"expected ${want.map(_._1).mkString(",")}")
      got.zip(want).foreach { case ((col, g), (_, w)) =>
        if (!acceptable(name, col, g, w))
          throw new IllegalStateException(
            s"data drift: $name.$col is now $g, expected $w")
      }
    }
    df
  }
}
