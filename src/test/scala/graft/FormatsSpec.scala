package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source-format matrix: JSON/CSV round-trips with explicit schemas and
  * PERMISSIVE corrupt-record quarantine — the malformed-input story a
  * 100 TB ingest needs (drop nothing silently, quarantine visibly). */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("events round-trip through JSON and CSV with explicit schemas") {
    val dir = Files.createTempDirectory("fmt").toString
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").json(s"$dir/ev_json")
    ev.write.mode("overwrite").option("header", "true").csv(s"$dir/ev_csv")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val fromJson = spark.read.schema(schema).json(s"$dir/ev_json")
    val fromCsv = spark.read.schema(schema).option("header", "true")
      .csv(s"$dir/ev_csv")
    assert(fromJson.exceptAll(ev).count() == 0 && ev.exceptAll(fromJson).count() == 0)
    assert(fromCsv.exceptAll(ev).count() == 0 && ev.exceptAll(fromCsv).count() == 0)
  }

  test("events round-trip through ORC (full fidelity incl. timestamps)") {
    val dir = Files.createTempDirectory("fmt_orc").toString
    val ev = Tables.load(spark, sf, "events")
    ev.write.mode("overwrite").orc(s"$dir/ev_orc")
    val back = spark.read.orc(s"$dir/ev_orc")
    assert(back.exceptAll(ev).count() == 0 && ev.exceptAll(back).count() == 0)
  }

  test("corrupt JSON records quarantine instead of failing the job") {
    val dir = Files.createTempDirectory("corrupt").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/data.json"),
      """{"event_id": 1, "value": 1.5}
        |{"event_id": "not a number", "value": 2.5}
        |this is not json at all
        |{"event_id": 4, "value": 4.5}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType),
      StructField("_corrupt", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(s"$dir/data.json").cache()
    assert(df.filter(col("_corrupt").isNull).count() == 2)   // clean rows
    assert(df.filter(col("_corrupt").isNotNull).count() == 2) // quarantined
    df.unpersist()
  }

  test("timestamp policy: events.ts normalizes to UTC-instant TimestampType " +
      "in both physical eras, independent of session timezone") {
    val dir = Files.createTempDirectory("tsera").toString
    // micros era (what the current testdata stores): write NTZ micros
    val ntz = spark.range(3).select(
      col("id").as("event_id"),
      expr("make_timestamp_ntz(2024, 1, 1, 0, 0, id)").as("ts"),
      col("id").as("user_id"), lit("a").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props"))
    ntz.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      // deliberately NOT UTC: the normalized instants must not move
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val loaded = Tables.load(spark, dir, "events")
      assert(loaded.schema("ts").dataType == TimestampType)
      val micros = loaded.selectExpr("unix_micros(ts)").as[Long](spark.implicits.newLongEncoder)
        .collect().sorted
      // naive 2024-01-01T00:00:0{0,1,2} read AS UTC instants
      assert(micros.toSeq == Seq(1704067200000000L, 1704067201000000L,
        1704067202000000L))
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
  }

  test("data drift fails loudly at load with a one-line message") {
    val dir = Files.createTempDirectory("drift").toString
    // events.ts mangled to string — neither storage era
    spark.range(2).select(
      col("id").as("event_id"), lit("2024-01-01").as("ts"),
      col("id").as("user_id"), lit("a").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("data drift: events.ts"))
    // documents with a retyped column drifts too
    val dir2 = Files.createTempDirectory("drift2").toString
    spark.range(2).select(
      col("id").as("doc_id"), lit("t").as("text"), lit("en").as("lang"),
      lit("web").as("source"), lit(1).cast("int").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val e2 = intercept[IllegalStateException](Tables.load(spark, dir2, "documents"))
    assert(e2.getMessage == "data drift: documents.n_chars is now int, expected bigint")
  }

  test("EventSink parquet writes per-entity partitions and reads back") {
    import graft.sinks.EventSink
    val out = Files.createTempDirectory("sink").toString + "/feed"
    val feed = graft.operators.Envelope.unionFeed(spark, sf)
    EventSink.write(feed, EventSink.Parquet(out, maxRecordsPerFile = 1000))
    val back = spark.read.parquet(out)
    assert(back.count() == feed.count())
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("entity=")).toSet
    assert(dirs == Set("entity=orders", "entity=lineitem"))
  }
}
