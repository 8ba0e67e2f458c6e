package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A short run over tiny data that touches the engine paths every
  * workload uses (session start, parquet write and read, shuffle joins
  * and aggregates, windows, bucketed tables, JDBC from Derby). The build
  * runs it once with `-XX:ArchiveClassesAtExit` to record the classes it
  * loads into a class-data-sharing archive. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.sliding(2).collectFirst { case Array("--work", v) => v }
      .getOrElse(sys.error("--work is required")))
    val spark = Main.session(work, 2)
    val dir = work.resolve("t").toString
    spark.range(2000).select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id").cast("string")).as("s"))
      .write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val w = Window.partitionBy("k").orderBy(col("id").desc)
    t.join(t.groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("total")), "k")
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .orderBy("k", "rk").collect()
    t.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("train_t")
    spark.table("train_t").filter(col("k").isin(1L, 2L)).collect()
    val url = "jdbc:derby:memory:train;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().executeUpdate("CREATE TABLE T (ID BIGINT, TS TIMESTAMP)")
    c.createStatement().executeUpdate("INSERT INTO T VALUES (1, CURRENT_TIMESTAMP)")
    c.close()
    val j = graft.sources.Jdbc.load(spark, graft.sources.Jdbc.JdbcConfig(url = url,
      table = "T", partitionColumn = Some("ID"), lowerBound = Some("0"),
      upperBound = Some("2"), numPartitions = 2))
    graft.sinks.EventSink.write(j.select(lit("t").as("entity"),
      col("ID").cast("string").as("key"), to_json(struct(col("TS"))).as("value")),
      graft.sinks.EventSink.Parquet(work.resolve("sink").toString))
    spark.stop()
  }
}
