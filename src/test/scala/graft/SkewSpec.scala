package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graftshim.Shim

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("date-partitioned write prunes partitions at read") {
    val wh = java.nio.file.Files.createTempDirectory("partwh").toString
    Tables.load(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$wh/orders_part")
    val pruned = spark.read.parquet(s"$wh/orders_part")
      .filter(col("o_year") === 1996)
    val plan = Shim.executedPlan(pruned).toString
    // partition filter present, and only the 1996 directory is scanned
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"), plan)
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("o_year=1996")), files.take(3).mkString(","))
  }
}
