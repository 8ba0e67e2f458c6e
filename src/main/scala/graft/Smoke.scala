package graft

/** Local twin of the driver's smoke check: runs [[SparkEntry.entry]] on
  * sf0.001 and prints the row count (driver requires >0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(3, truncate = false)
    spark.stop()
  }
}
