package graft
/** Plan inspection helper: prints formatted physical plans for selected
  * queries (all with no arg) over `SPARK_GRAFT_SF_DIR` (default sf0.001).
  * Pinned to local[8] so `plans/` dumps compare across boxes. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
