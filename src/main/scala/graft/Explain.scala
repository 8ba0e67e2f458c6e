package graft
/** Plan inspection helper: prints formatted physical plans for selected
  * queries (all with no arg). Pinned to local[8] so `plans/` dumps
  * compare across boxes. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
