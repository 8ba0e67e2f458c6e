package graftbench

import java.nio.file.{Files, Paths}

/** Writes the benchmark's fixed tables once per build: the four parquet
  * tables under `<out>/source` and the Derby replica of orders and
  * lineitem under `<out>/derby/replica`. Runs read the parquet in place
  * and restore the replica into memory, so a run's set-up spends its time
  * in graft (session, index builds, warm-up), not in seeding a database.
  *
  * Usage: Fixture --out <dir> --work <dir>
  */
object Fixture {
  def main(args: Array[String]): Unit = {
    def arg(k: String) = args.sliding(2).collectFirst { case Array(`k`, v) => v }
      .getOrElse(sys.error(s"$k is required"))
    val out = Paths.get(arg("--out"))
    val work = Paths.get(arg("--work"))
    val db = out.resolve("derby").resolve("replica")
    Files.createDirectories(db.getParent)
    // Derby's import runs on its own thread beside the parquet writes
    val replica = new Thread(() => Source.derby(db))
    var failure: Throwable = null
    replica.setUncaughtExceptionHandler((_, e) => failure = e)
    replica.start()
    val spark = Main.session(work, math.max(1, Runtime.getRuntime.availableProcessors() - 1))
    val source = out.resolve("source")
    Source.writeParquet(Source.orders(spark), source, "orders")
    Source.writeParquet(Source.lineitem(spark), source, "lineitem")
    Source.writeParquet(Source.documents(spark), source, "documents")
    Source.writeParquet(Source.embeddings(spark), source, "embeddings")
    replica.join()
    if (failure != null) throw failure
    spark.stop()
  }
}
