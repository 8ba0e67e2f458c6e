package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s scale clone: key-shifted copies, cached on the
  * source's content. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("factor-2 clone doubles the fact tables with distinct keys, and is " +
      "cached on the source's content") {
    val root = Files.createTempDirectory("graftprobe").toString
    val dir = Probe.cloneOf(spark, sf, 2, root)
    def n(d: String, t: String) = Tables.load(spark, d, t).count()
    Seq("orders", "events").foreach(t => assert(n(dir, t) === 2 * n(sf, t), t))
    // keyless dimension tables are copied once, so joins don't multiply
    assert(n(dir, "nation") === n(sf, "nation"))
    val orders = Tables.load(spark, dir, "orders")
    assert(orders.select("o_orderkey").distinct().count() === orders.count())
    // a second call reuses the clone: no rewrite, same part files
    def parts = Files.list(Paths.get(dir, "orders.parquet")).iterator()
      .asScala.map(_.getFileName.toString).toSet
    val before = parts
    assert(Probe.cloneOf(spark, sf, 2, root) === dir)
    assert(parts === before)
    // another source at the same factor never shares the clone
    val other = Paths.get(sf).resolveSibling("sf0.01").toString
    assert(Probe.cloneDir(spark, other, 2, root) !== dir)
  }
}
