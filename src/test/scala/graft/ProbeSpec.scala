package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s scale clone: key-shifted copies, cached on the
  * source's content. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** A fresh temp directory, deleted with its contents after `body`. */
  private def withTempDir[A](prefix: String)(body: String => A): A = {
    val d = Files.createTempDirectory(prefix)
    try body(d.toString)
    finally Files.walk(d).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  test("factor-2 clone doubles the fact tables with distinct keys, and is " +
      "cached on the source's content") {
    withTempDir("graftprobe") { root =>
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

  test("rebuilding a changed source's clone evicts its stale clone, and " +
      "another source's clone survives") {
    withTempDir("graftprobesrc") { tmp =>
      def copyOf(name: String) = {
        val d = Paths.get(tmp, name)
        Files.walk(Paths.get(sf)).iterator().asScala.foreach { p =>
          Files.copy(p, d.resolve(Paths.get(sf).relativize(p).toString))
        }
        d.toString
      }
      val (a, b) = (copyOf("a"), copyOf("b"))
      val root = s"$tmp/clones"
      val oldA = Probe.cloneOf(spark, a, 2, root)
      val cloneB = Probe.cloneOf(spark, b, 2, root)
      // change a's content: one more table
      spark.range(3).write.parquet(s"$a/extra.parquet")
      val newA = Probe.cloneOf(spark, a, 2, root)
      assert(newA !== oldA)
      assert(!Files.exists(Paths.get(oldA)), "stale clone of a was kept")
      assert(Files.exists(Paths.get(newA, "_DONE")))
      assert(Files.exists(Paths.get(cloneB, "_DONE")), "b's clone was evicted")
      // the rebuild cloned the new content (keyless, so copied once)
      assert(Tables.load(spark, newA, "extra").count() === 3)
    }
  }
}
