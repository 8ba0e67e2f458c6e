package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Memo}

/** The materialization cache: per-dataset keying, build-once semantics,
  * and survival across spark.catalog.clearCache() (the harness calls it
  * between queries — a persist()-based memo would silently recompute). */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeDocs(n: Int, salt: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo-docs").toString
    (0 until n).map { i =>
      (i.toLong, s"doc $salt number $i with enough tokens to shingle",
        "en", s"src${i % 3}", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("memo keys by dataset dir — no cross-dataset contamination") {
    val dirA = writeDocs(20, "alpha")
    val dirB = writeDocs(35, "beta")
    assert(Dedup.minhashSigTable(spark, dirA).count() == 20)
    assert(Dedup.minhashSigTable(spark, dirB).count() == 35)
    // ask again in reverse order: still the right datasets
    assert(Dedup.minhashSigTable(spark, dirB).count() == 35)
    assert(Dedup.minhashSigTable(spark, dirA).count() == 20)
  }

  test("build runs once per key and the result survives clearCache") {
    var builds = 0
    val dir = writeDocs(5, "gamma")
    def t = Memo.table(spark, dir, "memo-spec-probe") {
      builds += 1
      spark.range(7).toDF("id")
    }
    assert(t.count() == 7)
    spark.catalog.clearCache() // what Bench/Verify do between queries
    assert(t.count() == 7)
    assert(builds == 1, s"builder ran $builds times")
  }

  test("graft.memo.root conf redirects materialization to the set root") {
    val root = java.nio.file.Files.createTempDirectory("memo-root").toString
    val dir = writeDocs(5, "epsilon")
    spark.conf.set(Memo.RootConf, root)
    try {
      val t = Memo.table(spark, dir, "memo-spec-rooted") {
        spark.range(11).toDF("id")
      }
      assert(t.count() == 11)
      // the parquet landed under the conf root, not java.io.tmpdir
      val sub = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("graft-memo-memo-spec-rooted-"))
      assert(sub.length == 1, s"expected one memo dir under $root")
      assert(sub.head.listFiles().exists(_.getName.endsWith(".parquet")))
    } finally spark.conf.unset(Memo.RootConf)
  }

  test("nested builds (a memo whose builder reads another memo) work") {
    val dir = writeDocs(5, "delta")
    val outer = Memo.table(spark, dir, "memo-spec-outer") {
      Memo.table(spark, dir, "memo-spec-inner") {
        spark.range(3).toDF("id")
      }.withColumn("twice", col("id") * 2)
    }
    assert(outer.count() == 3)
    assert(Memo.table(spark, dir, "memo-spec-inner")(fail("must be memoized"))
      .count() == 3)
  }

  test("orphan sweep: a dead owner's memo directory is removed, the live " +
      "JVM's survives") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def owned(name: String) =
      tmp.listFiles().filter(_.getName.startsWith(s"graft-memo-$name.o")).toSeq
    val dir = writeDocs(5, "zeta")
    assert(Memo.table(spark, dir, "memo-spec-live") {
      spark.range(2).toDF("id")
    }.count() == 2)
    val live = owned("memo-spec-live")
    assert(live.size == 1, "the live memo directory is not owner-named")
    // a dead owner: a child process that has exited and been reaped
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val me = ProcessHandle.current()
    val myStart = me.info().startInstant().get.toEpochMilli
    def orphan(pid: Long, start: Long, tag: String): java.io.File = {
      val d = new java.io.File(tmp, s"graft-memo-$tag.o$pid.$start-0")
      assert(d.mkdirs())
      java.nio.file.Files.write(new java.io.File(d, "part-0.parquet").toPath,
        Array[Byte](1, 2, 3))
      d
    }
    val dead = orphan(child.pid(), myStart, "memo-spec-dead")
    // this JVM's pid under another start instant: a reused pid
    val reused = orphan(me.pid(), myStart - 60000L, "memo-spec-reused")
    Memo.sweepOrphans()
    assert(!dead.exists(), "a dead owner's directory survived the sweep")
    assert(!reused.exists(), "a reused pid kept a dead owner's directory")
    assert(live.forall(_.exists()), "the sweep removed a live JVM's directory")
    assert(Memo.table(spark, dir, "memo-spec-live")(fail("must be memoized"))
      .count() == 2)
  }
}
