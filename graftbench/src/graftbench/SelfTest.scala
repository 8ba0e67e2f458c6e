package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark's own code: op lists are seed-determined,
  * windows stay inside the source range, the percentile helper withholds
  * p90 below 100 samples, and every workload's output check catches a
  * deliberately corrupted row. Exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (r) "ok  " else "FAIL"} $what")
    if (!r) failures += 1
  }

  def main(args: Array[String]): Unit = {
    def arg(k: String) = Paths.get(args.sliding(2).collectFirst { case Array(`k`, v) => v }
      .getOrElse(sys.error(s"$k is required")))
    val work = arg("--work")
    val fixture = arg("--fixture")

    check("one seed yields an identical op list; another seed a different one") {
      Gen.backfillOps(7, 6) == Gen.backfillOps(7, 6) &&
        Gen.serveOps(7, 2) == Gen.serveOps(7, 2) &&
        Gen.churnCycle(7, 3, 8) == Gen.churnCycle(7, 3, 8) &&
        Gen.backfillOps(7, 6) != Gen.backfillOps(8, 6) &&
        Gen.serveOps(7, 2) != Gen.serveOps(8, 2)
    }
    check("every drawn window lies inside the source range and holds its anchor order") {
      (1L to 300L).forall { seed =>
        Gen.backfillOps(seed, 6).zipWithIndex.forall { case (op, i) =>
          val anchor = Gen.below(seed, 105, i, Gen.Orders)
          val d = Gen.orderDate(Gen.DataSeed, anchor)
          !op.first.isBefore(Gen.OrdersFirst) && !op.last.isAfter(Gen.OrdersLast) &&
            !op.last.isBefore(op.first) && !d.isBefore(op.first) && !d.isAfter(op.last) &&
            op.merchants.forall(_.contains(Gen.orderCust(Gen.DataSeed, anchor)))
        }
      }
    }
    check("merchants are the sf0.1 customer keys not divisible by 3, as dbgen's orders") {
      val keys = (0L until Gen.Merchants).map(Gen.merchantKey)
      keys.distinct.size == Gen.Merchants && keys.forall(k => k % 3 != 0) &&
        keys.min == 1 && keys.max < Gen.Customers &&
        Gen.backfillOps(7, 6).flatMap(_.merchants.getOrElse(Nil)).forall(keys.toSet)
    }
    check("draws are stratified: every seed takes each log-space stratum of days and merchants once") {
      val daysWant = (0 until 6).map(k => Gen.logUniformStratum(k, 6, Gen.SpanDays).toLong)
      val sizesWant = (0 until 6).map(k => Gen.logUniformStratum(k, 6, Gen.Merchants))
      (1L to 50L).forall { seed =>
        val ops = Gen.backfillOps(seed, 6)
        val days = ops.map(o => o.last.toEpochDay - o.first.toEpochDay + 1)
        val sizes = ops.map(_.merchants.map(_.size).getOrElse(Gen.Merchants))
        days.sorted == daysWant && sizes.sorted == sizesWant &&
          days.min <= 2 && days.max >= Gen.SpanDays / 2 && sizes.min <= 2 &&
          sizes.max >= Gen.Merchants / 3
      }
    }
    check("every serve op probes 10 terms in 4 queries of 1..4 distinct terms") {
      (1L to 50L).forall(seed => Gen.serveOps(seed, 2).forall { op =>
        op.queries.map(_._2.size).sorted == Seq(1, 2, 3, 4) &&
          op.queries.forall(q => q._2.distinct == q._2) && op.vecIds.distinct.size == 4
      })
    }
    check("a churn cycle returns the corpus to its starting state") {
      val (absent, ops) = Gen.churnCycle(3, 3, 8)
      val live = scala.collection.mutable.Set[Long]() ++
        (0L until Gen.Docs).filterNot(absent.contains)
      val start = live.toSet
      ops.forall { op =>
        val ok = op.deletes.forall(live.contains) && op.reinserts.forall(d => !live.contains(d)) &&
          op.updates.forall(live.contains)
        live --= op.deletes; live ++= op.reinserts
        ok
      } && live.toSet == start
    }
    check("the percentile helper withholds p90 below 100 samples") {
      Stats.p90((1 to 99).map(_.toDouble)).isEmpty &&
        Stats.p90((1 to 100).map(_.toDouble)).contains(90.0) &&
        Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5 &&
        Stats.tail((1 to 20).map(_.toDouble)).contains((50, 10.0)) &&
        Stats.tail((1 to 10).map(_.toDouble)).isEmpty
    }

    val spark = Main.session(work, 2)
    def ctx(name: String) = new Ctx(spark, 5, work.resolve(name), fixture, 2)
    def ran(w: Workload, n: Int): Seq[OpRecord] = {
      var ops = Seq.empty[OpRecord]
      check(s"${w.name}: set up and run $n op(s)") {
        w.setup()
        ops = (0 until n).map(i => OpRecord(i, i % w.cycle, "timed", 0, w.run(i, i % w.cycle), None))
        true
      }
      ops
    }

    val serve = new IndexServe(ctx("serve"))
    val s = ran(serve, 1)
    check("index_serve: the outputs pass their checks") { serve.verify(s)._1.isEmpty }
    check("index_serve: a corrupted BM25 score is caught") {
      val o = s.head.output.asInstanceOf[serve.Out]
      val r = o.bm25.head
      val bad = Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4) + 1e-6)
      serve.verify(Seq(s.head.copy(output = o.copy(bm25 = bad +: o.bm25.tail))))._1.nonEmpty
    }
    check("index_serve: a missing ANN row is caught") {
      val o = s.head.output.asInstanceOf[serve.Out]
      serve.verify(Seq(s.head.copy(output = o.copy(ann = o.ann.tail))))._1.nonEmpty
    }

    val churn = new IndexChurnWorkload(ctx("churn"), half = 1)
    val c = ran(churn, churn.cycle)
    check("index_churn: a full replay passes its checks, end-of-run equality included") {
      churn.verify(c)._1.isEmpty
    }
    check("index_churn: a served deleted document is caught") {
      val o = c.head.output.asInstanceOf[churn.Out]
      val dead = churn.ops(c.head.slot).deletes.head
      churn.verify(Seq(c.head.copy(output = o.copy(served = (dead, 99.0) +: o.served))))._1.nonEmpty
    }

    val backfill = new BackfillJdbc(ctx("backfill"))
    val b = ran(backfill, 2)
    check("backfill_jdbc: the sinks match the parquet-source checksum") {
      backfill.verify(b)._1.isEmpty
    }
    check("backfill_jdbc: a corrupted sink row is caught") {
      val sink = backfill.sinkOf(b.head.seq).toString
      val rows = spark.read.parquet(sink).collect()
      val moved = work.resolve("backfill-original-sink").toString
      new java.io.File(sink).renameTo(new java.io.File(moved))
      val df = spark.read.parquet(moved)
      val first = rows.head.getAs[String]("key")
      df.withColumn("value", when(col("key") === first && col("entity") === rows.head.getAs[String]("entity"),
          concat(col("value"), lit(" "))).otherwise(col("value")))
        .write.partitionBy("entity").parquet(sink)
      backfill.verify(b)._1.keySet == Set(b.head.seq)
    }
    spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
