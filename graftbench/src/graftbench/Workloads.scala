package graftbench

import java.nio.file.{Files, Path}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Retrieval, Similarity}
import graft.pipeline.Backfill
import graft.sinks.EventSink
import graft.sources.{IndexChurn, Jdbc}
import graft.streaming.StreamingBackfill

/** What every workload shares: the session, the seed, a private work
  * directory, the build's fixed tables and the client's current tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val fixture: Path, val cpus: Int) {
  val tr: Tracer = new Tracer(spark)
  /** The parquet tables, read in place (see [[Fixture]]). */
  val source: Path = fixture.resolve("source")
  /** Wall seconds of each named set-up and check phase, for the report. */
  val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  def phase[A](name: String)(body: => A): A = {
    val t = System.nanoTime()
    try body finally phases.synchronized { phases(name) = (System.nanoTime() - t) / 1e9 }
  }

  /** Run independent checks `cpus` at a time (outside any timed window). */
  def parallel[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }
}

/** One executed op: its position in the replayed list, the phase it ran
  * in, its latency, and its output (or the error it threw). */
final case class OpRecord(seq: Long, slot: Int, phase: String, ms: Double,
    output: Any, error: Option[String])

trait Workload {
  def name: String
  def ctx: Ctx
  /** Length of the fixed op list the client replays. */
  def cycle: Int
  def setup(): Unit
  /** Cap on the warm-up replays (a run of about a minute affords no
    * more; see graftbench/README.md, "Warm-up"). */
  def maxWarmReplays: Int
  /** Execute op `seq` (list position `slot`) and return its output. */
  def run(seq: Long, slot: Int): Any
  /** Check every op's output; returns a failure reason per failing op
    * seq, plus the rows each op delivered. */
  def verify(ops: Seq[OpRecord]): (Map[Long, String], Map[Long, Long])
  /** Per-layer metrics of the traced ops. */
  def layers(traced: Seq[OpRecord]): Map[String, Double]
  /** Source row counts and index sizes. */
  def sizes: Map[String, Long]
  /** A workload whose layers the traced run also measures, with one
    * replay of its op list after the traced phase. */
  def companion: Option[Workload] = None
  def close(): Unit = ()
}

object Workload {
  val Names: Seq[String] = Seq("backfill_jdbc", "index_serve", "index_churn")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "backfill_jdbc" => new BackfillJdbc(ctx)
    case "index_serve" => new IndexServe(ctx)
    case "index_churn" => new IndexChurnWorkload(ctx, half = 3)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Sum of self time per op for spans called `name`. */
  def selfPerOp(tr: Tracer, name: String, ops: Int): Double = {
    val self = tr.selfMs
    tr.spans.filter(_.name == name).map(s => self(s.id)).sum / math.max(1, ops)
  }
  def delta(tr: Tracer, name: String, k: Int): Long =
    tr.spans.filter(_.name == name).map(_.delta(k)).sum
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Bytes and data files under a directory tree. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toArray.foldLeft((0L, 0L)) { case ((b, n), f) =>
          (b + Files.size(f.asInstanceOf[Path]), n + 1)
        }
      finally s.close()
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

// ============================================================ backfill_jdbc

/** The reference's production path: `sources.Jdbc` → `Backfill.run` →
  * `EventSink.write`, one merchant/date-window request per op. */
final class BackfillJdbc(val ctx: Ctx) extends Workload {
  import ctx._
  val name = "backfill_jdbc"
  val maxWarmReplays = 4
  val cycle = 6
  val ops: IndexedSeq[Gen.BackfillOp] = Gen.backfillOps(seed, cycle)
  private var url = ""
  private var bounds = Map.empty[String, (String, String)]
  private val sinks = work.resolve("sinks")

  def setup(): Unit = {
    url = phase("derby_restore")(Source.restore(
      fixture.resolve("derby").resolve("replica"), "graftbench"))
    // partition bounds as a production user sets them: the table's span
    val c = java.sql.DriverManager.getConnection(url)
    try bounds = Backfill.defaultEntities.map { e =>
      val rs = c.createStatement().executeQuery(
        s"SELECT MIN(${e.timeCol.toUpperCase}), MAX(${e.timeCol.toUpperCase}) FROM ${e.table.toUpperCase}")
      rs.next()
      e.name -> (rs.getTimestamp(1).toLocalDateTime.toString.replace('T', ' '),
        rs.getTimestamp(2).toLocalDateTime.toString.replace('T', ' '))
    }.toMap
    finally c.close()
  }

  /** The oracle: the feed checksum of `Backfill.run` for every request of
    * the op list over the same rows as parquet, per op-list slot. */
  private def expected(): Map[Long, Map[String, (Long, Long)]] =
    phase("check_oracle") {
      ctx.parallel(ops.indices.map { s =>
        () => checksums(Backfill.run(spark, source.toString,
            config(ops(s), Backfill.defaultSource))
          .withColumn("entity", concat(lit(s"$s/"), col("entity"))))
      }).foldLeft(Map.empty[Long, Map[String, (Long, Long)]])(_ ++ _)
    }

  private val jdbc: (SparkSession, String, Backfill.Entity) => DataFrame =
    (s, _, e) => ctx.tr.span("sources.Jdbc.load") {
      val (lo, hi) = bounds(e.name)
      Jdbc.load(s, Jdbc.JdbcConfig(url = url, table = e.table.toUpperCase,
        partitionColumn = Some(e.timeCol.toUpperCase), lowerBound = Some(lo),
        upperBound = Some(hi), numPartitions = cpus))
    }

  private def config(op: Gen.BackfillOp,
      src: (SparkSession, String, Backfill.Entity) => DataFrame) =
    Backfill.Config(merchantIds = op.merchants, start = Some(op.start),
      end = Some(op.end), source = src)

  private[graftbench] def sinkOf(seq: Long): Path = sinks.resolve(s"op-$seq")

  def run(seq: Long, slot: Int): Any = {
    val feed = ctx.tr.span("pipeline.Backfill.run") {
      Backfill.run(spark, source.toString, config(ops(slot), jdbc))
    }
    ctx.tr.span("sinks.EventSink.write") {
      EventSink.write(feed, EventSink.Parquet(sinkOf(seq).toString))
    }
    seq
  }

  /** (entity → (rows, checksum)) per tag, from `feedChecksum` over a feed
    * whose entity column is prefixed with the tag. */
  private def checksums(tagged: DataFrame): Map[Long, Map[String, (Long, Long)]] =
    Backfill.feedChecksum(tagged).collect().toSeq
      .map { r =>
        val Array(tag, entity) = r.getString(0).split("/", 2)
        (tag.toLong, entity, (r.getLong(1), r.getLong(2)))
      }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(x => x._2 -> x._3).toMap }

  def verify(done: Seq[OpRecord]): (Map[Long, String], Map[Long, Long]) = {
    val ran = done.filter(_.error.isEmpty)
    // every sink in one scan; op and entity come from the file path
    val got = phase("check_sinks")(if (ran.isEmpty) Map.empty[Long, Map[String, (Long, Long)]]
      else checksums(spark.read.schema("key string, tenant string, value string")
        .parquet(sinks.resolve("op-*").resolve("entity=*").toString)
        .withColumn("f", input_file_name())
        .withColumn("entity", concat(regexp_extract(col("f"), "/op-([0-9]+)/", 1), lit("/"),
          regexp_extract(col("f"), "/entity=([^/]+)/", 1)))
        .drop("f")))
    // seam equality: the sink read back must carry exactly the feed
    // Backfill.run emits for the same Config over the parquet source
    val want = expected()
    val bad = ran.flatMap { r =>
      val g = got.getOrElse(r.seq, Map.empty)
      val w = want.getOrElse(r.slot.toLong, Map.empty)
      if (g == w && g.nonEmpty) None
      else Some(r.seq -> s"sink checksum $g != parquet-source checksum $w")
    }.toMap
    (bad, ran.map(r => r.seq -> got.getOrElse(r.seq, Map.empty).values.map(_._1).sum).toMap)
  }

  def layers(traced: Seq[OpRecord]): Map[String, Double] = {
    import EngineCounters._
    val tr = ctx.tr
    val n = traced.size
    val write = "sinks.EventSink.write"
    val rowsOut = Workload.delta(tr, write, OutputRecords).toDouble
    val files = traced.map(r => Workload.du(sinkOf(r.seq))._2).sum
    Map(
      "sources.Jdbc.load.ms" -> Workload.selfPerOp(tr, "sources.Jdbc.load", n),
      "pipeline.Backfill.run.ms" -> Workload.selfPerOp(tr, "pipeline.Backfill.run", n),
      "sinks.EventSink.write.ms" -> Workload.selfPerOp(tr, write, n),
      "sources.jdbc_rows_read_per_row_out" ->
        Workload.ratio(Workload.delta(tr, write, InputRecords).toDouble, rowsOut),
      "sinks.bytes_per_row" ->
        Workload.ratio(Workload.delta(tr, write, OutputBytes).toDouble, rowsOut),
      "sinks.files_per_op" -> Workload.ratio(files.toDouble, n))
  }

  def sizes: Map[String, Long] = Map(
    "derby.orders_rows" -> Source.derbyCount(url, "ORDERS"),
    "derby.lineitem_rows" -> Source.derbyCount(url, "LINEITEM"),
    "parquet.orders_rows" -> Gen.Orders.toLong,
    "parquet.lineitem_rows" -> Gen.Lineitems.toLong,
    "derby.indexes" -> 2L)

  override def close(): Unit = Workload.rmrf(sinks)
}

// ============================================================== index_serve

/** Read-only top-k retrieval over the memoized corpus indexes: per op one
  * query batch through the two probes `Retrieval.hybridSearch` fuses. */
final class IndexServe(val ctx: Ctx) extends Workload {
  import ctx._
  val name = "index_serve"
  /** Two: a third replay (5-7 s) does not fit the run budget beside the
    * index builds; see graftbench/README.md, "Warm-up". */
  val maxWarmReplays = 2
  val cycle = 2
  val K = 10
  val NProbe = 8
  val Iters = 2
  val ops: IndexedSeq[Gen.ServeOp] = Gen.serveOps(seed, cycle)
  private def dir = source.toString

  /** Builds the index side over the two corpus tables (once per dataset,
    * behind graft's Memo), text and vectors on two threads. */
  def setup(): Unit = {
    val bm25 = Future {
      phase("bm25_index") {
        Retrieval.postingsTable(spark, dir)
        Retrieval.docLengths(spark, dir)
        Retrieval.corpusStats(spark, dir)
      }
    }(ExecutionContext.global)
    phase("ivf_index")(Similarity.assignmentTable(spark, dir, Iters))
    Await.result(bm25, Duration.Inf)
  }

  final case class Out(bm25: Seq[Row], ann: Seq[Row])

  def run(seq: Long, slot: Int): Any = {
    val op = ops(slot)
    val bm = ctx.tr.span("operators.Retrieval.bm25Batch.plan") {
      Retrieval.bm25Batch(spark, dir, op.queries, K)
    }
    val bmRows = ctx.tr.span("operators.Retrieval.bm25Batch.exec")(bm.collect().toSeq)
    val ann = ctx.tr.span("operators.Similarity.probedTopKForIds.plan") {
      Similarity.probedTopKForIds(spark, dir, op.vecIds, K, NProbe, Iters)
    }
    val annRows = ctx.tr.span("operators.Similarity.probedTopKForIds.exec")(ann.collect().toSeq)
    Out(bmRows, annRows)
  }

  /** The full-scan oracle twin's ranking for every distinct query of the
    * op list. */
  private def oracle(): Map[Seq[String], Seq[(Long, Long, Double)]] =
    phase("check_oracle") {
      val queries = ops.flatMap(_.queries.map(_._2)).distinct
      queries.zip(ctx.parallel(queries.map(q => () =>
        Retrieval.bm25Search(spark, dir, q, K).collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))))).toMap
    }

  /** Exact cosine top-k by brute force on the driver (recall reference). */
  private lazy val exact: Map[Long, Set[Long]] = {
    val vs = (0L until Gen.Vectors).map { v =>
      val x = Gen.embedding(Gen.DataSeed, v)._1.map(_.toDouble)
      (v, x, math.sqrt(x.map(a => a * a).sum))
    }
    ops.flatMap(_.vecIds).distinct.map { q =>
      val (_, qx, qn) = vs(q.toInt)
      q -> vs.filter(_._1 != q).map { case (v, x, n) =>
        var d = 0.0; var i = 0
        while (i < x.length) { d += x(i) * qx(i); i += 1 }
        (v, d / (qn * n))
      }.sortBy(p => (-p._2, p._1)).take(K).map(_._1).toSet
    }.toMap
  }

  def verify(done: Seq[OpRecord]): (Map[Long, String], Map[Long, Long]) = {
    val ran = done.filter(_.error.isEmpty)
    val want = oracle()
    val bad = ran.flatMap { r =>
      val out = r.output.asInstanceOf[Out]
      val op = ops(r.slot)
      val bmErr = op.queries.flatMap { case (qid, terms) =>
        val got = out.bm25.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
          .map(x => (x.getLong(2), x.getLong(3), x.getDouble(4)))
        if (got == want(terms)) None else Some(s"bm25 query $qid $terms: $got != ${want(terms)}")
      }
      val annErr = op.vecIds.flatMap { q =>
        val rows = out.ann.filter(_.getLong(0) == q)
        val ranks = rows.map(_.getLong(1))
        val ids = rows.map(_.getLong(2))
        val cos = rows.map(_.getDouble(3))
        val ok = ranks == (1L to K.toLong) && ids.distinct.size == K && !ids.contains(q) &&
          cos.zip(cos.drop(1)).forall { case (a, b) => a >= b }
        if (ok) None else Some(s"ann query $q: ranks $ranks ids $ids")
      }
      (bmErr ++ annErr).headOption.map(r.seq -> _)
    }.toMap
    (bad, ran.map { r =>
      val o = r.output.asInstanceOf[Out]
      r.seq -> (o.bm25.size + o.ann.size).toLong
    }.toMap)
  }

  def layers(traced: Seq[OpRecord]): Map[String, Double] = {
    val tr = ctx.tr
    val n = traced.size
    val results = traced.map { r =>
      val o = r.output.asInstanceOf[Out]; o.bm25.size + o.ann.size
    }.sum
    val recall = traced.flatMap { r =>
      val o = r.output.asInstanceOf[Out]
      ops(r.slot).vecIds.map { q =>
        o.ann.filter(_.getLong(0) == q).map(_.getLong(2)).toSet
          .intersect(exact(q)).size.toDouble / K
      }
    }
    Map(
      "operators.Retrieval.bm25Batch.plan_ms" -> Workload.selfPerOp(tr, "operators.Retrieval.bm25Batch.plan", n),
      "operators.Retrieval.bm25Batch.exec_ms" -> Workload.selfPerOp(tr, "operators.Retrieval.bm25Batch.exec", n),
      "operators.Similarity.probedTopKForIds.plan_ms" -> Workload.selfPerOp(tr, "operators.Similarity.probedTopKForIds.plan", n),
      "operators.Similarity.probedTopKForIds.exec_ms" -> Workload.selfPerOp(tr, "operators.Similarity.probedTopKForIds.exec", n),
      "operators.rows_read_per_result" -> Workload.ratio(tr.spans
        .filter(s => s.name == "op" && traced.exists(_.seq == s.op))
        .map(_.delta(EngineCounters.InputRecords)).sum.toDouble, results),
      "operators.ann_recall_at_k" -> (if (recall.isEmpty) 0.0 else recall.sum / recall.size))
  }

  /** The churn layers ride along in the traced run: one replay of a
    * two-op churn list over this corpus (see graftbench/README.md). */
  override lazy val companion: Option[Workload] = Some(new IndexChurnWorkload(ctx, half = 1))

  def sizes: Map[String, Long] = Map(
    "parquet.documents_rows" -> Gen.Docs.toLong,
    "parquet.embeddings_rows" -> Gen.Vectors.toLong,
    "memo.postings_rows" -> Retrieval.postingsTable(spark, dir).count(),
    "memo.ivf_assignment_rows" -> Similarity.assignmentTable(spark, dir, Iters).count())
}

// ============================================================== index_churn

/** Writes beside reads on the churnable index tables: per op one churn
  * batch, a compaction tick on each table, then one BM25 serve. */
final class IndexChurnWorkload(val ctx: Ctx, half: Int) extends Workload {
  import ctx._
  val name = "index_churn"
  val maxWarmReplays = 2
  val PerOp = 8
  /** compactIfNeeded's threshold on a plain tick (graft's default) and on
    * a compaction op (any debt). */
  val TickThreshold = 0.05
  val CompactThreshold = 0.0
  val K = 10
  val Buckets = 8
  val cycle: Int = 2 * half
  val (absent0, ops) = Gen.churnCycle(seed, half, PerOp)
  private val post = "gb_churn_post"
  private val dl = "gb_churn_dl"
  private val assign = "gb_churn_assign"
  private val tables = Seq(
    (post, Seq("token", "doc_id"), Seq("token")),
    (dl, Seq("doc_id"), Seq("doc_id")),
    (assign, Seq("c_id", "vec_id"), Seq("c_id")))
  private def dir = source.toString

  /** The client's view of the corpus: text variant per doc, and which
    * docs are live. */
  private val variant = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
  private val live = scala.collection.mutable.Set[Long]()
  private lazy val centroids = Similarity.trainCentroids(spark, dir, iters = 2)
  private lazy val emb = Similarity.embeddingsWithNorm(spark, dir)
  private def embedder(b: DataFrame): DataFrame =
    emb.join(b.select(col("doc_id").as("vec_id")), "vec_id")
  var compactions = 0
  var compactionsTraced = 0

  private def text(d: Long): String = Gen.docText(Gen.DataSeed, d, variant(d))
  private def docsFrame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(d => (d, text(d))).toDF("doc_id", "text")
  }
  private def tfOf(docs: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => T}
    docs.select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
  }
  private def doclensOf(docs: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => T}
    docs.select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("dl"))
  }

  def setup(): Unit = {
    live ++= (0L until Gen.Docs).filterNot(absent0.contains)
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(!col("doc_id").isin(absent0.toSeq: _*))
      .select("doc_id", "text")
    def save(df: DataFrame, table: String, bucketCol: String): Unit =
      IndexChurn.stamp(df, "U", -1L).write.mode("overwrite")
        .bucketBy(Buckets, bucketCol).sortBy(bucketCol).saveAsTable(table)
    phase("churn_tables") {
      save(tfOf(docs), post, "token")
      save(doclensOf(docs), dl, "doc_id")
      save(Similarity.assignVectors(embedder(docs), centroids), assign, "c_id")
    }
  }

  final case class Out(served: Seq[(Long, Double)], liveAfter: Set[Long])

  def run(seq: Long, slot: Int): Any = {
    val op = ops(slot)
    import spark.implicits._
    // deletes carry their before-image; updates are D(old) + U(new);
    // re-inserts are U with the doc's current text
    val before = op.updates.map(d => ("D", d, text(d)))
    op.updates.foreach(d => variant(d) = 1 - variant(d))
    val batch = op.deletes.map(d => ("D", d, text(d))) ++ before ++
      op.updates.map(d => ("U", d, text(d))) ++ op.reinserts.map(d => ("U", d, text(d)))
    live --= op.deletes
    live ++= op.reinserts
    ctx.tr.span("streaming.StreamingBackfill.applyChurnBatch") {
      StreamingBackfill.applyChurnBatch(spark, post, assign, centroids,
        embedder, batch.toDF("op", "doc_id", "text"), seq, Buckets, Some(dl))
    }
    ctx.tr.span("sources.IndexChurn.compactIfNeeded") {
      tables.foreach { case (t, keys, bucketCols) =>
        if (IndexChurn.compactIfNeeded(spark, t, keys, bucketCols, Buckets,
            if (op.compact) CompactThreshold else TickThreshold)) {
          compactions += 1
          if (ctx.tr.enabled) compactionsTraced += 1
        }
      }
    }
    val served = ctx.tr.span("operators.churn_serve") {
      Retrieval.bm25RankWith(
        IndexChurn.served(spark, post, Seq("token", "doc_id"))
          .filter(col("token").isin(op.query: _*)),
        IndexChurn.served(spark, dl, Seq("doc_id")), K).collect().toSeq
    }
    Out(served.map(r => (r.getLong(0), r.getDouble(2))), live.toSet)
  }

  def verify(done: Seq[OpRecord]): (Map[Long, String], Map[Long, Long]) = {
    val ran = done.filter(_.error.isEmpty)
    // per op: k rows at most, ranked, and never a deleted document
    val bad = ran.flatMap { r =>
      val o = r.output.asInstanceOf[Out]
      val scores = o.served.map(_._2)
      val dead = o.served.map(_._1).filterNot(o.liveAfter.contains)
      if (o.served.size <= K && o.served.nonEmpty && dead.isEmpty &&
          scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }) None
      else Some(r.seq -> s"served $o (dead docs $dead)")
    }.toMap
    // at run end: BM25 from the churned tables equals BM25 over a fresh
    // build of the live documents, for every query of the list; and
    // the served postings equal the fresh postings exactly
    val fresh = docsFrame(live.toSeq.sorted).cache()
    val freshTf = tfOf(fresh)
    val freshDl = doclensOf(fresh)
    val servedTf = IndexChurn.served(spark, post, Seq("token", "doc_id"))
      .select("token", "doc_id", "tf")
    val end = phase("check_end_state")(ctx.parallel(ops.map(_.query).distinct.map(q => () => {
      val got = Retrieval.bm25RankWith(servedTf.filter(col("token").isin(q: _*)),
        IndexChurn.served(spark, dl, Seq("doc_id")), K).collect().toSeq
      val want = Retrieval.bm25RankWith(freshTf.filter(col("token").isin(q: _*)),
        freshDl, K).collect().toSeq
      if (got == want) None else Some(s"end-of-run bm25 $q: $got != $want")
    }) :+ (() => {
      val extra = servedTf.exceptAll(freshTf.select("token", "doc_id", "tf")).count()
      val missing = freshTf.select("token", "doc_id", "tf").exceptAll(servedTf).count()
      if (extra == 0 && missing == 0) None
      else Some(s"end-of-run postings: $extra stale, $missing missing")
    }))).flatten
    fresh.unpersist()
    val endBad = if (end.isEmpty) Map.empty[Long, String]
      else ran.lastOption.map(r => r.seq -> end.mkString("; ")).toMap
    (bad ++ endBad, ran.map(r =>
      r.seq -> (ops(r.slot).deletes.size + 2 * ops(r.slot).updates.size +
        ops(r.slot).reinserts.size).toLong).toMap)
  }

  private def tableDir(t: String): Path = java.nio.file.Paths.get(new java.net.URI(
    spark.sql(s"DESCRIBE TABLE EXTENDED $t").filter(col("col_name") === "Location")
      .head().getString(1)))

  def layers(traced: Seq[OpRecord]): Map[String, Double] = {
    import EngineCounters._
    val tr = ctx.tr
    val n = traced.size
    val apply = "streaming.StreamingBackfill.applyChurnBatch"
    val compact = "sources.IndexChurn.compactIfNeeded"
    val docs = traced.map(r => ops(r.slot)).map(o =>
      o.deletes.size + o.updates.size + o.reinserts.size).sum
    val written = Workload.delta(tr, apply, OutputBytes) + Workload.delta(tr, compact, OutputBytes)
    val (bytes, files) = tables.map(t => Workload.du(tableDir(t._1)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val liveRows = tables.map { case (t, keys, _) => IndexChurn.served(spark, t, keys).count() }.sum
    val (rowsAll, tomb) = tables.map { case (t, _, _) =>
      spark.sql(s"REFRESH TABLE $t")
      val r = spark.table(t).agg(count(lit(1)), sum(when(col("op") === "D", 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Map(
      "streaming.StreamingBackfill.applyChurnBatch.ms" -> Workload.selfPerOp(tr, apply, n),
      "sources.IndexChurn.compactIfNeeded.ms" -> Workload.selfPerOp(tr, compact, n),
      "sources.compactions" -> compactionsTraced.toDouble,
      "sources.bytes_written_per_doc" -> Workload.ratio(written.toDouble, docs),
      "operators.churn_serve.ms" -> Workload.selfPerOp(tr, "operators.churn_serve", n),
      "sources.index_files_end" -> files.toDouble,
      "sources.bytes_per_live_row_end" -> Workload.ratio(bytes.toDouble, liveRows),
      "sources.debt_fraction_end" -> Workload.ratio(tomb.toDouble, rowsAll))
  }

  def sizes: Map[String, Long] = Map(
    "parquet.documents_rows" -> Gen.Docs.toLong,
    "parquet.embeddings_rows" -> Gen.Vectors.toLong,
    "churn.live_docs_start" -> (Gen.Docs - absent0.size).toLong) ++
    tables.map { case (t, _, _) => s"churn.$t.rows" -> spark.table(t).count() }
}
