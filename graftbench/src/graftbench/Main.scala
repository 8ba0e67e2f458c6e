package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One closed-loop client over one workload: set up, warm with replays of
  * the op list until two consecutive replay medians agree, time whole
  * replays of it for `--seconds` (with `--trace 1`, untraced and traced
  * replays alternate), check every op, print the result.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --fixture <dir> [--out <dir>]
  */
object Main {

  /** Warm-up ends when two consecutive replays' median ops agree within
    * this share, or at the workload's cap on replays. The detail line
    * records each replay's wall time and median op, and whether the
    * warm-up ended steady. */
  val SteadyTol = 0.1
  /** The timed phase covers at least this many ops (and whole replays),
    * so a median rests on more than the two ops of `index_serve`'s list. */
  val MinTimedOps = 4

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  /** CPU time of this process, all threads. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  /** The machine's cpu time counters from /proc/stat (user nice system idle
    * iowait irq softirq steal ...), in ticks. */
  def cpuTicks(): Array[Long] =
    try new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8").linesIterator
      .next().trim.split("\\s+").drop(1).map(_.toLong)
    catch { case NonFatal(_) => Array.empty }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case NonFatal(_) => "unavailable" }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case None => "null"
    case Some(x) => json(x)
    case other => json(other.toString)
  }

  /** The client's session: local[cpus], every path inside `work`. */
  def session(work: Path, cpus: Int): SparkSession = {
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("graft.memo.root", work.resolve("memo").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      // no result line: the launcher reports the failure
      Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val fixture = Paths.get(arg(args, "--fixture").getOrElse(sys.error("--fixture is required")))
    val out = arg(args, "--out").map(Paths.get(_))
    require(Workload.Names.contains(name),
      s"unknown workload '$name' (expected one of ${Workload.Names.mkString(", ")})")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val nproc = Runtime.getRuntime.availableProcessors()
    // half the cores: the rest stay free for the driver thread, the JIT
    // and GC threads, and the host's own share of a shared machine
    val cpus = math.max(1, math.min(4, nproc / 2))

    val spark = session(work, cpus)
    val ctx = new Ctx(spark, seed, work, fixture, cpus)
    ctx.phases("jvm_and_session") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w = Workload(name, ctx)
    val t0 = System.nanoTime()
    w.setup()
    val setupOnlyS = (System.nanoTime() - t0) / 1e9

    val done = ArrayBuffer[OpRecord]()
    var seq = 0L
    def run(wl: Workload, slot: Int, phase: String): OpRecord = {
      ctx.tr.op = seq
      val s = System.nanoTime()
      val (output, error) =
        try (ctx.tr.span("op")(wl.run(seq, slot)), None)
        catch { case NonFatal(e) => (null, Some(e.toString)) }
      val r = OpRecord(seq, slot, phase, (System.nanoTime() - s) / 1e6, output, error)
      seq += 1
      r
    }
    def one(slot: Int, phase: String): OpRecord = {
      val r = run(w, slot, phase)
      done += r
      r
    }
    /** One replay of the op list: its ops and its wall seconds. */
    def replay(phase: String): (Seq[OpRecord], Double) = {
      val s = System.nanoTime()
      val rs = (0 until w.cycle).map(slot => one(slot, phase))
      (rs, (System.nanoTime() - s) / 1e9)
    }
    /** Replays of one phase, with their total wall seconds. */
    final class Phase(name: String) {
      val ops = ArrayBuffer[OpRecord]()
      var secs = 0.0
      def add(): Unit = { val (rs, s) = replay(name); ops ++= rs; secs += s }
    }

    val warmStart = System.nanoTime()
    def warmS = (System.nanoTime() - warmStart) / 1e9
    // replays of the op list until two consecutive replay medians agree
    // within SteadyTol, at most w.maxWarmReplays replays
    val warm = ArrayBuffer[(Seq[OpRecord], Double)]()
    def med(i: Int) = Stats.median(warm(i)._1.map(_.ms))
    def steady = warm.size >= 2 &&
      math.abs(med(warm.size - 1) / med(warm.size - 2) - 1) <= SteadyTol
    while (warm.size < 2 || (!steady && warm.size < w.maxWarmReplays)) warm += replay("warm")
    val warmMedians = warm.indices.map(med)
    val warmWalls = warm.map(_._2).toSeq
    ctx.phases("warm") = warmS
    val firstTimedMs = System.currentTimeMillis()
    val setupS = (firstTimedMs - jvmStartMs) / 1e3

    // Whole replays, so every op of the list is timed equally often, until
    // `seconds` have passed and at least MinTimedOps ops. With tracing,
    // untraced and traced replays alternate in pairs (U T, T U, U T, ...),
    // so both see the same JVM warmth and their difference is the tracer's.
    val plain = new Phase("timed")
    val traced = new Phase("traced")
    val cpuBefore = Main.processCpuNs()
    val statBefore = Main.cpuTicks()
    val timedStart = System.nanoTime()
    def timedS = (System.nanoTime() - timedStart) / 1e9
    if (!trace)
      while (plain.ops.size < MinTimedOps || timedS < seconds) plain.add()
    else {
      var i = 0
      while (traced.ops.size < MinTimedOps || timedS < seconds) {
        val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach { on =>
          if (on) { ctx.tr.enable(); traced.add(); ctx.tr.disable() } else plain.add()
        }
        i += 1
      }
    }
    val cpuMsPerOp = (Main.processCpuNs() - cpuBefore) / 1e6 / math.max(1, plain.ops.size + traced.ops.size)
    val statAfter = Main.cpuTicks()
    val stealShare = {
      val d = statAfter.zip(statBefore).map { case (a, b) => a - b }
      if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else -1.0
    }
    val heapMb = heapAfterGcMb()
    // the traced run also replays the companion's op list once, traced
    val companion = if (trace) w.companion else None
    val compDone = companion.toSeq.flatMap { c =>
      ctx.phase("companion_setup")(c.setup())
      ctx.tr.enable()
      try (0 until c.cycle).map(slot => run(c, slot, "companion"))
      finally ctx.tr.disable()
    }

    // checks, outside every timed window
    def check(wl: Workload, ops: Seq[OpRecord]) =
      try (ctx.phase(s"verify_${wl.name}")(wl.verify(ops)), None)
      catch { case NonFatal(e) => ((Map.empty[Long, String], Map.empty[Long, Long]), Some(e.toString)) }
    val ((failures0, rows), checkError0) = check(w, done.toSeq)
    val ((compFailures, _), compError) = companion.map(check(_, compDone))
      .getOrElse(((Map.empty[Long, String], Map.empty[Long, Long]), None))
    val failures = failures0 ++ compFailures
    val checkError = checkError0.orElse(compError)
    def failed(r: OpRecord) = r.error.isDefined || failures.contains(r.seq)
    val scored = plain.ops ++ traced.ops ++ compDone
    val attempted = scored.size
    val nFailed = scored.count(failed)
    val everything = done.toSeq ++ compDone
    val correct = checkError.isEmpty && !everything.exists(failed)

    val lat = plain.ops.map(_.ms).toSeq
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(lat), "ms"),
      "ops_per_s" -> (plain.ops.size / plain.secs, "1/s"),
      "rows_per_s" -> (plain.ops.map(r => rows.getOrElse(r.seq, 0L)).sum / plain.secs, "1/s"),
      "heap_mb" -> (heapMb, "MB"))
    val layerMetrics: Map[String, (Double, String)] =
      if (!trace) Map.empty
      else layerReport(ctx.tr, traced.ops.toSeq, plain.ops.size / plain.secs,
        traced.ops.size / traced.secs,
        w.layers(traced.ops.toSeq) ++ companion.map(_.layers(compDone)).getOrElse(Map.empty))
    val sizes = try w.sizes ++ companion.map(_.sizes).getOrElse(Map.empty)
      catch { case NonFatal(e) => Map("error: " + e.toString -> -1L) }
    val env = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus_used" -> cpus, "nproc" -> nproc,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
        .map(_.toString).filter(a => a.startsWith("-Xm") || a.startsWith("-XX")),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      // "sharing" when the class-data-sharing archive is mapped
      "jvm_info" -> System.getProperty("java.vm.info"),
      "spark_version" -> spark.version, "sizes" -> sizes)
    val detail = Map(
      "environment" -> env,
      "setup_only_s" -> setupOnlyS,
      "phases_s" -> ctx.phases.toMap,
      "warm_steady" -> steady,
      "warm_replay_medians_ms" -> warmMedians,
      "warm_replay_walls_s" -> warmWalls,
      "timed_op_ms" -> plain.ops.map(r => math.round(r.ms)).toSeq,
      "op_list_length" -> w.cycle,
      "timed_ops" -> plain.ops.size, "timed_s" -> plain.secs,
      "timed_cpu_ms_per_op" -> cpuMsPerOp, "timed_steal_share" -> stealShare,
      "traced_ops" -> traced.ops.size, "traced_s" -> traced.secs,
      "op_p90_ms" -> Stats.p90(lat),
      "op_tail_ms" -> Stats.tail(lat).map { case (p, v) => Map("percentile" -> p, "ms" -> v) },
      "fail_ratio" -> (if (attempted == 0) 0.0 else nFailed.toDouble / attempted),
      "check_error" -> checkError,
      "companion_ops" -> compDone.size,
      "failures" -> everything.filter(failed).take(5).map(r =>
        s"op ${r.seq}: ${r.error.getOrElse(failures.getOrElse(r.seq, ""))}".take(2000)).toSeq)
    println("graftbench detail " + json(detail))

    out.foreach { dir =>
      if (trace) ctx.tr.write(dir.resolve(s"spans-$name-$seed.jsonl"))
    }
    w.close()

    val metrics = (if (trace) layerMetrics else e2e)
      .map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) }
    println(json(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> nFailed, "metrics" -> metrics)))
    System.out.flush()
    // the work directory is deleted by the launcher: skip the session's
    // shutdown, which only cleans up inside it
    Runtime.getRuntime.halt(0)
  }

  /** Driver heap in use after full GCs. Spark's cleaner thread frees
    * broadcast and shuffle blocks asynchronously after a GC finds their
    * handles unreachable, so collect again, after a pause, until a reading
    * no longer drops by more than 1 MB (at most ten times). */
  def heapAfterGcMb(): Double = {
    def gc(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = gc()
    var next = gc()
    var n = 2
    while (next < last - 1.0 && n < 10) { last = next; next = gc(); n += 1 }
    math.min(last, next)
  }

  /** Per-layer metrics: engine counters per traced op, each workload's
    * layer spans, and the tracing overhead against the untraced phase. */
  private def layerReport(tr: Tracer, traced: Seq[OpRecord], plainOps: Double,
      tracedOps: Double, own: Map[String, Double]): Map[String, (Double, String)] = {
    import EngineCounters._
    val n = math.max(1, traced.size)
    val ids = traced.map(_.seq).toSet
    val ops = tr.spans.filter(s => s.name == "op" && ids.contains(s.op))
    def per(k: Int) = ops.map(_.delta(k)).sum.toDouble / n
    val busy = ops.map(tr.jobBusyMs).sum
    val wall = ops.map(_.ms).sum
    val spark = Map(
      "spark.jobs_per_op" -> (per(Jobs), "count"),
      "spark.stages_per_op" -> (per(Stages), "count"),
      "spark.tasks_per_op" -> (per(Tasks), "count"),
      "spark.executor_run_ms_per_op" -> (per(RunMs), "ms"),
      "spark.executor_cpu_ms_per_op" -> (per(CpuNs) / 1e6, "ms"),
      "spark.gc_ms_per_op" -> (per(GcMs), "ms"),
      "spark.shuffle_bytes_per_op" -> (per(ShuffleBytes), "bytes"),
      "spark.job_busy_ms_per_op" -> (busy / n, "ms"),
      "spark.driver_gap_ms_per_op" -> ((wall - busy) / n, "ms"),
      "spark.analysis_ms_per_op" -> (per(AnalysisMs), "ms"),
      "spark.optimization_ms_per_op" -> (per(OptimizationMs), "ms"),
      "spark.planning_ms_per_op" -> (per(PlanningMs), "ms"),
      "trace.untraced_ops_per_s" -> (plainOps, "1/s"),
      "trace.traced_ops_per_s" -> (tracedOps, "1/s"),
      "trace.overhead_ops_per_s" -> (plainOps - tracedOps, "1/s"))
    val all = Layers.All.map { case (k, unit) => k -> (own.getOrElse(k, 0.0), unit) }.toMap
    all ++ spark
  }
}

/** Every per-layer metric with its unit; a layer a workload does not call
  * reads 0 there. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "sources.Jdbc.load.ms" -> "ms",
    "pipeline.Backfill.run.ms" -> "ms",
    "sinks.EventSink.write.ms" -> "ms",
    "sources.jdbc_rows_read_per_row_out" -> "ratio",
    "sinks.bytes_per_row" -> "bytes",
    "sinks.files_per_op" -> "count",
    "operators.Retrieval.bm25Batch.plan_ms" -> "ms",
    "operators.Retrieval.bm25Batch.exec_ms" -> "ms",
    "operators.Similarity.probedTopKForIds.plan_ms" -> "ms",
    "operators.Similarity.probedTopKForIds.exec_ms" -> "ms",
    "operators.rows_read_per_result" -> "ratio",
    "operators.ann_recall_at_k" -> "ratio",
    "streaming.StreamingBackfill.applyChurnBatch.ms" -> "ms",
    "sources.IndexChurn.compactIfNeeded.ms" -> "ms",
    "sources.compactions" -> "count",
    "sources.bytes_written_per_doc" -> "bytes",
    "operators.churn_serve.ms" -> "ms",
    "sources.index_files_end" -> "count",
    "sources.bytes_per_live_row_end" -> "bytes",
    "sources.debt_fraction_end" -> "ratio")
}
