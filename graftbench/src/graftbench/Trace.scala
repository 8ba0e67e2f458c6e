package graftbench

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for the traced run: a SparkListener for jobs, stages
  * and task metrics, and a QueryExecutionListener for the driver's
  * analysis / optimization / planning phases of every action. */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  import EngineCounters._
  private val c = Array.fill(Names.size)(new LongAdder)
  private def add(k: Int, v: Long): Unit = c(k).add(v)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** Finished job intervals (epoch ms), in completion order. */
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time)
    add(Jobs, 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(jobStarts.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    jobIntervals.synchronized { jobIntervals += ((s, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(Stages, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(Tasks, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(RunMs, m.executorRunTime)
      add(CpuNs, m.executorCpuTime)
      add(GcMs, m.jvmGCTime)
      add(ShuffleBytes, m.shuffleWriteMetrics.bytesWritten)
      add(InputRecords, m.inputMetrics.recordsRead)
      add(OutputRecords, m.outputMetrics.recordsWritten)
      add(OutputBytes, m.outputMetrics.bytesWritten)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    add(AnalysisMs, ms(QueryPlanningTrackerPhases.Analysis))
    add(OptimizationMs, ms(QueryPlanningTrackerPhases.Optimization))
    add(PlanningMs, ms(QueryPlanningTrackerPhases.Planning))
  }

  def snapshot(): Array[Long] = c.map(_.sum())
}

object EngineCounters {
  val Names: IndexedSeq[String] = IndexedSeq("jobs", "stages", "tasks",
    "executor_run_ms", "executor_cpu_ns", "gc_ms", "shuffle_bytes",
    "input_records", "output_records", "output_bytes",
    "analysis_ms", "optimization_ms", "planning_ms")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val RunMs = 3; val CpuNs = 4
  val GcMs = 5; val ShuffleBytes = 6; val InputRecords = 7
  val OutputRecords = 8; val OutputBytes = 9; val AnalysisMs = 10
  val OptimizationMs = 11; val PlanningMs = 12
}

private object QueryPlanningTrackerPhases {
  val Analysis = "analysis"
  val Optimization = "optimization"
  val Planning = "planning"
}

/** One traced call into a layer. Times are `System.nanoTime` readings;
  * `before`/`after` are the engine counters at the span's boundaries (the
  * listener bus is drained first, so every event the span caused is
  * counted inside it). */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long, before: Array[Long], after: Array[Long]) {
  def ms: Double = (endNs - startNs) / 1e6
  def delta(k: Int): Long = after(k) - before(k)
}

/** Span recorder. Disabled, `span` is a plain call and no listener is
  * registered; enabled, it records name, start, end, parent, op id and
  * counter deltas, in memory, for [[write]] at the end of the run. It
  * starts disabled. Single client thread by design. */
final class Tracer(spark: SparkSession) {
  val counters = new EngineCounters
  val spans: ArrayBuffer[Span] = ArrayBuffer()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  var op: Long = -1L
  private var on = false
  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    on = true
  }

  def disable(): Unit = if (on) {
    Shim.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    on = false
  }

  /** Epoch milliseconds of a span-clock instant (for job intervals). */
  def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      Shim.drainListenerBus(spark)
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = counters.snapshot()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        Shim.drainListenerBus(spark)
        spans += Span(id, parent, op, name, t0, t1, before, counters.snapshot())
      }
    }

  /** Self time of each span: its duration minus the time its direct
    * children cover. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Wall time of `s` that Spark jobs covered: the union of the job
    * intervals clipped to the span (its duration minus this is the
    * driver gap). */
  def jobBusyMs(s: Span): Double = {
    val lo = epochMs(s.startNs); val hi = epochMs(s.endNs)
    val iv = counters.jobIntervals.synchronized(counters.jobIntervals.toList)
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) busy += curB - curA
    busy
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val self = selfMs
    val lines = spans.map { s =>
      val counts = EngineCounters.Names.indices
        .map(k => s""""${EngineCounters.Names(k)}":${s.delta(k)}""").mkString(",")
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,"end_ms":${(s.endNs - originNs) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id)}%.3f,$counts}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
