package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Session pins UTC and keeps TopK/BottomK on the intended
    // ObjectHashAggregate plan, not the 128-group sort fallback
    val spark = Session()
    // warm the two scan paths once so the first measured query doesn't
    // absorb file-index/codegen bootstrap cost. In try: a broken table
    // must cost its own queries, not the whole round's perf signal
    // (r7's bench died HERE and produced zero numbers — BENCH_r07 rc:1).
    // NonFatal only: an OOM-doomed JVM must not limp into the timed loop
    try {
      Tables.load(spark, sfDir, "events").count()
      Tables.load(spark, sfDir, "lineitem").count()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] warm-up failed (continuing): $e") }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // Three ROUND-ROBIN passes over the whole set, per-query min across
    // passes. Back-to-back repeats (the old scheme) are contention-blind:
    // a box-load spike lasting longer than one query's three consecutive
    // runs defeats the min and fabricates a phantom regression (official
    // r8 carried ngram_jaccard at 12.13 s vs 0.31 s reproducible). With
    // passes, a spike must span the ENTIRE run to poison any one query.
    val times = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[Double]]()
    queries.foreach { case (n, _) =>
      times(n) = scala.collection.mutable.ArrayBuffer[Double]() }
    // the ONE standard-pass count: the pass loop and the results'
    // standard/bonus split below both read it, so they can never drift
    // (a take(3) hardcoded apart from the loop would silently reclass
    // bonus passes as standard if either side changed alone)
    val StandardPasses = 3
    val passTotals = scala.collection.mutable.ArrayBuffer[Double]()
    // box-load forensics: the 1-minute /proc/loadavg sampled at start
    // and after every pass, emitted next to pass_totals — past rounds
    // (r10, r12 officials) carried dirty passes that could only be
    // ATTRIBUTED to contention by inference; this records the evidence
    // in the artifact itself
    val loadavgs = scala.collection.mutable.ArrayBuffer[Double]()
    def sampleLoad(): Unit = loadavgs += (try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0).toDouble
    } catch { case NonFatal(_) => -1.0 })
    sampleLoad()
    def runPass(): Unit = {
      var tot = 0.0
      queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case NonFatal(_) => false }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // cache cleanup OUTSIDE the timed window (LSH queries persist
        // signature tables; later queries shouldn't inherit the pressure)
        spark.catalog.clearCache()
        times(name) += (if (ok) elapsed else -1.0)
        if (ok) tot += elapsed
      }
      passTotals += tot
      sampleLoad()
    }
    (0 until StandardPasses).foreach(_ => runPass())
    // contention guard: with three passes, a load spike spanning one of
    // the two WARMED passes still inflates the per-query min (r10's
    // official run carried pass totals [158.0, 70.8, 129.6] — the third
    // sample dirty, and the min can't cut through with only one clean
    // warmed pass). Pass 1 is excluded from the spread test — it
    // structurally carries JIT/codegen warm-up and would trip the guard
    // on a perfectly quiet box (its per-query times still feed the min,
    // which only helps). When the warmed passes disagree by >1.5×, buy
    // ONE more clean-box chance; quiet boxes sit near 1.1×
    def warmed = passTotals.drop(1)
    def spreadDirty = warmed.nonEmpty && warmed.min > 0 &&
      warmed.max > 1.5 * warmed.min
    if (spreadDirty) runPass()
    // escalation: r12's official run had TWO of three passes dirty
    // ([229.2, 84.1, 118.6]) — the single bonus pass left only one
    // clean warmed sample, thin evidence for 182 per-query mins. When,
    // after the bonus pass, two or more warmed passes still sit >1.5×
    // above the warmed minimum, buy a FIFTH; beyond that the box is
    // hopeless and the loadavg trail tells the reader why
    if (passTotals.size > StandardPasses && warmed.min > 0 &&
        warmed.count(_ > 1.5 * warmed.min) >= 2) runPass()
    val results = queries.map { case (name, _) =>
      val ts = times(name)
      // a query must succeed in every STANDARD pass to count; any
      // standard-pass failure is the visible -1 marker, never a fast
      // "win". The contention-triggered BONUS pass only ever adds
      // evidence: its successes feed the min, its transient failures
      // are ignored — a query that succeeded 3/3 must not be erased
      // by the extra pass the guard bought to protect it
      val std = ts.take(StandardPasses)
      name -> (if (std.isEmpty || std.exists(_ < 0)) -1.0
        else (std ++ ts.drop(StandardPasses).filter(_ >= 0)).min)
    }
    def r4(v: Double): String = if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    // failed queries carry the -1 marker per-query but must not be
    // summed into the headline (a -1 would silently UNDERSTATE it);
    // they are named so a truncated capture still shows the failure
    val (bad, good) = results.partition(_._2 < 0)
    val failed = bad.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = good.map(_._2).sum
    // per-pass totals expose contention: a quiet box shows three similar
    // totals; a spiked pass stands out and explains any residual skew
    val pt = passTotals.map(r4).mkString("[", ",", "]")
    // loadavg[0] is the pre-run sample; loadavg[i] follows pass i
    val la = loadavgs.map(v => String.format(java.util.Locale.ROOT,
      "%.2f", Double.box(v))).mkString("[", ",", "]")
    // queries first, metric/total LAST: a tail-truncating capture keeps
    // the headline number either way
    val line = s"""{"queries":$qs,"sf":"$sfDir","failed":$failed,"pass_totals":$pt,"loadavg":$la,"metric":"total","unit":"sec","value":${r4(total)}}"""
    println(line)
    // the stdout capture has truncated per-query numbers in past rounds;
    // the same JSON goes to a file so every query's time survives review.
    // Default is an UNTRACKED path: the driver's run must not overwrite
    // the committed quiet-box BENCH_DETAIL.json evidence (r8 finding #2)
    try {
      val p = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_DETAIL", "target/bench_detail.json"))
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) =>
      System.err.println(s"bench detail write failed: $e") }
    spark.stop()
  }
}
