package graftbench

/** Order statistics for per-op latencies. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** p90 only when at least 10 samples lie beyond it (100 samples). */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= 100) Some(percentile(xs, 90)) else None

  /** The highest whole percentile with at least 10 samples above it, or
    * None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val n = xs.size
      val p = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
      p.map(q => q -> percentile(xs, q))
    }
}
