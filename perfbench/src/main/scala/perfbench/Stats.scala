package perfbench

/** Latency summaries. A median is always reported; a higher percentile only
  * when at least ten samples lie beyond it, so a p90 needs 100 samples and a
  * p99 needs 1,000.
  */
object Stats {

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Whether `q` has at least ten of `n` samples beyond it. */
  def reportable(q: Double, n: Int): Boolean = q <= 0.5 || (1.0 - q) * n >= 10.0 - 1e-9

  /** `quantile` when [[reportable]] and there are samples, else None. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.nonEmpty && reportable(q, xs.size)) Some(quantile(xs, q)) else None

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
