package perfbench

/** Order statistics of timing samples. */
object Stats {

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100 * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest percentile with at least ten samples beyond it, from
    * p50 upward in steps of 5 (p50 when there are fewer than 20). */
  def tailPercentile(n: Int): Double =
    (50 to 99 by 5).filter(p => n * (100 - p) / 100.0 >= 10).lastOption.getOrElse(50).toDouble
}
