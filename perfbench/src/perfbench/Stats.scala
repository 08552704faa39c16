package perfbench

/** Summary statistics with the benchmark's reporting rules. */
object Stats {

  /** Fewest samples a p90 may rest on: ten samples beyond the 90th
    * percentile, so one outlier cannot set it. */
  val MinP90Samples = 100

  /** Median; NaN for no samples (every op of that kind failed). */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** A latency summary. `p90Flagged` is true when the p90 rests on
    * fewer than [[MinP90Samples]] samples: the value is still the
    * interpolated quantile, but it must not be read as a tail bound. */
  case class Summary(n: Int, p50: Double, p90: Double, p90Flagged: Boolean)

  def summarize(xs: Seq[Double]): Summary =
    if (xs.isEmpty) Summary(0, Double.NaN, Double.NaN, p90Flagged = true)
    else Summary(xs.size, median(xs), quantile(xs, 0.9), xs.size < MinP90Samples)
}
