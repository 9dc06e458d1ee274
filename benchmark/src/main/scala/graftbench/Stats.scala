package graftbench

/** Order statistics for the reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile that still has at least ten samples
    * above it, with its value: (percentile, value). With fewer than
    * eleven samples no percentile qualifies, and the maximum is reported
    * as percentile 100. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val eligible = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10)
    eligible match {
      case Some(p) => (p, quantile(xs, p / 100.0))
      case None => (100, xs.max)
    }
  }
}
