package posbench

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1).min(s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that leaves at least ten samples
    * above it; a sample of twenty or fewer falls back to the median.
    * Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val p = if (n <= 20) 50 else math.floor(100.0 * (n - 10) / n).toInt.max(50)
    (p, quantile(xs, p / 100.0))
  }
}
