package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of all samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile rank out of (0, 1]: $p")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size - 1e-9).toInt) - 1)
  }

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of the usual tail ranks that still leaves at least
    * `beyond` samples above it, or None when even p50 does not. */
  def tailRank(n: Int, beyond: Int = 10): Option[Double] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => n * (1 - p) >= beyond - 1e-9)
}
