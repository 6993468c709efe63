package perfbench

/** Summary statistics over timing samples. */
object Stats {

  /** Samples that must lie beyond a reported percentile. */
  val TailSamples = 10

  /** Linear-interpolated percentile (`p` in [0, 100]) of non-empty `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Does a sample of `n` leave at least [[TailSamples]] samples beyond the
    * `p`th percentile? p90 needs 100 samples, p99 needs 1,000. */
  def supports(n: Int, p: Int): Boolean = n.toLong * (100 - p) >= TailSamples * 100L

  /** The `p`th percentile when the sample supports it. */
  def tail(xs: Seq[Double], p: Int): Option[Double] =
    if (supports(xs.size, p)) Some(percentile(xs, p)) else None
}
