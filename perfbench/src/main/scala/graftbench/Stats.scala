package graftbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** 1-based nearest rank; the tolerance keeps 99.9% of 10000 at 9990. */
  private def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest of the usual reporting percentiles that still has at
    * least ten samples beyond it, or None below 20 samples. A tail
    * percentile with fewer samples beyond it is one or two outliers.
    */
  def supportedTail(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => beyond(n, p) >= 10)
}
