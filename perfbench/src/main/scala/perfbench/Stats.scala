package perfbench

/** Order statistics behind every reported median and percentile. */
object Stats {

  /** Linear-interpolated percentile (numpy's default, "R-7"): the value
    * at rank (n - 1) * p / 100 of the sorted sample, `p` in [0, 100].
    */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.toArray.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: collection.Seq[Double]): Double = percentile(xs, 50)

  /** How many samples of `n` lie beyond the p-th percentile. A tail is
    * only reported when this is at least 10.
    */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The highest of the candidate percentiles with at least ten samples
    * beyond it, or None when even the lowest has fewer.
    */
  def tailPercentile(n: Int, candidates: Seq[Double] = Seq(99, 95, 90))
      : Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= 10)
}
