package graftbench

/** Order statistics for the per-operation samples of one run. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear interpolation between the two closest ranks (NumPy's default):
    * rank = p/100 * (n - 1) over the sorted samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 100.0, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  /** Samples strictly above the p-th percentile: a percentile is reported
    * only when at least ten samples lie beyond it.
    */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val cut = percentile(xs, p)
    xs.count(_ > cut)
  }
}
