package perfbench

/** Order statistics used by every workload's report. */
object Stats {

  /** Median; NaN for an empty sample. A failed operation enters a latency
    * sample as +Infinity, so failures can only push a median up.
    */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  }

  /** Tail rule: the highest order statistic with at least `beyond` samples
    * above it, i.e. the (n - beyond)-th smallest value (1-based). Returns
    * (value, percentile, n). With `n <= beyond` no such statistic exists,
    * and the maximum is reported as the 100th percentile.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) (s(n - 1), 100.0, n)
    else {
      val k = n - beyond // 1-based rank
      (s(k - 1), 100.0 * k / n, n)
    }
  }

  /** Geometric mean of positive values (+Infinity if any is infinite). */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of an empty sample")
    if (xs.exists(_.isInfinite)) Double.PositiveInfinity
    else math.exp(xs.map(math.log).sum / xs.length)
  }
}
