package dmsbench

/** Order statistics used by every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: every sample weighs the same in relative terms, so a
    * fast sample halving counts as much as a slow one halving.
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The tail: the highest rank that still has at least `beyond` samples
    * above it, i.e. the `(n - beyond)`-th smallest value. Returns the value
    * and its percentile (`100 * (n - beyond) / n`). With too few samples for
    * any rank to qualify, the median stands in and its percentile is 50.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val rank = n - beyond // 1-based rank of the reported sample
    if (rank < 1 || rank * 2 < n) (median(xs), 50.0)
    else (s(rank - 1), 100.0 * rank / n)
  }
}
