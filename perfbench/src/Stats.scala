package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  /** Linear-interpolated quantile (the `numpy.percentile` default) of an
    * unsorted sample; `p` in [0, 100].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Percentiles a tail is reported at, lowest first. */
  val ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when even the median lacks ten samples above it.
    */
  def tailPercentile(n: Int): Option[Double] =
    ladder.filter(p => math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= 10).lastOption

  /** Least-squares slope of `ys` over `xs`. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.length
    if (n < 2) return 0.0
    val mx = xs.sum / n
    val my = ys.sum / n
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0.0) 0.0
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** Backlog-growth detector for an open-loop run. `t` is seconds since
    * the run started, `backlog` the rows offered but not yet committed
    * at that instant, `rate` the offered rows per second. Micro-batching
    * makes the backlog a sawtooth, so the test looks at the second half
    * of the run only and demands both a fitted growth larger than two
    * seconds of input and a last quarter that sits well above the
    * second quarter. Returns (growing, slope in rows/s over the second
    * half).
    */
  def backlogGrowing(t: Seq[Double], backlog: Seq[Double], rate: Double): (Boolean, Double) = {
    val n = t.length
    if (n < 8) return (false, 0.0)
    val half = n / 2
    val s = slope(t.drop(half), backlog.drop(half))
    val growth = s * (t.last - t(half))
    val q2 = backlog.slice(n / 4, half)
    val q4 = backlog.drop(3 * n / 4)
    val mean2 = q2.sum / q2.length
    val mean4 = q4.sum / q4.length
    (growth > 2.0 * rate && mean4 > 1.5 * mean2 + 1.0, s)
  }
}
