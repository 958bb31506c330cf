package perfbench

/** Summary statistics for timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` among `n` samples; the
    * epsilon keeps 99.9 % of 10,000 at rank 9,990, not 9,991.
    */
  private def rank(p: Double, n: Int): Int = math.ceil(p * n / 100 - 1e-9).toInt

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(rank(p, s.length) - 1, 0))
  }

  val Reported: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest reported percentile with at least ten samples beyond
    * it, if `n` samples allow one: a tail figure backed by fewer than
    * ten slower samples is noise, so none is claimed.
    */
  def tailPercentile(n: Int): Option[Double] =
    Reported.filter(p => n - rank(p, n) >= 10).lastOption
}
