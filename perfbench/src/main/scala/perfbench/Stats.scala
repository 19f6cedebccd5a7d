package perfbench

/** Order statistics shared by every workload. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `q` of the
    * samples at or below it. `q` in (0, 1].
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, q) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** 1-based nearest rank of percentile `q` among `n` samples. */
  def rank(n: Int, q: Double): Int =
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))

  /** Percentiles the reports consider, highest first. */
  val Ladder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest percentile of [[Ladder]] that leaves at least `beyond`
    * samples above its rank — the highest percentile `n` samples support.
    * None when even the median has fewer than `beyond` samples above it.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.find(q => n - rank(n, q) >= beyond)

  /** Label such as "p99" or "p99.9" for a percentile in (0, 1]. */
  def label(q: Double): String = {
    val v = BigDecimal(q * 100).setScale(1, BigDecimal.RoundingMode.HALF_UP)
    "p" + v.bigDecimal.stripTrailingZeros.toPlainString
  }
}
