package perfbench

/** Order statistics with the reporting rule of the benchmark: a
  * percentile is reported only when at least [[MinBeyond]] samples lie
  * beyond it, so a tail figure is never one or two stragglers.
  */
object Stats {
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), or None when fewer than
    * [[MinBeyond]] samples rank above it.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(p * n).toInt.max(1)
    if (n - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
  }
}
