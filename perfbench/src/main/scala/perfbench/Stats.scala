package perfbench

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples needed beyond a percentile before it is reported. */
  val MinBeyond = 10

  /** The `p`-th percentile (nearest rank), but only when at least
    * [[MinBeyond]] samples lie strictly above its rank; otherwise None,
    * because a tail estimate resting on fewer samples is noise. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val n = xs.length
    if (n == 0) None
    else {
      val rank = math.ceil(p / 100 * n).toInt.max(1) // 1-based nearest rank
      if (n - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
    }
  }
}
