package graft.perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank `q`-quantile, reported only when it is resolved: at
    * least `minBeyond` samples must lie strictly above the quantile's rank.
    * With fewer samples a tail percentile is one or two unlucky runs, not a
    * property of the system, so callers get `None` instead of a number.
    */
  def tail(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] = {
    require(q > 0.0 && q < 1.0, s"quantile $q outside (0, 1)")
    val s = xs.sorted.toIndexedSeq
    val rank = math.ceil(q * s.size).toInt // 1-based nearest rank
    if (s.isEmpty || s.size - rank < minBeyond) None else Some(s(rank - 1))
  }

  /** Tail latency as reported: the p90 when [[tail]] resolves it, else the
    * sample maximum (an upper bound on it). The flag says which one.
    */
  def p90OrMax(xs: Seq[Double]): (Double, Boolean) =
    tail(xs, 0.9) match {
      case Some(v) => (v, true)
      case None    => (xs.max, false)
    }
}
