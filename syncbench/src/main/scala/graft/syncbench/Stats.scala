package graft.syncbench

/** Order statistics used by every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Samples required beyond a reported tail percentile. */
  val TailBeyond = 10

  /** The tail of a latency sample: the highest percentile that still has
    * at least `beyond` samples beyond it — the order statistic with
    * exactly `beyond` larger samples — with that percentile. None with
    * `beyond` or fewer samples, where no such percentile exists. */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond)
      : Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val i = s.size - beyond - 1
      Some((s(i), 100.0 * (i + 1) / s.size))
    }

  /** Nearest-rank percentile `p` (0–100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1,
      math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
}
