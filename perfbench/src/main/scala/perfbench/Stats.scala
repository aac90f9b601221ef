package perfbench

/** Order statistics over latency samples. A failed op is recorded as
  * +Infinity, so it lands beyond every latency limit.
  */
object Stats {
  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest percentile from a fixed ladder that still
    * has at least `beyond` samples strictly above its rank. Returns
    * (percentile, value), or None when no rung qualifies.
    */
  def tail(xs: Seq[Double], beyond: Int = 10,
           ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)): Option[(Double, Double)] = {
    val n = xs.size
    ladder.find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1)
      n - rank >= beyond
    }.map(p => p -> percentile(xs, p))
  }
}
