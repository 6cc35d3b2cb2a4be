package perfbench

/** Order statistics for the benchmark's reported latencies. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The `p`-th percentile, reported only when at least ten samples lie
    * beyond it: n * (1 - p/100) >= 10, so p50 needs 20 samples and p90
    * needs 100. */
  def percentile(xs: Seq[Double], p: Int): Option[Double] =
    if (xs.size * (100 - p) >= 1000) Some(quantile(xs, p / 100.0)) else None

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = a; curEnd = b
        } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
