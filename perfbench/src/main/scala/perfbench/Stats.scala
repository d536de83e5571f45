package perfbench

/** Order statistics and interval arithmetic for the benchmark's metrics. */
object Stats {

  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of p50/p75/p90/p95/p99/p99.9 that still has at least
    * ten samples beyond it, as (percentile, value). With fewer than
    * twenty samples no tail percentile qualifies and the median stands
    * in, so a tail figure is never read off a handful of samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
    val p = ladder.find(p => xs.size * (1 - p / 100.0) >= 10.0).getOrElse(50.0)
    (p, percentile(xs, p))
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Clip intervals to a window set: each interval intersected with
    * every window (the windows are the timed operations, disjoint). */
  def clip(intervals: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for {
      (s, e) <- intervals
      (ws, we) <- windows
      cs = math.max(s, ws)
      ce = math.min(e, we)
      if ce > cs
    } yield (cs, ce)
}
