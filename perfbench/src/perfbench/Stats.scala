package perfbench

/** The harness's own arithmetic, kept free of Spark so the self-test can
  * pin it: order statistics over timing samples and span self time.
  */
object Stats {

  /** Linear-interpolation quantile (the "type 7" rule numpy and R use by
    * default): q = 0 is the minimum, q = 1 the maximum, q = 0.5 the
    * median — the mean of the two middle samples when n is even.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that still has at least `beyond`
    * samples above it among `n` — the tail a sample count can support.
    * None when n cannot support even the median.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    val p = math.floor(100.0 * (n - beyond) / n).toInt
    if (n <= 0 || p < 50) None else Some(p)
  }

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of a span: its duration minus the part of that interval
    * its children cover (children clipped to the parent, overlaps
    * counted once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
