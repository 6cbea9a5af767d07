package perfbench

/** Order statistics and interval arithmetic used to reduce raw samples and
  * spans to the reported metrics.
  */
object Stats {

  /** Percentile `p` (0..100) of `xs` by linear interpolation between the
    * closest ranks (numpy's default); 0 for an empty sample.
    */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) return 0.0
    val s = xs.toIndexedSeq.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** Total length covered by a set of half-open intervals `[start, end)`;
    * overlapping intervals count once.
    */
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

  /** Length of `[start, end)` not covered by `children` (each clipped to
    * the parent interval).
    */
  def selfLength(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
