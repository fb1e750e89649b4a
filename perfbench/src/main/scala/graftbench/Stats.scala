package graftbench

/** The benchmark's own arithmetic: medians, interval unions and span self
  * time. Pure functions, unit-tested in `StatsSpec`. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length covered by the union of half-open intervals [start, end). */
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

  /** Length of the union of `intervals` clipped to [start, end). */
  def coveredWithin(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  /** Self time of a span: its duration minus the part of it that its child
    * spans cover. Overlapping children (two threads, or a child that
    * outlives its parent) are counted once and only inside the parent. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredWithin(start, end, children)
}
