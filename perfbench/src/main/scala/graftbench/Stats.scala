package graftbench

/** Pure summary statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the value, the percentile it sits at and the number
    * of samples it was taken from. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that still has at least ten samples beyond
    * it: with n sorted samples that is rank n - 10 (1-based), the
    * 100 * (n - 10) / n percentile. Undefined below 11 samples. */
  def tail(xs: Seq[Double]): Option[Tail] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      val n = s.length
      Some(Tail(s(n - 11), 100.0 * (n - 10) / n, n))
    }

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curEnd.isNaN || s > curEnd) {
        if (!curEnd.isNaN) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (!curEnd.isNaN) covered += curEnd - curStart
    covered
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover (children are clipped to the parent's interval). */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
