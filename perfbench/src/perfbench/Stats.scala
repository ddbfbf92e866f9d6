package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency with the percentile it sits at and the sample count. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest nearest-rank percentile that still has at least ten
    * samples above it: with n samples that is the 11th largest, at
    * percentile 100·(n−10)/n. With ten samples or fewer no percentile
    * qualifies; the second largest is returned instead, at its percentile
    * 100·(n−1)/n (the maximum when n is 1), so that the tail of a short
    * series is not decided by its single worst sample. The caller prints
    * the percentile and n beside the value.
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n == 1) Tail(s.head, 100.0, 1)
    else if (n <= 10) Tail(s(n - 2), 100.0 * (n - 1) / n, n)
    else Tail(s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Closed time intervals [start, end) in nanoseconds. */
object Intervals {

  /** Length of the union of `intervals`, each clipped to [from, to). */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time in [from, to) that none of `intervals` covers: a span's self
    * time against its children, or its driver time against Spark's jobs.
    */
  def uncovered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    (to - from) - covered(intervals, from, to)
}
