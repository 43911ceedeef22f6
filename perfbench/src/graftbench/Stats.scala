package graftbench

/** Pure statistics of the benchmark: medians, the tail percentile rule,
  * and interval arithmetic for span self time and driver-only time.
  */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples needed beyond a tail percentile for it to count as measured. */
  val MinBeyond = 10

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A timing tail: the value, which percentile it is, the sample count
    * and how many samples lie beyond it.
    */
  final case class Tail(value: Double, percentile: Double, n: Int, beyond: Int)

  /** The highest candidate percentile with at least [[MinBeyond]] samples
    * beyond it. Fewer than 20 samples have no such percentile at or above
    * the median; the tail then falls back to the median itself, and the
    * recorded `beyond` shows that the rule was not met.
    */
  def tailPercentile(n: Int): Double =
    TailCandidates.find(p => beyond(n, p) >= MinBeyond).getOrElse(50.0)

  def tail(xs: Seq[Double]): Tail =
    if (xs.isEmpty) Tail(0.0, 50.0, 0, 0)
    else {
      val s = xs.sorted
      val n = s.length
      val p = tailPercentile(n)
      val v = if (beyond(n, p) >= MinBeyond) s(rank(n, p) - 1) else median(s)
      Tail(v, p, n, beyond(n, p))
    }

  /** Length of the union of half-open intervals, each clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** One traced span: an interval on the client thread, with its parent
    * span (-1 for a root).
    */
  final case class Span(id: Int, parent: Int, kind: String, start: Long, end: Long) {
    def duration: Long = end - start
  }

  /** A span's self time: its duration minus the part of it that its
    * direct children cover.
    */
  def selfTime(span: Span, all: Seq[Span]): Long =
    span.duration - unionLength(
      all.filter(_.parent == span.id).map(c => (c.start, c.end)), span.start, span.end)

  /** Driver-only time of a span: its duration minus the union of the
    * intervals of the Spark jobs that belong to it. What remains is
    * planning, protocol metadata I/O and other driver work.
    */
  def driverOnly(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs, start, end)
}
