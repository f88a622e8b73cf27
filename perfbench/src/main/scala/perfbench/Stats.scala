package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The median over kinds of each kind's median, for samples labelled
    * by kind. It does not depend on how many samples each kind has. */
  def medianByKind(xs: Seq[(String, Double)]): Double =
    median(xs.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq)

  /** A tail figure: the value, the percentile it sits at, and how many
    * samples lie beyond it. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest percentile with at least `minBeyond` samples beyond it:
    * the (n - minBeyond)-th smallest sample, at percentile
    * 100 * (n - minBeyond) / n. With too few samples to leave
    * `minBeyond` beyond a sample at or above the median, the tail is the
    * maximum. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 2 * minBeyond) Tail(s.last, 100.0, 0, n)
    else Tail(s(n - minBeyond - 1), 100.0 * (n - minBeyond) / n, minBeyond, n)
  }

  /** Total length of the union of [start, end) intervals, each clipped to
    * [lo, hi). */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
