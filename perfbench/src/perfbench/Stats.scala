package perfbench

/** Small numeric helpers shared by the workloads and the trace reduction.
  * Kept free of Spark so the self-test can check them on fixed inputs. */
object Stats {

  /** Linear-interpolated percentile (the numpy / R type-7 rule) of `xs`,
    * `p` in [0, 100]. NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** `num / den`, or 0 when there is nothing to divide by — a layer that a
    * workload never reaches reports 0 work rather than NaN. */
  def ratio(num: Double, den: Double): Double =
    if (den == 0 || den.isNaN || num.isNaN) 0.0 else num / den

  /** Total length of the union of half-open intervals `[s, e)`, each first
    * clipped to `[lo, hi)`. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
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

  /** Self time of a span `[start, end)`: its duration minus the part of it
    * that the child intervals cover (overlapping children count once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(children, start, end)
}
