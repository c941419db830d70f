package graft.perfbench

/** Order statistics over samples, and the self-time rule for spans. */
object Stats {

  /** Linear-interpolated quantile over the sorted samples (q = 0 is the
    * minimum, q = 1 the maximum, q = 0.5 the median). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s  = xs.sorted
    val h  = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank percentile: the smallest sample with at least `p` per
    * cent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s    = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(0, math.min(s.length - 1, rank - 1)))
  }

  /** Time inside `[start, end)` not covered by any child interval.
    * Children are clipped to the parent and may overlap each other; the
    * covered part is their union, so overlapping children are not
    * subtracted twice. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS    = Long.MinValue
    var curE    = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
