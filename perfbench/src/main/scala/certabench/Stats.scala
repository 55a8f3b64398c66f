package certabench

/** Order statistics and interval arithmetic the harness reports with. */
object Stats {

  /** Median of the samples (mean of the two middle values for an even
    * count). Requires at least one sample.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentiles a tail may be reported at, highest last. */
  val tailLevels: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest reportable percentile: the highest level that leaves at
    * least `beyond` samples above it, with its nearest-rank value. None
    * when even the median has fewer than `beyond` samples beyond it, so
    * a run of n < 2 * beyond samples reports its median and count only.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    tailLevels.filter(p => n * (1 - p / 100) >= beyond - 1e-9).lastOption
      .map { p =>
        val s = xs.sorted
        val rank = math.ceil(p / 100 * n).toInt.max(1)
        (p, s(rank - 1))
      }
  }

  /** Total length of the union of closed intervals [start, end]. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [start, end]; the empty ones dropped. */
  def clip(intervals: Seq[(Long, Long)], start: Long, end: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (s.max(start), e.min(end)) }
      .filter { case (s, e) => e > s }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover (overlapping children count once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(clip(children, start, end))
}
