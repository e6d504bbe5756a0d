package perfbench

/** The benchmark's pure arithmetic: percentiles, the tail rule, and the
  * interval algebra behind driver gap and self time. No Spark here, so
  * the specs pin it directly.
  */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  private val tailCandidates = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The `*.tail` percentile for a sample of `n`: the highest candidate
    * percentile with at least ten samples beyond it. Below 20 samples no
    * candidate qualifies and the tail is the maximum (percentile 100):
    * the worst case observed, reported with its sample count.
    */
  def tailPercentile(n: Int): Double =
    tailCandidates.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9).getOrElse(100.0)

  final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double)

  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.size)
    Summary(xs.size, median(xs), tp, percentile(xs, tp))
  }

  /** Total length covered by a set of half-open intervals (start, end). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Intervals clipped to the window [lo, hi). */
  def clip(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)

  /** Wall time of the window minus the part the intervals cover: a span's
    * driver gap (intervals = its stages) or self time (intervals = its
    * child spans).
    */
  def uncovered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double =
    (hi - lo) - unionLength(clip(intervals, lo, hi))
}
