package perfbench

/** Pure statistics the benchmark reports: medians, the supported tail
  * percentile, span self time and executor work fraction.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p <= 100) of the samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Candidate tail percentiles, highest last. */
  val TailPercentiles: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest candidate percentile that has at least ten samples
    * ranked above it, as (percentile, value, sample count). None when
    * even the median lacks ten samples beyond it.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val n = xs.size
    TailPercentiles.filter(p => n > 0 && n - rank(n, p) >= 10)
      .lastOption.map(p => (p, percentile(xs, p), n))
  }

  /** Length of the union of half-open intervals, clipped to `within`. */
  def covered(within: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (lo, hi) = within
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
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

  /** A span's self time: its duration minus the part of it that its
    * child spans cover (overlapping children count once).
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - covered(span, children)

  /** Executor busy share of the core-time available during `wallMs`:
    * Σ executorRunTime ÷ (wall × cores).
    */
  def workFraction(executorRunMs: Long, wallMs: Long, cores: Int): Double =
    if (wallMs <= 0 || cores <= 0) 0.0
    else executorRunMs.toDouble / (wallMs.toDouble * cores)
}
