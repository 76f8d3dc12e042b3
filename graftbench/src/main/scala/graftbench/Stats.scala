package graftbench

/** Order statistics and interval arithmetic shared by every workload. */
object Stats {

  /** Percentile `p` (0..100), nearest-rank: the smallest sample with at
    * least p% of the samples at or below it. Unlike interpolation it is
    * always one of the samples, so the p50 and p90 of a mix of unlike
    * queries stay on the same query whatever the number of rounds. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length - 1e-9).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** How many of `n` samples rank above the p-th percentile (nearest-rank
    * definition): the p90 of 100 samples has 10 beyond it. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n - 1e-9).toInt

  /** The highest whole percentile that keeps at least `k` samples beyond
    * it, or None when `n` is too small for any. */
  def highestReportable(n: Int, k: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => samplesBeyond(n, p) >= k)

  /** Total length covered by possibly overlapping [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** `intervals` clipped to [lo, hi). */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter(iv => iv._2 > iv._1)
}
