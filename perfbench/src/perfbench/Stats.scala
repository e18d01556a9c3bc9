package perfbench

/** Pure arithmetic behind the reported figures (pinned by SelfTest). */
object Stats {

  /** Nearest-rank percentile (0 < p ≤ 100) of an ascending sample. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Candidate tail percentiles, highest first. */
  val tailLadder: Seq[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 60.0, 50.0)

  /** The tail rule: the highest ladder percentile that leaves at least
    * `minBeyond` samples above its nearest-rank position. Returns
    * (percentile, value, samples beyond). With fewer than
    * 2 × `minBeyond` samples no ladder step qualifies and the median is
    * reported with the smaller count it leaves beyond, so the record
    * shows the shortfall.
    */
  def tail(samples: Seq[Double], minBeyond: Int = 10): (Double, Double, Int) = {
    val s = samples.sorted.toIndexedSeq
    val n = s.size
    def beyond(p: Double): Int = n - math.ceil(p / 100.0 * n).toInt
    val p = tailLadder.find(beyond(_) >= minBeyond).getOrElse(50.0)
    (p, percentile(s, p), beyond(p))
  }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = a
          curEnd = b
        } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Intervals clipped to the window [lo, hi]. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }

  /** Driver gap of one op: its wall time minus the part of it covered by
    * at least one Spark job.
    */
  def driverGap(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Long =
    (opEnd - opStart) - unionLength(clip(jobs, opStart, opEnd))

  /** Summed job time over the union of job intervals: 1 when jobs run
    * one after another, above 1 when they overlap.
    */
  def overlap(jobs: Seq[(Long, Long)]): Double = {
    val u = unionLength(jobs)
    if (u == 0L) 1.0 else jobs.map { case (a, b) => math.max(0L, b - a) }.sum.toDouble / u
  }
}
