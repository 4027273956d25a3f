package perfbench

/** Order statistics for the reported timings. */
object Stats {
  /** Fewest samples that must lie above a reported percentile; with fewer,
    * the percentile is one or two outliers, not a tail. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (the "exclusive" method), so the
    * benchmark's own spread figures agree with any script that re-derives
    * them from its output. Needs at least two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val m = s.length + 1
    def at(i: Int): Double = {
      val j = math.max(1, math.min(s.length - 1, (i * m) / 4))
      val delta = i * m - j * 4
      s(j - 1) + (s(j) - s(j - 1)) * delta / 4.0
    }
    (at(1), at(3))
  }

  /** Nearest-rank percentile `p` (0 < p < 1), or None when fewer than
    * [[MinBeyond]] samples lie above it: p90 needs 100 samples. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt
    if (rank < 1 || s.length - rank < MinBeyond) None else Some(s(rank - 1))
  }

  /** Total length of the union of closed intervals [start, end]. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    for ((a, b) <- intervals.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (curEnd.isNaN || a > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }
}
