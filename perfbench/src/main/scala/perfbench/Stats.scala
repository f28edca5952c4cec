package perfbench

/** Summary arithmetic shared by every workload. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 100]) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The sample count a tail percentile needs: at least `beyond` samples
    * must lie above it, so p95 needs 200 samples and p90 needs 100. */
  def samplesNeeded(p: Double, beyond: Int = 10): Int =
    math.ceil(beyond / (1 - p / 100.0) - 1e-9).toInt

  /** `p` if `n` samples support it, else the highest whole percentile
    * below it that still leaves `beyond` samples above it (0 if none). */
  def supportedPercentile(n: Int, p: Double, beyond: Int = 10): Double =
    if (n >= samplesNeeded(p, beyond)) p
    else {
      val best = math.floor(100.0 * (1 - beyond.toDouble / n)).toInt
      math.max(best, 0).toDouble
    }

  /** Failed-or-wrong operations over attempted operations. */
  def failedFrac(attempted: Long, failed: Long): Double = {
    require(attempted > 0, "no operations attempted")
    require(failed >= 0 && failed <= attempted,
      s"failed=$failed outside [0, $attempted]")
    failed.toDouble / attempted
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
