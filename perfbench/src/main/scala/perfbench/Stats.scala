package perfbench

/** Order statistics used by every workload's report. */
object Stats {

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples ranked strictly above the nearest-rank `p`-th percentile of `n`. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The highest candidate percentile that has at least `minBeyond` samples
    * beyond it; `None` when even the median has fewer. */
  def highestReliablePercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailCandidates.find(p => samplesBeyond(n, p) >= minBeyond)

  /** Nearest-rank percentile: the smallest value with at least `p`% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    val rank = math.max(1, math.ceil(sorted.length * p / 100.0 - 1e-9).toInt)
    sorted(rank - 1)
  }

  /** Median with the midpoint rule for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
