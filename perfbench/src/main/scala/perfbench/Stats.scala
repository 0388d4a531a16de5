package perfbench

/** Summary statistics over latency samples. A failed op is recorded as
  * an infinite latency, so it lies beyond every percentile. */
object Stats {
  /** Nearest-rank percentile of ascending `sorted` (p in (0, 100]). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(p / 100.0 * sorted.size).toInt.max(1)
    sorted(rank - 1)
  }

  /** The middle sample, or the mean of the middle two for an even count:
    * with the few ops a run holds this moves less from run to run than
    * the nearest-rank p50, which is the lower middle sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile that still has at least ten samples
    * beyond it under nearest rank; None with ten samples or fewer. */
  def tailPercentile(n: Int): Option[Int] =
    if (n <= 10) None else Some(math.floor(100.0 * (n - 10) / n).toInt)

  /** (percentile, value) of the tail; the maximum when no percentile has
    * ten samples beyond it (the percentile is then reported as 100). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted.toIndexedSeq
    tailPercentile(s.size) match {
      case Some(p) => (p, percentile(s, p))
      case None    => (100, s.last)
    }
  }

  /** Median of the last quarter of `inOrder` over the median of its first
    * quarter: above 1 when per-op cost grows as the run goes on. */
  def growthRatio(inOrder: Seq[Double]): Double = {
    val q = (inOrder.size / 4).max(1)
    median(inOrder.takeRight(q)) / median(inOrder.take(q))
  }
}
