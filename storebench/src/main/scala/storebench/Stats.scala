package storebench

/** Order statistics for latency samples. */
object Stats {

  /** Median, averaging the two middle samples of an even count (as
    * Python's `statistics.median`). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  /** 1-based nearest rank of percentile p among n samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest percentile of `ladder` that has at least `beyond`
    * samples above its rank, with its value; None when even the lowest
    * rung lacks them. A tail figure read from fewer samples is noise. */
  def tail(xs: Seq[Double], ladder: Seq[Double] = Seq(99, 95, 90, 75, 50),
      beyond: Int = 10): Option[(Double, Double)] =
    ladder.sorted(Ordering[Double].reverse)
      .find(p => xs.length - rank(xs.length, p) >= beyond)
      .map(p => (p, percentile(xs, p)))
}
