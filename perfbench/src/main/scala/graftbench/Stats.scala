package graftbench

/** Sample summaries under the benchmark's percentile rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it, so a
  * run too short to support a p90 says so instead of printing a number
  * that one outlier decides. */
object Stats {
  val MinBeyond = 10

  /** Samples strictly above the p-th percentile position of `n` sorted
    * samples (nearest-rank: the percentile is the ceil(p·n)-th value). */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** Nearest-rank percentile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must lie in (0, 1), got $p")
    if (xs.isEmpty || beyond(xs.size, p) < MinBeyond) None
    else Some(xs.sorted.apply(math.max(1, math.ceil(p * xs.size).toInt) - 1))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Middle value (mean of the two middle values for an even count); for
    * repeated measurements of one quantity, not for a latency sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
