package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  def median(xs: Iterable[Double]): Double = quantile(xs.toArray.sorted, 0.5)

  /** Nearest-rank quantile of sorted data: the smallest sample with at
    * least `p` of the samples at or below it. */
  def quantile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "quantile of no samples")
    val rank = math.ceil(p * sorted.length - 1e-9).toInt.max(1).min(sorted.length)
    sorted(rank - 1)
  }

  /** The tail percentile a sample of `n` supports: 0.99 when at least ten
    * samples lie beyond it, else the highest percentile with ten samples
    * beyond it, and never below the median. */
  def tailLevel(n: Int): Double =
    math.max(0.5, math.min(0.99, 1.0 - 10.0 / n))

  /** (level, value) of the tail percentile of `xs` under [[tailLevel]]. */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val s = xs.toArray.sorted
    val p = tailLevel(s.length)
    (p, quantile(s, p))
  }
}
