package energybench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile (the `statistics`/numpy "linear" rule). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail a sample supports: the highest percentile that still has at
    * least `beyond` samples above it. With n samples that is the
    * (n - beyond)-th smallest value, at percentile 100 * (n - beyond) / n.
    * None when the sample is too small to leave `beyond` samples above
    * any of its values.
    */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    val k = n - beyond
    if (k < 1) None
    else Some(Tail(100.0 * k / n, xs.sorted.apply(k - 1), beyond, n))
  }
}
