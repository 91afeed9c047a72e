package perfbench

/** Order statistics over timing samples. */
object Stats {

  /** Linear-interpolation quantile (the "inclusive" method: q = 0 is the
    * minimum, q = 1 the maximum). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile together with the sample count it rests on. */
  final case class Tail(value: Double, samples: Int, beyond: Int)

  /** The `percentile`-th percentile of `xs`, if at least `minBeyond`
    * samples lie above it: p75 needs 40 samples, p90 100, p99 1000. */
  def tail(xs: Seq[Double], percentile: Double, minBeyond: Int = 10): Option[Tail] = {
    val beyond = xs.length * (1 - percentile / 100)
    if (beyond < minBeyond - 1e-9) None
    else Some(Tail(quantile(xs, percentile / 100), xs.length, math.round(beyond).toInt))
  }
}
