package graftbench

/** Order statistics used for every reported figure. */
object Stats {

  /** Linear-interpolated quantile `q` (0..1) of `xs`, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail quantile actually reportable for a sample of `n`: the
    * requested `q`, lowered until at least `minBeyond` samples lie beyond
    * it. A p90 over 40 samples rests on 4 points, so it is reported as the
    * p75 it honestly is. Returns 0.5 at most-lowered for tiny samples. */
  def reportableQuantile(q: Double, n: Int, minBeyond: Int = 10): Double =
    if (n <= 0) q
    else math.max(0.5, math.min(q, 1.0 - minBeyond.toDouble / n))

  /** The value at the reportable tail quantile. */
  def tail(xs: Seq[Double], q: Double, minBeyond: Int = 10): Double =
    quantile(xs, reportableQuantile(q, xs.size, minBeyond))
}
