package perfbench

/** Order statistics with the benchmark's reporting rule: a timing is
  * given as its median and the highest percentile that still has at
  * least ten samples beyond it. */
object Stats {
  val MinBeyond = 10

  /** Linear-interpolated quantile (R-7, as numpy's default) of `xs`;
    * NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean: every sample weighs the same in ratio terms, so a
    * mix of op kinds whose latencies differ tenfold gives a steady
    * centre where the median jumps between kinds. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Samples strictly beyond the q-quantile of n samples. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** Whether the q-quantile of n samples may be reported. */
  def reportable(n: Int, q: Double): Boolean = beyond(n, q) >= MinBeyond

  /** The reported tail: (q, value) for the highest of p99/p90/p75 the
    * sample supports, or None when even p75 has fewer than ten beyond. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.99, 0.9, 0.75).find(reportable(xs.size, _)).map(q => (q, quantile(xs, q)))
}
