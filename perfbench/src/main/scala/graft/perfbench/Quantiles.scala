package graft.perfbench

/** Order statistics the benchmark reports. */
object Quantiles {

  /** Samples that must lie strictly beyond a reported percentile: with
    * fewer, the value is one or two outliers, not a tail.
    */
  val MinBeyond = 10

  /** Nearest-rank percentile `q` (0 < q < 1) of `xs`. Fails unless at
    * least [[MinBeyond]] samples lie beyond the chosen rank, so a p90
    * needs >= 100 samples and a p99 >= 1000.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(q > 0 && q < 1, s"percentile $q outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(q * n).toInt.max(1)
    require(n - rank >= MinBeyond,
      s"p${q * 100} of $n samples has ${n - rank} beyond it; need $MinBeyond")
    xs.sorted.apply(rank - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
