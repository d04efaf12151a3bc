package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Interquartile mean: the mean after dropping the lowest and highest
    * quarter (rounded down). A run's calls mix several call kinds, so
    * the median can sit on the gap between two kinds and jump between
    * runs; the interquartile mean averages over the middle half. */
  def interquartileMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "interquartile mean of an empty sample")
    val cut = xs.size / 4
    val mid = xs.sorted.slice(cut, xs.size - cut)
    mid.sum / mid.size
  }

  /** Linear-interpolated percentile (the "linear" method of numpy and of
    * Python's `statistics.quantiles(method="inclusive")`): rank
    * `p/100 * (n-1)` between the two nearest order statistics. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = p / 100 * (s.size - 1)
    val lo = rank.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }
}
