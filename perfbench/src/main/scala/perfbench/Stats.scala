package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of unweighted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Weighted quantile: the smallest value whose cumulative weight
    * reaches `q` of the total. Latency samples are per file, weighted by
    * the lines in the file, so the quantile is over events. */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum.toDouble
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= q * total }.getOrElse(s.last)._1
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
