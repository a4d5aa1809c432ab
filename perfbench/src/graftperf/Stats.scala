package graftperf

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** The highest whole percentile that leaves at least ten samples above
    * it, with its value (nearest-rank). None below twenty samples, where
    * that percentile would not lie above the median.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 20) None
    else {
      val s = xs.sorted
      // nearest rank r = ceil(p/100 · n) must leave n − r ≥ 10 samples above
      val p = (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).get
      val r = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Some((p, s(r - 1)))
    }
  }

  /** Prints (not gates) a latency tail with its percentile and sample
    * count; below twenty samples the tail is the maximum.
    */
  def tailInfo(report: Report, what: String, xs: Seq[Double]): Unit = {
    val (p, v) = tail(xs).map { case (p, v) => (s"p$p", v) }.getOrElse(("max", xs.max))
    report.info(s"${what}_tail_s") = s"$v ($p of ${xs.size} samples)"
  }
}
