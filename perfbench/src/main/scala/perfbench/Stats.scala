package perfbench

/** Order statistics over latency samples.
  *
  * Percentiles use the nearest-rank definition: the q-th percentile of n
  * sorted samples is the sample at rank ceil(q * n). A tail percentile is
  * reportable only when at least [[MinBeyond]] samples rank above it, so a
  * p95 needs 200 samples and a p90 needs 100.
  */
object Stats {
  val MinBeyond = 10

  private def rank(n: Int, q: Double): Int =
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))

  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, q) - 1)
  }

  /** The middle sample, or the mean of the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The q-th percentile of weighted samples (value, weight): the
    * smallest value whose cumulative weight reaches q of the total. */
  def weightedPercentile(xs: Seq[(Double, Double)], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sortBy(_._1)
    val target = q * s.map(_._2).sum
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= target - 1e-12 }.getOrElse(s.last)._1
  }

  /** Samples that rank strictly above the q-th percentile of n samples. */
  def beyond(n: Int, q: Double): Int = if (n == 0) 0 else n - rank(n, q)

  /** The q-th percentile, or None when fewer than [[MinBeyond]] samples
    * lie beyond it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (beyond(xs.size, q) >= MinBeyond) Some(percentile(xs, q)) else None

  /** Samples needed before the q-th percentile becomes reportable. */
  def samplesNeeded(q: Double): Int =
    Iterator.from(1).find(n => beyond(n, q) >= MinBeyond).get
}
