package layerbench

/** Order statistics for op and pass walls. */
object Stats {

  /** Linear-interpolated quantile of a non-empty sample, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly beyond the `q` quantile must number at least this many
    * before that quantile is reported: a tail read off fewer samples is one
    * outlier, not a percentile. */
  val MinBeyond = 10

  /** The `q` quantile, or None when fewer than [[MinBeyond]] samples lie
    * beyond it, so a p90 needs at least 100 samples. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.size * (1.0 - q) + 1e-9 < MinBeyond) None else Some(quantile(xs, q))

  /** The highest of the usual percentiles the sample supports, with its
    * rank, or None below 20 samples. */
  def highestTail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).iterator
      .flatMap(q => tail(xs, q).map(q -> _)).nextOption()
}
