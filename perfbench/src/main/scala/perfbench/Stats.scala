package perfbench

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A setup step repeated `n` times: median seconds and the last result. */
  def repeated[T](n: Int)(f: Int => T): (Double, T) = {
    var last: Option[T] = None
    val ts = (0 until n).map { i =>
      val t0 = System.nanoTime(); last = Some(f(i)); (System.nanoTime() - t0) / 1e9
    }
    (median(ts), last.get)
  }

  /** The highest whole percentile with at least ten samples beyond it:
    * (percentile, value). With ten samples or fewer there is none, and the
    * median is reported as percentile 50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n <= 10) (50.0, median(xs))
    else {
      val pct = math.floor(100.0 * (n - 10) / n)
      (pct, quantile(xs, pct / 100.0))
    }
  }
}
