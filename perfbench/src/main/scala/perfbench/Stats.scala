package perfbench

/** Order statistics over timing samples. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** The highest of the percentiles 50, 90, 99 and 99.9 that leaves at
    * least ten samples above it, or None when there are fewer than 20
    * samples (then only the median is reported).
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 90.0, 50.0).find(p => n * (1 - p / 100) >= 10)

  /** `name: median unit (n=.., pXX=..)` for the human-readable report. */
  def describe(name: String, xs: collection.Seq[Double], unit: String): String = {
    val tail = tailPercentile(xs.length).filter(_ > 50.0).map { p =>
      f", p$p%.1f=${quantile(xs, p / 100)}%.4f"
    }.getOrElse("")
    val all = if (xs.length > 10) "" else xs.map(x => f"$x%.4f").mkString(", samples ", " ", "")
    f"$name: p50=${median(xs)}%.4f $unit (n=${xs.length}$tail$all)"
  }
}
