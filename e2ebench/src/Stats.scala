package graftbench

/** Order statistics over one sample. Every figure carries the size of the
  * sample it was taken from, so a report never shows a percentile without
  * saying how many values stand behind it. */
object Stats {

  /** A statistic and the number of samples it was computed from. */
  final case class Pct(value: Double, n: Int)

  /** Linear-interpolation quantile (q in [0, 1]) of the finite values of
    * `xs`; NaN when there are none. */
  def quantile(xs: Seq[Double], q: Double): Pct = {
    val s = xs.filter(x => !x.isNaN && !x.isInfinite).sorted.toArray
    if (s.isEmpty) Pct(Double.NaN, 0)
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      Pct(s(lo) + (s(hi) - s(lo)) * (pos - lo), s.length)
    }
  }

  def median(xs: Seq[Double]): Pct = quantile(xs, 0.5)
}
