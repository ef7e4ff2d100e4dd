package perfbench

/** Order statistics used by every report. */
object Stats {

  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail: the highest order statistic with at least `beyond` samples
   * above it, its percentile, and the sample count. With fewer than
   * `beyond + 1` samples no order statistic qualifies and the maximum is
   * reported, with 0 samples beyond it. */
  final case class Tail(value: Double, percentile: Double, samples: Int, beyondIt: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val k = if (s.size > beyond) s.size - beyond else s.size // 1-based rank
    Tail(s(k - 1), 100.0 * k / s.size, s.size, s.size - k)
  }
}

/** Just enough JSON writing for the result line, the span file and the
 * ledger; the harness reads no JSON. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
