package perfbench

/** Order statistics and the result-line format. */
object Stats {

  /** Linear-interpolated quantile (the "inclusive" method of Python's
    * `statistics.quantiles`): q = 0.5 is the median.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest whole percentile that still has at least ten samples
    * above it, or 50 when there are too few samples for any tail.
    */
  def tailPercentile(n: Int): Int =
    if (n < 20) 50 else math.floor(100.0 * (1.0 - 10.0 / n)).toInt
}

final case class Metric(name: String, value: Double, unit: String)

object Metric {
  val NamePattern = "[A-Za-z0-9_.-]+"
  val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every digit the double carries; non-finite values are not JSON. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  }

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}""")
        .mkString(", ") + "}}"
}
