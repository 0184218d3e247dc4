package perfbench

/** Just enough JSON output for the result lines, and the statistics the
  * metrics are built from.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Median of a non-empty sample (the mean of the middle two for an even size). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
}

/** Metric values in insertion order, each with its unit. */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def apply(name: String, unit: String, value: Double): Unit = m(name) = (value, unit)
  def ++=(o: Metrics): Unit = m ++= o.m
  def toJson: String = Json.obj(m.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
  })
}
