package graft.planner

/** The Influx HTTP result envelope: one `(name, columns, points)` per
  * series, first column always "time" (reference:
  * influx/service/InfluxProtocol.scala:19,
  * influx/finder/InfluxQueryResolver.scala:214-223). The HTTP transport
  * itself (spray routing, gzip, CORS) belongs to whatever serves this —
  * the engine's contract ends at the JSON envelope.
  */
object InfluxProtocol {

  case class InfluxSeries(name: String, columns: Vector[String], points: Vector[Vector[Any]])

  /** Envelope series of planner results, whose points are already
    * scaled, rounded and ordered on the driver (query outputs are
    * 100-700 points by design). */
  def toInfluxSeries(results: Seq[SeriesResult]): Seq[InfluxSeries] =
    results.map(r => InfluxSeries(r.metricName, Vector("time", r.label),
      r.points.map { case (t, v) => Vector[Any](t, v) }.toVector))

  /** JSON text of the envelope (hand-rolled: values are Long/Double/
    * String only — the engine's whole scalar surface). */
  def toJson(results: Seq[SeriesResult]): String =
    toInfluxSeries(results).map { s =>
      val cols = s.columns.map(jsonString).mkString("[", ",", "]")
      val pts = s.points.map(_.map(jsonValue).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s"""{"name":${jsonString(s.name)},"columns":$cols,"points":$pts}"""
    }.mkString("[", ",", "]")

  /** JSON string literal with quote/backslash/control escaping — shared
    * by every facade route so escaping can't diverge. */
  def jsonString(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  private def jsonValue(v: Any): String = v match {
    case null      => "null"
    case s: String => jsonString(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other     => other.toString
  }
}
