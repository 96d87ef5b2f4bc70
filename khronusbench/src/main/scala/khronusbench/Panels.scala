package khronusbench

/** The metrics a panel sequence may name. `hist` is ordered by
  * popularity (most written first). */
final case class Universe(hist: Seq[String], gauge: String, counters: Seq[String],
                          catalog: Seq[String], ranges: Seq[(String, Long)])

/** Grafana-style panel queries covering the engine's 12 `influx_*`
  * query shapes, each with `now()`-relative ranges. Routed panels use
  * `fill(0)`, as a dashboard showing "null as zero" does, so every routed
  * answer is the full time grid and its point count is the routing
  * decision itself. The sequence is fixed: seeds vary the data, not the
  * query mix, so runs with different seeds do the same kind of work. */
object Panels {
  val Shapes: Seq[String] = Seq(
    "influx_p99_hourly", "influx_cpm_30m", "influx_fill_zero_5m", "influx_ratio_1h",
    "influx_scale_max_10m", "influx_star_desc_limit", "influx_const_pct",
    "influx_list_series", "influx_math_ops", "influx_multi_source",
    "influx_auto_resolution", "influx_gauge_p95")

  /** Smallest tier giving at most 400 points over the range (forced panels). */
  private def forcedWindow(rangeMs: Long): Long =
    Oracle.Tiers.find(rangeMs / _ <= 400).getOrElse(Oracle.Tiers.last)

  private def unit(ms: Long): String =
    if (ms % 3600000L == 0) s"${ms / 3600000L}h"
    else if (ms % 60000L == 0) s"${ms / 60000L}m"
    else s"${ms / 1000L}s"

  /** One panel of `shape`; `v` picks the variant (metric and range). */
  def panel(u: Universe, shape: String, v: Int): Panel = {
    val rs = u.ranges
    val (rText, r) = rs((v * 5 + Shapes.indexOf(shape)) % rs.size)
    val m = u.hist((v * 3 + Shapes.indexOf(shape)) % math.min(u.hist.size, 8))
    val m2 = u.hist((v * 3 + Shapes.indexOf(shape) + 1) % math.min(u.hist.size, 8))
    val c = u.counters(v % u.counters.size)
    val where = s"where time > now() - $rText"
    def f(metric: String, fn: String, name: String = null, counter: Boolean = false) =
      FieldCol(metric, counter, fn, Option(name).getOrElse(metric), fn)
    shape match {
      case "influx_p99_hourly" =>
        Panel(shape, s"""select count, p99, max from "$m" $where group by time(1h) fill(0)""",
          r, None, Seq(f(m, "count"), f(m, "p99"), f(m, "max")), fill = Some(0.0))
      case "influx_cpm_30m" =>
        Panel(shape, s"""select cpm from "$c" $where group by time(30m) fill(0)""",
          r, None, Seq(f(c, "cpm", counter = true)), fill = Some(0.0))
      case "influx_fill_zero_5m" =>
        Panel(shape, s"""select count from "$m" $where group by time(5m) fill(0)""",
          r, None, Seq(f(m, "count")), fill = Some(0.0))
      case "influx_ratio_1h" =>
        val w = forcedWindow(r)
        Panel(shape, s"""select e.count / p.count as ratio from "$m" as e, "$m2" as p """ +
          s"$where force group by time(${unit(w)})", r, Some(w),
          Seq(OpCol(f(m, "count", "e"), f(m2, "count", "p"), '/', "ratio")))
      case "influx_scale_max_10m" =>
        Panel(shape, s"""select max from "$m" $where group by time(10m) fill(0) scale(0.5)""",
          r, None, Seq(f(m, "max")), fill = Some(0.0), scale = 0.5)
      case "influx_star_desc_limit" =>
        val w = forcedWindow(r)
        Panel(shape, s"""select * from "$c" $where force group by time(${unit(w)}) limit 50 order desc""",
          r, Some(w), Seq(f(c, "count", counter = true), f(c, "cpm", counter = true)),
          limit = 50, asc = false)
      case "influx_const_pct" =>
        Panel(shape, s"""select percentiles(50 99) 10.5 as base from "$m" $where group by time(1h) fill(0)""",
          r, None, Seq(f(m, "p50"), f(m, "p99"), ConstCol(10.5, "base")), fill = Some(0.0))
      case "influx_list_series" =>
        val pat = m.take(m.length - 1)
        val re = java.util.regex.Pattern.compile(s"(?i).*$pat.*")
        Panel(shape, s"list series /$pat/", r, None,
          listed = Some(u.catalog.filter(n => re.matcher(n).matches())))
      case "influx_math_ops" =>
        // one operator per variant keeps this panel's cost near the others'
        val (op, a, b, label) = if (v == 0) ('-', "max", "min", "spread") else ('*', "mean", "2", "dbl")
        val rhs = if (b == "2") ConstCol(2.0, "") else f(m, b, "e")
        val rhsText = if (b == "2") "2" else s"e.$b"
        Panel(shape, s"""select e.$a $op $rhsText as $label from "$m" as e $where group by time(10m) fill(0)""",
          r, None, Seq(OpCol(f(m, a, "e"), rhs, op, label)), fill = Some(0.0))
      case "influx_multi_source" =>
        Panel(shape, s"""select count from "($m|$m2)" $where group by time(30m) fill(0)""",
          r, None, Seq(f(m, "count"), f(m2, "count")), fill = Some(0.0))
      case "influx_auto_resolution" =>
        val (wideText, wide) = rs.last
        Panel(shape, s"""select count from "$m" where time > now() - $wideText group by time(1m) fill(0)""",
          wide, None, Seq(f(m, "count")), fill = Some(0.0))
      case "influx_gauge_p95" =>
        Panel(shape, s"""select p95, min from "${u.gauge}" $where group by time(1h) fill(0)""",
          r, None, Seq(f(u.gauge, "p95"), f(u.gauge, "min")), fill = Some(0.0))
    }
  }

  /** Two passes over the shapes with different variants: the first 12
    * panels hold one of each shape. */
  def sequence(u: Universe): Vector[Panel] =
    (0 until 2).flatMap(v => Shapes.map(panel(u, _, v))).toVector
}
