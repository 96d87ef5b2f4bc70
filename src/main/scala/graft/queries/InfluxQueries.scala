package graft.queries

import graft.planner.{InfluxPlanner, MaterializedTiers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing queries that exercise the full InfluxQL path:
  * parse → analyze/bind → tier routing → one read per source and the
  * driver-side evaluation of the rest, against
  * metrics derived from `events` (timer per event_type, counter per
  * `<event_type>_count`).
  *
  * All slices use fixed epoch-ms bounds (the testdata spans
  * 2024-01-01 .. 2024-01-31 UTC) so results are deterministic and
  * `force` pins the tier, making the DuckDB oracle exact.
  */
object InfluxQueries {

  // 2024-01-01T00:00:00Z .. 2024-01-10T23:59:59.999Z (10 days)
  private val F = 1704067200000L
  private val T = 1704931199999L

  private def run(query: String, asc: Boolean = true)
                 (spark: SparkSession, dir: String): DataFrame = {
    val planner = new InfluxPlanner(MaterializedTiers.provider(spark, dir))
    val long = planner.executeLong(spark, query)
    if (asc) long.orderBy(col("series"), col("time").asc)
    else long.orderBy(col("series"), col("time").desc)
  }

  def p99Hourly(spark: SparkSession, dir: String): DataFrame =
    run(s"""select count, p99, max from "purchase" where time between $F and $T """ +
        "force group by time(1h) order asc")(spark, dir)

  def cpm30m(spark: SparkSession, dir: String): DataFrame =
    run(s"""select cpm from "click_count" where time between $F and $T """ +
        "force group by time(30m) order asc")(spark, dir)

  def fillZero5m(spark: SparkSession, dir: String): DataFrame =
    run(s"""select count from "signup" where time between $F and $T """ +
        "force group by time(5m) fill(0) order asc")(spark, dir)

  def ratio1h(spark: SparkSession, dir: String): DataFrame =
    run(s"""select e.count / p.count as err_per_purchase from "error" as e, "purchase" as p """ +
        s"where time between $F and $T force group by time(1h) order asc")(spark, dir)

  def scaleMax10m(spark: SparkSession, dir: String): DataFrame =
    run(s"""select max from "view" where time between $F and $T """ +
        "force group by time(10m) scale(0.5) order asc")(spark, dir)

  def starDescLimit(spark: SparkSession, dir: String): DataFrame =
    run(s"""select * from "view_count" where time between $F and $T """ +
        "force group by time(10m) limit 50 order desc", asc = false)(spark, dir)

  def constAndPercentiles(spark: SparkSession, dir: String): DataFrame =
    run(s"""select percentiles(50 99) 10.5 as base from "purchase" """ +
        s"where time between $F and $T force group by time(1h) order asc")(spark, dir)

  /** All four math operators in one query (field⊕field and field⊕const;
    * division is exercised by influx_ratio_1h). */
  def mathOps(spark: SparkSession, dir: String): DataFrame =
    run(s"""select e.max - e.min as spread, e.max + e.min as span, e.mean * 2 as dbl """ +
        s"""from "error" as e where time between $F and $T force group by time(1h) order asc""")(spark, dir)

  /** Regex source fan-out: one series per matched metric, unprefixed
    * function applied to each (reference: InfluxCriteriaBuilder.scala:58-82). */
  def multiSource(spark: SparkSession, dir: String): DataFrame =
    run(s"""select count from "(view|click)" where time between $F and $T """ +
        "force group by time(1h) order asc")(spark, dir)

  /** Non-forced resolution adjustment: 10-day slice requesting 1m
    * (14400 points) auto-widens to the tier landing in [100,700]
    * points → 30m (480 points). The oracle pins the routing decision. */
  def autoResolution(spark: SparkSession, dir: String): DataFrame =
    run(s"""select count from "purchase" where time between $F and $T """ +
        "group by time(1m) order asc")(spark, dir)

  /** Gauge-typed metric end-to-end: gauges accept the full histogram
    * function set (reference treats timer and gauge identically —
    * model/HistogramSummary.scala:112-113). */
  def gaugeP95(spark: SparkSession, dir: String): DataFrame =
    run(s"""select p95, min from "view_gauge" where time between $F and $T """ +
        "force group by time(1h) order asc")(spark, dir)

  def listSeries(spark: SparkSession, dir: String): DataFrame = {
    val planner = new InfluxPlanner(MaterializedTiers.provider(spark, dir))
    planner.executeLong(spark, "list series /count/")
      .select(col("time"), col("value").as("name")).orderBy("name")
  }

  // ---- oracle SQL ------------------------------------------------------

  /** Per-bucket stats for one timer metric with the engine's exact
    * semantics: v = floor(value) ≥ 0, bucket = epoch-ms floor, and
    * percentiles by the cumulative-count rule. */
  private def timerStats(metric: String, durMs: Long): String =
    s"""m AS (
       |  SELECT epoch_ms(ts) - epoch_ms(ts) % $durMs AS b,
       |         CAST(floor(value) AS BIGINT) AS v
       |  FROM events
       |  WHERE event_type = '$metric' AND floor(value) >= 0
       |    AND epoch_ms(ts) BETWEEN $F AND $T),
       |g AS (SELECT b, v, COUNT(*) AS c FROM m GROUP BY 1, 2),
       |w AS (SELECT b, v, c,
       |        SUM(c) OVER (PARTITION BY b ORDER BY v) AS cum,
       |        SUM(c) OVER (PARTITION BY b) AS tot FROM g),
       |stats AS (
       |  SELECT b, MAX(tot) AS cnt, MAX(v) AS maxv,
       |    MIN(v) FILTER (WHERE cum >= GREATEST(1, CAST(floor((50.0/100.0)*tot + 0.5) AS BIGINT)))  AS p50,
       |    MIN(v) FILTER (WHERE cum >= GREATEST(1, CAST(floor((99.0/100.0)*tot + 0.5) AS BIGINT)))  AS p99
       |  FROM w GROUP BY b)""".stripMargin

  private def counterStats(metric: String, durMs: Long): String =
    s"""stats AS (
       |  SELECT epoch_ms(ts) - epoch_ms(ts) % $durMs AS b, COUNT(*) AS cnt
       |  FROM events
       |  WHERE event_type = '$metric' AND epoch_ms(ts) BETWEEN $F AND $T
       |  GROUP BY 1)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "influx_p99_hourly"      -> (p99Hourly _),
    "influx_cpm_30m"         -> (cpm30m _),
    "influx_fill_zero_5m"    -> (fillZero5m _),
    "influx_ratio_1h"        -> (ratio1h _),
    "influx_scale_max_10m"   -> (scaleMax10m _),
    "influx_star_desc_limit" -> (starDescLimit _),
    "influx_const_pct"       -> (constAndPercentiles _),
    "influx_list_series"     -> (listSeries _),
    "influx_math_ops"        -> (mathOps _),
    "influx_multi_source"    -> (multiSource _),
    "influx_auto_resolution" -> (autoResolution _),
    "influx_gauge_p95"       -> (gaugeP95 _),
  )

  val oracleSql: Map[String, String] = Map(
    "influx_p99_hourly" ->
      s"""WITH ${timerStats("purchase", 3600000L)}
         |SELECT series, time, value FROM (
         |  SELECT 'purchase.count' AS series, b AS time, CAST(cnt AS DOUBLE) AS value FROM stats
         |  UNION ALL
         |  SELECT 'purchase.max', b, CAST(maxv AS DOUBLE) FROM stats
         |  UNION ALL
         |  SELECT 'purchase.p99', b, CAST(p99 AS DOUBLE) FROM stats)
         |ORDER BY series, time""".stripMargin,
    "influx_cpm_30m" ->
      s"""WITH ${counterStats("click", 1800000L)}
         |SELECT 'click_count.cpm' AS series, b AS time,
         |       round(cnt / 30.0, 4) AS value
         |FROM stats ORDER BY time""".stripMargin,
    "influx_fill_zero_5m" ->
      s"""WITH ${counterStats("signup", 300000L)},
         |spine AS (SELECT unnest(generate_series($F, $T - ($T % 300000), 300000)) AS time)
         |SELECT 'signup.count' AS series, time,
         |       CAST(COALESCE(cnt, 0) AS DOUBLE) AS value
         |FROM spine LEFT JOIN stats ON stats.b = spine.time
         |ORDER BY time""".stripMargin,
    "influx_ratio_1h" ->
      s"""WITH e AS (
         |  SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b, COUNT(*) AS cnt
         |  FROM events WHERE event_type = 'error' AND floor(value) >= 0
         |    AND epoch_ms(ts) BETWEEN $F AND $T GROUP BY 1),
         |p AS (
         |  SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b, COUNT(*) AS cnt
         |  FROM events WHERE event_type = 'purchase' AND floor(value) >= 0
         |    AND epoch_ms(ts) BETWEEN $F AND $T GROUP BY 1)
         |SELECT 'err_per_purchase' AS series, e.b AS time,
         |       round(CAST(e.cnt AS DOUBLE) / CAST(p.cnt AS DOUBLE), 4) AS value
         |FROM e JOIN p ON e.b = p.b
         |ORDER BY time""".stripMargin,
    "influx_scale_max_10m" ->
      s"""WITH m AS (
         |  SELECT epoch_ms(ts) - epoch_ms(ts) % 600000 AS b,
         |         CAST(floor(value) AS BIGINT) AS v
         |  FROM events WHERE event_type = 'view' AND floor(value) >= 0
         |    AND epoch_ms(ts) BETWEEN $F AND $T)
         |SELECT 'view.max' AS series, b AS time,
         |       round(CAST(MAX(v) AS DOUBLE) * 0.5, 4) AS value
         |FROM m GROUP BY b ORDER BY time""".stripMargin,
    "influx_star_desc_limit" ->
      s"""WITH ${counterStats("view", 600000L)},
         |top AS (SELECT b, cnt FROM stats ORDER BY b DESC LIMIT 50)
         |SELECT series, time, value FROM (
         |  SELECT 'view_count.count' AS series, b AS time, CAST(cnt AS DOUBLE) AS value FROM top
         |  UNION ALL
         |  SELECT 'view_count.cpm', b, round(cnt / 10.0, 4) FROM top)
         |ORDER BY series ASC, time DESC""".stripMargin,
    "influx_const_pct" ->
      s"""WITH ${timerStats("purchase", 3600000L)},
         |p50s AS (SELECT b, p50 FROM stats),
         |spine AS (SELECT unnest(generate_series($F, $T - ($T % 3600000), 3600000)) AS time)
         |SELECT series, time, value FROM (
         |  SELECT 'base' AS series, time, 10.5 AS value FROM spine
         |  UNION ALL
         |  SELECT 'purchase.p50', b, CAST(p50 AS DOUBLE) FROM p50s
         |  UNION ALL
         |  SELECT 'purchase.p99', b, CAST(p99 AS DOUBLE) FROM stats)
         |ORDER BY series, time""".stripMargin,
    "influx_math_ops" ->
      s"""WITH m AS (
         |  SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b,
         |         CAST(floor(value) AS BIGINT) AS v
         |  FROM events WHERE event_type = 'error' AND floor(value) >= 0
         |    AND epoch_ms(ts) BETWEEN $F AND $T),
         |st AS (SELECT b, MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS cnt, SUM(v) AS sm
         |       FROM m GROUP BY b),
         |s2 AS (SELECT b, mn, mx, (2*sm + cnt) // (2*cnt) AS mean FROM st)
         |SELECT series, time, value FROM (
         |  SELECT 'dbl' AS series, b AS time, CAST(mean * 2 AS DOUBLE) AS value FROM s2
         |  UNION ALL SELECT 'span', b, CAST(mx + mn AS DOUBLE) FROM s2
         |  UNION ALL SELECT 'spread', b, CAST(mx - mn AS DOUBLE) FROM s2)
         |ORDER BY series, time""".stripMargin,
    "influx_multi_source" ->
      s"""WITH m AS (
         |  SELECT event_type, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b
         |  FROM events WHERE event_type IN ('view', 'click') AND floor(value) >= 0
         |    AND epoch_ms(ts) BETWEEN $F AND $T)
         |SELECT event_type || '.count' AS series, b AS time,
         |       CAST(COUNT(*) AS DOUBLE) AS value
         |FROM m GROUP BY 1, 2 ORDER BY series, time""".stripMargin,
    "influx_auto_resolution" ->
      s"""WITH m AS (
         |  SELECT epoch_ms(ts) - epoch_ms(ts) % 1800000 AS b
         |  FROM events WHERE event_type = 'purchase' AND floor(value) >= 0
         |    AND epoch_ms(ts) BETWEEN $F AND $T)
         |SELECT 'purchase.count' AS series, b AS time,
         |       CAST(COUNT(*) AS DOUBLE) AS value
         |FROM m GROUP BY b ORDER BY time""".stripMargin,
    "influx_list_series" ->
      """SELECT CAST(0 AS BIGINT) AS time, event_type || '_count' AS name
        |FROM (SELECT DISTINCT event_type FROM events)
        |ORDER BY name""".stripMargin,
    "influx_gauge_p95" ->
      s"""WITH m AS (
         |  SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b,
         |         CAST(floor(value) AS BIGINT) AS v
         |  FROM events WHERE event_type = 'view' AND floor(value) >= 0
         |    AND epoch_ms(ts) BETWEEN $F AND $T),
         |g AS (SELECT b, v, COUNT(*) AS c FROM m GROUP BY 1, 2),
         |w AS (SELECT b, v, c,
         |        SUM(c) OVER (PARTITION BY b ORDER BY v) AS cum,
         |        SUM(c) OVER (PARTITION BY b) AS tot FROM g),
         |stats AS (
         |  SELECT b, MIN(v) AS mnv,
         |    MIN(v) FILTER (WHERE cum >= GREATEST(1, CAST(floor((95.0/100.0)*tot + 0.5) AS BIGINT))) AS p95
         |  FROM w GROUP BY b)
         |SELECT series, time, value FROM (
         |  SELECT 'view_gauge.min' AS series, b AS time, CAST(mnv AS DOUBLE) AS value FROM stats
         |  UNION ALL
         |  SELECT 'view_gauge.p95', b, CAST(p95 AS DOUBLE) FROM stats)
         |ORDER BY series, time""".stripMargin,
  )
}
