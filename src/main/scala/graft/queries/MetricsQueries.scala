package graft.queries

import graft.Tables
import graft.rollup.Rollup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Khronus-semantics queries over the `events` table: each event is a
  * measurement of metric `event_type` with value `floor(value)` (the
  * reference coerces measured values to Long on ingest).
  *
  * The histogram summaries run through the FULL rollup cascade
  * (5 s raw → 30 s → 1 m → 5 m …), so the oracle checks don't just test
  * one groupBy — they pin the merge-associativity thesis: summaries of
  * merged sketches must equal summaries computed directly from raw data.
  */
object MetricsQueries {

  private def measurements(spark: SparkSession, dir: String): DataFrame =
    Rollup.eventsAsMeasurements(Tables.events(spark, dir))

  /** The coarsest of `tiers` over every bucket of `meas`. */
  private def top(kind: Rollup.Kind, meas: DataFrame,
                  tiers: Seq[Long] = Rollup.StandardTiers): DataFrame =
    Rollup.cascade(kind, meas, tiers.map(Rollup.Span(_))).top

  /** Counter path through two cascade steps: per-metric event counts at
    * 1 m resolution, built 5 s → 30 s → 1 m. */
  def counterRollup1m(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir).select(
      col("event_type").as("metric"), col("ts_ms"), lit(1L).as("value"))
    // same 5 s → 30 s → 1 m chain, aligned on one (metric, 1 m-bucket)
    // exchange (r15 optimization: was one Exchange per step)
    top(Rollup.Counter, counts, Seq(30000L, 60000L)).orderBy("metric", "bucket_start")
  }

  /** Histogram summary at 5 m via the full cascade (4 merge stages). */
  def hdrSummary5m(spark: SparkSession, dir: String): DataFrame = {
    // same 5 s → 30 s → 1 m → 5 m merge chain, aligned on one
    // (metric, 5 m-bucket) exchange (r15: was one Exchange per step)
    val t5m = top(Rollup.Histogram, measurements(spark, dir), Seq(30000L, 60000L, 300000L))
    Rollup.histogramSummaries(t5m).orderBy("metric", "bucket_start")
  }

  /** Histogram summary at 1 h via the full standard cascade — the
    * coarsest tier, equivalent to computing directly from raw data. */
  def hdrSummary1h(spark: SparkSession, dir: String): DataFrame = {
    // full standard cascade, aligned on one (metric, 1 h-bucket)
    // exchange (r15: was one Exchange per step — 8 total)
    Rollup.histogramSummaries(top(Rollup.Histogram, measurements(spark, dir)))
      .orderBy("metric", "bucket_start")
  }

  /** DuckDB oracle for a histogram-summary tier: percentiles via the
    * cumulative-count rule the sketch implements — smallest value whose
    * cumulative count reaches max(1, floor(p/100*total + 0.5)).
    * (Values in this dataset are < 2048 where the sketch has unit
    * resolution, so sketch quantization is the identity and the oracle
    * can work on exact values.)
    */
  private def summaryOracle(durMs: Long): String = {
    val ps = Seq("50.0" -> "p50", "80.0" -> "p80", "90.0" -> "p90",
                 "95.0" -> "p95", "99.0" -> "p99", "99.9" -> "p999")
    val pCols = ps.map { case (p, name) =>
      s"  MIN(v) FILTER (WHERE cum >= GREATEST(1, CAST(floor(($p/100.0)*tot + 0.5) AS BIGINT)))" +
        s" AS $name"
    }.mkString(",\n")
    s"""WITH m AS (
       |  SELECT event_type AS metric,
       |         epoch_ms(ts) - epoch_ms(ts) % $durMs AS bucket_start,
       |         CAST(floor(value) AS BIGINT) AS v
       |  FROM events WHERE value >= 0),
       |g AS (SELECT metric, bucket_start, v, COUNT(*) AS c FROM m GROUP BY 1,2,3),
       |w AS (SELECT metric, bucket_start, v, c,
       |        SUM(c) OVER (PARTITION BY metric, bucket_start ORDER BY v) AS cum,
       |        SUM(c) OVER (PARTITION BY metric, bucket_start) AS tot
       |      FROM g)
       |SELECT metric, bucket_start,
       |  CAST(MAX(tot) AS BIGINT) AS count,
       |  MIN(v) AS min, MAX(v) AS max,
       |  CAST((2*SUM(v*c) + MAX(tot)) // (2*MAX(tot)) AS BIGINT) AS mean,
       |$pCols
       |FROM w GROUP BY metric, bucket_start
       |ORDER BY metric, bucket_start""".stripMargin
  }

  /** Values scaled ×100 so they exceed the sketch's 2048-unit zone and
    * percentiles exercise the real HDR quantization (power-of-two
    * buckets, 1024 sub-buckets, highest-equivalent-value reporting).
    * The oracle reproduces the exact bucket math in SQL — this is the
    * query that pins the sketch's 3-significant-digit contract. */
  def hdrQuantized1h(spark: SparkSession, dir: String): DataFrame = {
    val meas = Tables.events(spark, dir).select(
      col("event_type").as("metric"), col("ts_ms"),
      floor(col("value") * 100).cast("long").as("value"))
    Rollup.histogramSummaries(top(Rollup.Histogram, meas))
      .select("metric", "bucket_start", "count", "min", "max", "p50", "p99")
      .orderBy("metric", "bucket_start")
  }

  /** JSON payload extraction (the ingest envelope is JSON in the
    * reference; here the events.props column): json path → typed
    * column, aggregated per metric. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), max("k").as("max_k"), count(lit(1)).as("n"))
      .orderBy("event_type")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_counter_rollup_1m" -> (counterRollup1m _),
    "k_hdr_summary_5m"    -> (hdrSummary5m _),
    "k_hdr_summary_1h"    -> (hdrSummary1h _),
    "k_hdr_quantized_1h"  -> (hdrQuantized1h _),
    "k_json_props"        -> (jsonProps _),
  )

  val oracleSql: Map[String, String] = Map(
    "k_counter_rollup_1m" ->
      """SELECT event_type AS metric,
        |       epoch_ms(ts) - epoch_ms(ts) % 60000 AS bucket_start,
        |       COUNT(*) AS count
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "k_hdr_summary_5m" -> summaryOracle(300000L),
    "k_hdr_summary_1h" -> summaryOracle(3600000L),
    "k_hdr_quantized_1h" ->
      """WITH m AS (
        |  SELECT event_type AS metric,
        |         epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b,
        |         CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events WHERE floor(value * 100) >= 0),
        |q AS (SELECT metric, b, v,
        |        CASE WHEN v < 2048 THEN CAST(0 AS BIGINT)
        |             ELSE CAST(floor(log2(v)) AS BIGINT) - 10 END AS bi
        |      FROM m),
        |q2 AS (SELECT metric, b, v, bi, (v >> bi) << bi AS qv FROM q),
        |g AS (SELECT metric, b, qv, bi, COUNT(*) AS c,
        |        MIN(v) AS mnv, MAX(v) AS mxv
        |      FROM q2 GROUP BY 1, 2, 3, 4),
        |w AS (SELECT *, SUM(c) OVER (PARTITION BY metric, b ORDER BY qv) AS cum,
        |        SUM(c) OVER (PARTITION BY metric, b) AS tot FROM g)
        |SELECT metric, b AS bucket_start,
        |  CAST(MAX(tot) AS BIGINT) AS count, MIN(mnv) AS min, MAX(mxv) AS max,
        |  MIN(qv + (CAST(1 AS BIGINT) << bi) - 1)
        |    FILTER (WHERE cum >= GREATEST(1, CAST(floor((50.0/100.0)*tot + 0.5) AS BIGINT))) AS p50,
        |  MIN(qv + (CAST(1 AS BIGINT) << bi) - 1)
        |    FILTER (WHERE cum >= GREATEST(1, CAST(floor((99.0/100.0)*tot + 0.5) AS BIGINT))) AS p99
        |FROM w GROUP BY metric, b
        |ORDER BY metric, bucket_start""".stripMargin,
    "k_json_props" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
