package graft.rollup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{ensureRegistered, hdr_merge, hdr_sketch, hdr_summary}

/** The rollup cascade: raw measurements → per-resolution bucket tiers →
  * summary tables (reference: model/TimeWindow.scala:34-172,
  * model/TimeWindowChain.scala:25-68).
  *
  * Tier k is always built from tier k-1, never from raw data — each
  * step merges pre-aggregated sketches, so percentiles compose exactly
  * ("percentiles are computed by merging histograms, never by averaging
  * percentiles", reference README.md:23).
  *
  * Each tier kind ([[Histogram]], [[Counter]]) is defined once here, as
  * the reference's one generic `TimeWindow` stage is; every driver —
  * [[RollupJob]], the streaming increments, the k_* queries — calls
  * [[rawTier]], [[tierUp]] or [[cascadeAlignedTop]] and only chooses how
  * to materialize the frames.
  *
  * Scale design: every stage is one `groupBy(metric, bucket)` over data
  * already collapsed to one row per (metric, finer-bucket) — after the
  * 5 s pre-aggregation the data volume is bounded by
  * (#metrics × time/5 s) rows of a few hundred bytes, independent of raw
  * event count. Map-side partial merge means the shuffle carries one
  * sketch per (metric, bucket, partition). Re-keying to a coarser bucket
  * is pure integer arithmetic on the partition key's companion column.
  */
object Rollup {

  /** What a tier kind decides: its value column, the aggregate that
    * builds it from measurement values, the aggregate that merges a
    * finer tier of it, and whether negative values are dropped. */
  sealed abstract class Kind(val column: String, raw: Column => Column,
                             merge: Column => Column, dropsNegatives: Boolean) {
    def rawAgg: Column = raw(col("value")).as(column)
    def mergeAgg: Column = merge(col(column)).as(column)
    private[rollup] def admit(measurements: DataFrame): DataFrame =
      if (dropsNegatives) measurements.where(col("value") >= 0) else measurements
  }

  /** Timers and gauges: one HDR sketch per bucket; negative values are
    * skipped, as the reference skips them on ingest. */
  case object Histogram extends Kind("sketch", hdr_sketch, hdr_merge, dropsNegatives = true)

  /** Counters: the measured value is the increment, and counts add
    * (reference: model/CounterBucket.scala). */
  case object Counter extends Kind("count", sum(_), sum(_), dropsNegatives = false)

  /** Standard tier durations, smallest→largest (reference:
    * reference.conf:11). Milliseconds. */
  val StandardTiers: Seq[Long] =
    Seq(30000L, 60000L, 300000L, 600000L, 1800000L, 3600000L)

  /** Raw ingest pre-aggregation group: 5 s wall-clock aligned
    * (reference: store/MetricMeasurementStore.scala:24-25). */
  val RawGroupMs: Long = 5000L

  def bucketOf(tsMs: Column, durationMs: Long): Column =
    (tsMs - pmod(tsMs, lit(durationMs))).cast("long")

  /** Measurements (metric, ts_ms, value:Long) → raw 5 s tier
    * (metric, bucket_start, kind.column). */
  def rawTier(kind: Kind, measurements: DataFrame): DataFrame = {
    ensureRegistered(measurements.sparkSession)
    kind.admit(measurements)
      .groupBy(col("metric"), bucketOf(col("ts_ms"), RawGroupMs).as("bucket_start"))
      .agg(kind.rawAgg)
  }

  /** One cascade step: a tier at a finer resolution → the tier at
    * `durationMs` (merge under the coarser bucket). */
  def tierUp(kind: Kind, prev: DataFrame, durationMs: Long): DataFrame = {
    ensureRegistered(prev.sparkSession)
    prev.groupBy(col("metric"), bucketOf(col("bucket_start"), durationMs).as("bucket_start"))
      .agg(kind.mergeAgg)
  }

  /** One-exchange cascade to the TOP tier (optimization guide §2.4:
    * operations keyed the same way share one exchange). Chaining
    * [[tierUp]] pays one Exchange per step because each step regroups
    * by a different bucket expression; here the coarsest tier's bucket
    * is computed up front, the input is hash-partitioned ONCE by
    * (metric, top-bucket), and every step groups by
    * (metric, top-bucket, step-bucket). The carried top-bucket is
    * functionally determined by every finer step's bucket (each step
    * duration divides the top duration — required below), so group
    * contents — and therefore every merged sketch — are bit-identical
    * to the [[tierUp]] chain, while hashpartitioning(metric, top-bucket)
    * satisfies each step's ClusteredDistribution and no further
    * Exchange is planned: 1 exchange for the whole chain instead of
    * 1 + |tiers|.
    *
    * Every merge stage still runs (this does not shortcut the
    * merge-associativity chain, it only aligns the partitioning), and
    * at corpus scale the partition grain is (metric × top window) —
    * the cascade's natural parallelism, so a single hot metric still
    * spreads across its time windows rather than one partition. */
  def cascadeAlignedTop(kind: Kind, measurements: DataFrame,
                        tiers: Seq[Long] = StandardTiers): DataFrame = {
    ensureRegistered(measurements.sparkSession)
    require(tiers.nonEmpty, "tiers must be non-empty")
    val top = tiers.last
    require(tiers.forall(top % _ == 0) && top % RawGroupMs == 0,
      s"every tier duration must divide the top tier ($top ms) for the " +
        s"carried top-bucket to be functionally dependent: $tiers")
    require(tiers == tiers.sorted, s"tiers must ascend: $tiers")
    var prev = kind.admit(measurements)
      .withColumn("__top", bucketOf(col("ts_ms"), top))
      .repartition(col("metric"), col("__top"))
      .groupBy(col("metric"), col("__top"),
        bucketOf(col("ts_ms"), RawGroupMs).as("bucket_start"))
      .agg(kind.rawAgg)
    tiers.init.foreach { d =>
      prev = prev.groupBy(col("metric"), col("__top"),
          bucketOf(col("bucket_start"), d).as("bucket_start"))
        .agg(kind.mergeAgg)
    }
    prev.groupBy(col("metric"), col("__top").as("bucket_start"))
      .agg(kind.mergeAgg)
  }

  /** Bucket tier → summary table: one wide row per (metric, bucket)
    * (reference: model/HistogramSummary.scala:21).
    *
    * The struct expands through `inline(array(...))`, not
    * `.select("s.*")`: star-expanding a projected struct collapses into
    * one projection where the summary expression re-evaluates PER FIELD
    * — ten sketch deserializations per row. The Generate node evaluates
    * it once. */
  def histogramSummaries(tier: DataFrame): DataFrame = {
    ensureRegistered(tier.sparkSession)
    tier.select(col("metric"), col("bucket_start"),
      inline(array(hdr_summary(col("sketch")))))
  }

  /** Events table → timer-style measurements: metric = event_type,
    * value = floor(value) as Long (reference coerces to Long on ingest). */
  def eventsAsMeasurements(events: DataFrame): DataFrame =
    events.select(
      col("event_type").as("metric"),
      col("ts_ms"),
      floor(col("value")).cast("long").as("value"))
}
