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
  * the reference's one generic `TimeWindow` stage is, and [[cascade]] is
  * the one chain: every driver — [[RollupJob]] and the curation publish
  * (every bucket), the streaming increments (each tier's newly closed
  * buckets past its cursor), the k_* queries — calls it and only chooses
  * the spans and where the tiers' rows go.
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

  /** One tier's share of a cascade run: the buckets of `durationMs` that
    * start in (cursor, closed]. The defaults take every bucket, the last,
    * still partial one included. */
  final case class Span(durationMs: Long, cursor: Long = Long.MinValue,
                        closed: Long = Long.MaxValue) {
    def isEmpty: Boolean = closed <= cursor

    private[Rollup] def cut(tier: DataFrame): DataFrame = {
      val after = if (cursor == Long.MinValue) tier else tier.where(col("bucket_start") > cursor)
      if (closed == Long.MaxValue) after else after.where(col("bucket_start") <= closed)
    }
  }

  object Span {
    /** The span of tier `durationMs` past `cursor` once the raw tier's
      * newest bucket starts at `newestRaw`: a bucket is closed when the raw
      * tier holds a bucket at or after its end. The raw tier emits a 5 s
      * bucket only after the watermark has passed it, so nothing more can
      * land in a bucket the raw tier has moved past. */
    def closedAt(durationMs: Long, cursor: Long, newestRaw: Long): Span =
      Span(durationMs, cursor, Math.floorDiv(newestRaw, durationMs) * durationMs - 1)
  }

  /** The tiers of one [[cascade]] run, smallest first: each non-empty
    * span with its tier's rows (metric, bucket_start, kind.column), built
    * lazily from one lineage. */
  final class Tiers private[Rollup] (rows: Seq[(Span, DataFrame)]) {
    /** The non-empty spans, smallest first. */
    def spans: Seq[Span] = rows.map(_._1)

    /** The coarsest tier's rows. */
    def top: DataFrame = rows.last._1.cut(rows.last._2)

    /** Every span's rows as one frame (metric, bucket_start, kind.column,
      * tier), `tier` being the span's duration in ms: one plan, so one
        * action writes every tier. Each tier is cut to its span by a join
      * with the spans, not by a filter per branch: the optimizer would
      * push such a filter below the aligned exchange, a different one
      * into each branch, and every branch would shuffle on its own. Cut
      * after the union, every branch reads the one aligned exchange (the
      * physical plan reuses it), so no stage is cached; a branch does
      * recompute the merge stages below its tier, which run on rows
      * already collapsed to one per (metric, bucket). */
    def frame: DataFrame = {
      val all = rows.map { case (span, tier) => tier.withColumn("tier", lit(span.durationMs)) }
        .reduce(_ unionAll _)
      val bounds = all.sparkSession.createDataFrame(spans.map(s => (s.durationMs, s.cursor, s.closed)))
        .toDF("tier", "__after", "__upto")
      // null-safe: from a plain comparison the optimizer would infer a
      // not-null filter on each tier's bucket and push it, again one per
      // branch, below the aligned exchange
      all.join(broadcast(bounds), "tier")
        .where((col("bucket_start") > col("__after") && col("bucket_start") <= col("__upto")) <=> true)
        .select(all.columns.map(col): _*)
    }
  }

  /** The rollup cascade: every tier in `spans` (ascending durations,
    * each dividing the last) from one lineage of `raw`, which is either
    * the 5 s raw tier (metric, bucket_start, kind.column) or measurements
    * (metric, ts_ms, value) that are first admitted and pre-aggregated
    * into 5 s buckets.
    *
    * One exchange for the whole chain (optimization guide §2.4:
    * operations keyed the same way share one exchange): the coarsest
    * tier's bucket is computed up front, the input is hash-partitioned
    * ONCE by (metric, top-bucket), and every step groups by
    * (metric, top-bucket, step-bucket). The carried top-bucket is
    * functionally determined by every finer step's bucket, so group
    * contents — and therefore every merged sketch — are bit-identical to
    * a chain that regroups each tier by its own bucket, while
    * hashpartitioning(metric, top-bucket) satisfies each step's
    * ClusteredDistribution and no further Exchange is planned. Every
    * merge stage still runs; at corpus scale the partition grain is
    * (metric × top window), so a single hot metric still spreads across
    * its time windows.
    *
    * Each tier is built over every raw row given and then cut to its
    * span, so a tier whose cursor lags the others still sees whole
    * buckets: pass raw rows from the lowest cursor on. */
  def cascade(kind: Kind, raw: DataFrame, spans: Seq[Span]): Tiers = {
    ensureRegistered(raw.sparkSession)
    val tiers = spans.map(_.durationMs)
    require(tiers.nonEmpty, "tiers must be non-empty")
    val top = tiers.last
    require(tiers.forall(top % _ == 0) && top % RawGroupMs == 0,
      s"every tier duration must divide the top tier ($top ms) for the " +
        s"carried top-bucket to be functionally dependent: $tiers")
    require(tiers == tiers.sorted, s"tiers must ascend: $tiers")
    val aligned =
      if (raw.columns.contains(kind.column))
        raw.withColumn("__top", bucketOf(col("bucket_start"), top))
          .repartition(col("metric"), col("__top"))
      else
        kind.admit(raw)
          .withColumn("__top", bucketOf(col("ts_ms"), top))
          .repartition(col("metric"), col("__top"))
          .groupBy(col("metric"), col("__top"),
            bucketOf(col("ts_ms"), RawGroupMs).as("bucket_start"))
          .agg(kind.rawAgg)
    val finer = spans.init.scanLeft(aligned) { (prev, s) =>
      if (s.durationMs == RawGroupMs) prev
      else prev.groupBy(col("metric"), col("__top"),
          bucketOf(col("bucket_start"), s.durationMs).as("bucket_start"))
        .agg(kind.mergeAgg)
    }
    val rows = finer.tail.map(_.select(col("metric"), col("bucket_start"), col(kind.column))) :+
      finer.last.groupBy(col("metric"), col("__top").as("bucket_start")).agg(kind.mergeAgg)
    new Tiers(spans.zip(rows).filterNot(_._1.isEmpty))
  }

  /** Bucket tier → summary table: one wide row per (metric, bucket)
    * (reference: model/HistogramSummary.scala:21). Columns other than
    * the sketch (a [[Tiers.frame]]'s `tier`) are kept.
    *
    * The struct expands through `inline(array(...))`, not
    * `.select("s.*")`: star-expanding a projected struct collapses into
    * one projection where the summary expression re-evaluates PER FIELD
    * — ten sketch deserializations per row. The Generate node evaluates
    * it once. */
  def histogramSummaries(tier: DataFrame): DataFrame = {
    ensureRegistered(tier.sparkSession)
    tier.select(tier.columns.filter(_ != "sketch").map(col) :+
      inline(array(hdr_summary(col("sketch")))): _*)
  }

  /** Events table → timer-style measurements: metric = event_type,
    * value = floor(value) as Long (reference coerces to Long on ingest). */
  def eventsAsMeasurements(events: DataFrame): DataFrame =
    events.select(
      col("event_type").as("metric"),
      col("ts_ms"),
      floor(col("value")).cast("long").as("value"))
}
