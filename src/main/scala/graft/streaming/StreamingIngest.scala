package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.ensureRegistered
import graft.ingest.MetricBatchIngest
import graft.rollup.Rollup
import graft.sources.TierStore

/** Streaming ingest + incremental rollup cascade on Structured
  * Streaming, mirroring the reference's tick pipeline (SURVEY §2.9):
  *
  *  - tick cadence   ≙ trigger interval (default 30 s)
  *  - tick-delay ×30s late-data grace ≙ `withWatermark(ts, 30 s)`
  *  - 5 s raw pre-aggregation groups ≙ streaming window("5 seconds")
  *    with the hdr_sketch aggregate (reference:
  *    store/MetricMeasurementStore.scala:24-25)
  *  - higher tiers: one incremental batch pass per kind and tick. It
  *    reads the raw sink once, from the lowest tier cursor, and builds
  *    every tier from that read with [[Rollup.cascade]]; each tier keeps
  *    its own closed-bucket cursor (reference cursor semantics:
  *    model/TimeWindow.scala:40-65) — chaining streaming aggs directly
  *    is restricted in Spark, and the cursor design is what the
  *    reference does anyway. Every tier's new rows land in one staged
  *    Parquet write, and one commit record per kind carries every
  *    tier's cursor, so an increment is published exactly once (the
  *    file-sink log of Structured Streaming, across tiers). Batch
  *    [[graft.rollup.RollupJob]] is the same cascade run from empty
  *    cursors.
  *
  * All sinks — the streaming raw tiers and the cascade tier tables —
  * are `bucket_date`-partitioned parquet (the raw sinks via
  * `DataStreamWriter.partitionBy`, the cascade via [[TierStore]]), so
  * on a long-running deployment queries prune by date at the file
  * listing and retention ([[TierStore.enforceRetention]]) drops whole
  * day partitions, matching the reference's per-resolution range reads
  * with TTL'd storage (store/SummaryStore.scala:108-117,
  * reference.conf:22-47).
  *
  * Known delta vs the reference (documented in SURVEY §7.4): rows later
  * than the watermark are dropped; the reference silently stores them
  * in the raw tier but never rolls them up. Observable summaries match.
  */
class StreamingIngest(spark: SparkSession, baseDir: String,
                      watermark: String = "30 seconds") {

  ensureRegistered(spark)

  /** Cascade tier tables live in the [[TierStore]] layout:
    * `TierStore.path("tier", d)` == the historical `tier_<d>` dirs. */
  val store = new TierStore(spark, baseDir)

  def rawTierPath = s"$baseDir/tier_raw"
  def tierPath(d: Long) = store.path(StreamingIngest.HistKind, d)
  import StreamingIngest.{CounterKind, HistKind, MaxBytesPerTrigger}

  /** JSON-lines file stream → parsed measurements stream.
    *
    * Admission is BYTES-based (r14, the §H burst fix): a static
    * `maxFilesPerTrigger` gates a many-small-files burst by FILE COUNT —
    * §H measured an instantaneous 800-file burst paying ⌈800/64⌉ = 13
    * triggers of admission alone (92.4 s freshness against a 30 s-class
    * envelope) even though the files held only a few MB. Bytes
    * admission sizes each micro-batch by the work it actually carries:
    * a burst of small files lands in one trigger, a flood of big ones
    * is still bounded at [[StreamingIngest.MaxBytesPerTrigger]] per
    * batch — which is also the right bound at 100 TB, where file sizes
    * vary by orders of magnitude across producers. */
  def readJsonStream(inputDir: String,
                     defaultTs: () => Long = () => System.currentTimeMillis()): DataFrame = {
    val reader = spark.readStream.format("text")
      .option("maxBytesPerTrigger", MaxBytesPerTrigger.toString)
    MetricBatchIngest.parse(reader.load(inputDir), "value", defaultTs)
  }

  /** Measurements stream → watermarked 5 s sketch aggregation → raw
    * tier appends. Append output mode: a 5 s bucket is emitted exactly
    * once, when the watermark passes it — the reference's
    * "bucket closed" condition. */
  def startRawTier(measurements: DataFrame,
                   trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    startRawSink(Rollup.Histogram,
      measurements.where(col("mtype") === "timer" || col("mtype") === "gauge"),
      trigger, s"$baseDir/_checkpoint_raw", rawTierPath)

  /** Counter path: counts per 5 s bucket (reference:
    * model/CounterBucket.scala — the measured value IS the increment). */
  def startCounterTier(measurements: DataFrame,
                       trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    startRawSink(Rollup.Counter, measurements.where(col("mtype") === "counter"),
      trigger, s"$baseDir/_checkpoint_counter_raw", counterRawTierPath)

  /** One raw sink body for both kinds: the kind's raw aggregate over
    * watermarked 5 s windows. [[MetricBatchIngest.parse]] has already
    * skipped negative values, so the kind's batch admission filter is
    * not re-applied here. */
  private def startRawSink(kind: Rollup.Kind, measurements: DataFrame, trigger: Trigger,
                           checkpoint: String, path: String): StreamingQuery = {
    val agg = measurements
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", watermark)
      .groupBy(col("metric"), window(col("ts"), "5 seconds"))
      .agg(kind.rawAgg)
      .select(col("metric"),
        unix_millis(col("window.start")).as("bucket_start"), col(kind.column))
    startTierSink(agg, trigger, checkpoint, path)
  }

  /** Date-partitioned streaming parquet sink (same layout TierStore
    * writes, so retention and pruned reads apply to live sinks too). */
  private def startTierSink(agg: DataFrame, trigger: Trigger,
                            checkpoint: String, path: String): StreamingQuery = {
    requirePartitionedLayout(path)
    val partitioned = agg
      .withColumn("bucket_date", TierStore.utcDate(col("bucket_start")))
    // a sink's `_spark_metadata` log keeps naming partitions that
    // enforceRawRetention dropped; the sidecar lets every read skip the
    // schema inference that could open one of them
    TierStore.writeSchema(path, partitioned.schema)
    partitioned
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", path)
      .partitionBy("bucket_date")
      .start()
  }

  /** A raw sink dir written by a pre-partitioning version holds flat
    * parquet files tracked by the sink's `_spark_metadata` log; resuming
    * a partitioned writer on it would mix layouts in one log and break
    * every subsequent read (partition discovery sees conflicting
    * structures; old rows lack `bucket_date`). A streaming sink can't be
    * rewritten in place without checkpoint surgery, so refuse loudly. */
  private[graft] def requirePartitionedLayout(path: String): Unit = {
    val files = Option(new java.io.File(path).listFiles()).map(_.toSeq).getOrElse(Nil)
    val flat = files.exists(f => f.isFile && f.getName.endsWith(".parquet"))
    if (flat) throw new IllegalStateException(
      s"$path contains flat (unpartitioned) streaming sink output from an older " +
        "version; starting a date-partitioned writer on it would corrupt the sink. " +
        "Re-ingest into a fresh dir (with its checkpoint) or roll the old raw tier " +
        "forward with the cascade and retire the dir.")
  }

  def counterRawTierPath = s"$baseDir/counter_tier_raw"
  def counterTierPath(d: Long) = store.path(CounterKind, d)

  /** Counter cascade increment: counts just add. */
  def runCounterCascadeIncrement(tiers: Seq[Long] = Rollup.StandardTiers): Unit =
    increment(CounterKind, tiers)

  /** One incremental cascade pass: every tier (smallest→largest) rolls
    * its fully-closed buckets past its cursor into its tier table, and
    * the cursors advance with them — the reference's TimeWindowChain, as
    * exactly-once batch increments over parquet. */
  def runCascadeIncrement(tiers: Seq[Long] = Rollup.StandardTiers): Unit =
    increment(HistKind, tiers)

  /** One increment of a kind, in three steps: [[stage]] writes every
    * tier's new rows in one Parquet write; the commit record then takes
    * the staged id and every tier's new cursor in one atomic rename; the
    * staged files are then published into the tier tables. A crash
    * leaves either an uncommitted stage, which the next increment deletes
    * and rolls again, or a committed one, which it publishes first
    * ([[TierStore.recover]]): no increment is lost or rolled twice. */
  private def increment(storeKind: String, tiers: Seq[Long]): Unit = {
    store.recover(storeKind)
    stage(storeKind, tiers).foreach { case (id, cursors) =>
      store.commit(storeKind, id, cursors)
      store.publish(storeKind, id)
    }
  }

  /** Stage one increment of `storeKind`: a probe for the raw sink's
    * newest bucket, which closes each tier's buckets
    * ([[Rollup.Span.closedAt]]), one read of the raw sink from the lowest
    * cursor on, and every tier with a newly closed bucket from that one
    * read ([[Rollup.cascade]]), staged in one write. Both reads are
    * pruned to the lowest cursor's day: on a long-lived sink they list
    * only partitions near it, and partitions before that day may
    * legitimately no longer exist ([[enforceRawRetention]]). The first
    * pass has cursor = Long.MinValue, no finite lower date. Returns the
    * staged id and every tier's cursor once it is published; None when
    * nothing is new. */
  private[graft] def stage(storeKind: String,
                           tiers: Seq[Long] = Rollup.StandardTiers): Option[(String, Map[Long, Long])] = {
    val (kind, rawPath) =
      if (storeKind == CounterKind) (Rollup.Counter, counterRawTierPath)
      else (Rollup.Histogram, rawTierPath)
    val cursors = tiers.map(readCursor(storeKind, _))
    val from = cursors.min
    spark.catalog.refreshByPath(rawPath)
    val all = TierStore.read(spark, rawPath)
    val raw = (if (from >= 0L) all.where(col("bucket_date") >= lit(TierStore.utcDateOf(from)))
               else all).where(col("bucket_start") > from)
    // a top-1, not an aggregate: one Spark job, where `max` plans two
    raw.select(col("bucket_start")).orderBy(col("bucket_start").desc).limit(1).collect()
      .headOption.map(_.getLong(0)).flatMap { newest =>
      val spans = tiers.zip(cursors).map { case (d, cursor) =>
        Rollup.Span.closedAt(d, cursor, newest)
      }
      val cascade = Rollup.cascade(kind, raw.drop("bucket_date"), spans)
      if (cascade.spans.isEmpty) None
      else {
        val id = store.stage(storeKind, cascade.spans.map(_.durationMs), cascade.frame)
        val known = tiers.zip(cursors).filter(_._2 != Long.MinValue)
        Some(id -> (store.committed(storeKind).fold(Map.empty[Long, Long])(_._2) ++ known ++
          cascade.spans.map(s => s.durationMs -> s.closed)))
      }
    }
  }

  def tier(d: Long): DataFrame = store.readAll(HistKind, d)

  /** Retention for the RAW streaming sinks (reference TTLs raw buckets
    * at hours, not days — reference.conf:22-47): drops whole
    * `bucket_date` partition dirs that are BOTH past the ttl and
    * strictly older than the day of the lowest cursor of `tiers`. The
    * cursor bound makes the drop safe-by-construction: every tier is
    * built from the raw sink, and every read of it — probe and
    * increment — prunes to `bucket_date >= day(lowest cursor)` before
    * any file is opened, so a dropped partition is unreachable even
    * through the sink's `_spark_metadata` listing. Data not yet rolled
    * up into every tier is never dropped, whatever the ttl says.
    * Returns dropped dirs per kind. */
  def enforceRawRetention(ttlMs: Long,
                          nowMs: Long = System.currentTimeMillis(),
                          tiers: Seq[Long] = Rollup.StandardTiers): Map[String, Seq[String]] = {
    def dropFor(kind: String, rawDir: String): Seq[String] = {
      val cursor = tiers.map(readCursor(kind, _)).min
      if (cursor == Long.MinValue) return Nil // a tier has rolled nothing up yet
      val cursorDay = TierStore.utcDateOf(cursor).toLocalDate
      val ttlDay = java.time.LocalDate.ofInstant(
        java.time.Instant.ofEpochMilli(nowMs - ttlMs), java.time.ZoneOffset.UTC)
      val cutoff = if (cursorDay.isBefore(ttlDay)) cursorDay else ttlDay
      val dropped = TierStore.dropPartitionsBefore(new java.io.File(rawDir), cutoff)
      if (dropped.nonEmpty) spark.catalog.refreshByPath(rawDir)
      dropped
    }
    Map(HistKind -> dropFor(HistKind, rawTierPath),
      CounterKind -> dropFor(CounterKind, counterRawTierPath))
  }

  /** Pre-kind-namespace cursor files: histogram tiers wrote `cursor_$d`,
    * counter tiers disambiguated as `cursor_${d+1}` (tier durations are
    * round seconds, so d+1 never collides with another tier). */
  private def legacyCursorPath(kind: String, d: Long): String =
    if (kind == CounterKind) s"$baseDir/cursor_${d + 1}" else s"$baseDir/cursor_$d"

  /** Read the tier cursor from the kind's commit record. A tier the
    * record does not name falls back to the per-tier cursor file, then
    * to the legacy (un-namespaced) one, which older versions wrote, so
    * an upgraded deployment resumes where it left off instead of
    * re-rolling the whole raw tier into existing tier tables (which
    * would silently double counts and sketches). The next commit
    * carries the value into the record; the old files are left behind,
    * inert. */
  private[graft] def readCursor(kind: String, d: Long): Long = {
    def read(path: String): Option[Long] = {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(p))
        Some(new String(java.nio.file.Files.readAllBytes(p)).trim.toLong)
      else None
    }
    store.committed(kind).flatMap(_._2.get(d))
      .orElse(read(s"$baseDir/cursor_${kind}_$d"))
      .orElse(read(legacyCursorPath(kind, d)))
      .getOrElse(Long.MinValue)
  }
}

object StreamingIngest {
  /** TierStore `kind` names for the streaming cascade's tier tables
    * (chosen to match the pre-TierStore directory names, so existing
    * deployments keep their paths; cursors additionally fall back to
    * the legacy un-namespaced files — see `readCursor`). */
  val HistKind = "tier"
  val CounterKind = "counter_tier"

  /** File-stream admission bound per micro-batch (see `readJsonStream`). */
  val MaxBytesPerTrigger: Long = 64L << 20
}
