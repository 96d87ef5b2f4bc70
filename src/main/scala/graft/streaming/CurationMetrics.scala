package graft.streaming

import java.io.File

import graft.rollup.{Rollup, RollupJob}
import graft.sources.TierStore
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bridge from the [[StreamingCuration]] funnel record to the metrics
  * half of the engine: per-batch per-stage doc counts become
  * `~curation.<stage>` COUNTER metrics in a [[TierStore]], so the
  * Influx surface charts curation throughput ("docs surviving the
  * quality gate per minute") with the same queries, tier routing, and
  * dashboards as any ingest metric — the `~` prefix marks them
  * internal exactly like the reference's `~system.*` self-monitoring
  * convention (see [[graft.Monitoring]]).
  *
  * Replay semantics: the funnel is written at-least-once (a crash
  * between a batch's kept/state writes and its checkpoint commit
  * re-emits the batch), so measurements dedup on (batch_id, stage)
  * keeping the FIRST stamp — a replayed batch never double-counts.
  *
  * Publish semantics: each [[publish]] rebuilds the counter cascade
  * from the full funnel record into a fresh directory and atomically
  * swaps it in ([[TierStore.swapInto]] — the PqIndexStore pattern), so
  * concurrent readers see either the previous snapshot or the new one,
  * never a partial write. The funnel frame is batches×stages rows —
  * the rebuild is trivially cheap next to the curation work itself —
  * and the swap keeps the bridge idempotent: publish as often as you
  * like, counts never accumulate across publishes.
  */
object CurationMetrics {

  val MetricPrefix = "~curation."

  /** Funnel rows → measurements (metric, ts_ms, value): replayed
    * batches collapse to their first stamp, stages become
    * `~curation.<stage>` counter increments. */
  def funnelMeasurements(spark: SparkSession, funnelDir: String): DataFrame = {
    // streaming sink listings are cached per path in the session
    spark.catalog.refreshByPath(funnelDir)
    val w = Window.partitionBy("batch_id", "stage").orderBy(col("ts_ms").asc)
    spark.read.parquet(funnelDir)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(concat(lit(MetricPrefix), col("stage")).as("metric"),
        col("ts_ms"), col("n_docs").as("value"))
  }

  /** Per-batch gate-survival report with alert flags — the guardrail
    * an operator pages on: a batch where the quality gate suddenly
    * keeps 2% instead of 80% means the upstream crawl broke (or the
    * gate did), and the funnel record already contains the evidence.
    * For every (batch, stage>1): ratio_e6 = n_docs·1e6 div previous
    * stage's n_docs (exact integers; an empty previous stage reports
    * ratio 1e6 — nothing existed to lose), alert = ratio < minRatio_e6.
    * Replayed batches collapse to their first stamp like
    * [[funnelMeasurements]]. The frame is batches×stages rows —
    * inspect it directly or route `alert` rows to paging. */
  def gateAlerts(spark: SparkSession, funnelDir: String,
                 minRatioE6: Long = 100000L): DataFrame = {
    spark.catalog.refreshByPath(funnelDir)
    val w = Window.partitionBy("batch_id", "stage").orderBy(col("ts_ms").asc)
    val first = spark.read.parquet(funnelDir)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("batch_id"), col("stage"), col("n_docs"))
    val prevW = Window.partitionBy("batch_id").orderBy(col("stage").asc)
    first
      .withColumn("prev", lag(col("n_docs"), 1).over(prevW))
      .where(col("prev").isNotNull)
      .select(col("batch_id"), col("stage"), col("n_docs"), col("prev"),
        when(col("prev") === 0L, lit(1000000L))
          .otherwise(expr("n_docs * 1000000 div prev")).as("ratio_e6"))
      .withColumn("alert", col("ratio_e6") < minRatioE6)
  }

  /** Build the full counter cascade (raw 5 s + every standard tier)
    * plus the metric catalog from the funnel record, and atomically
    * swap it into `storeDir`. Read it back with
    * `new InfluxPlanner(new TierSummaryProvider(spark, storeDir))`. */
  def publish(spark: SparkSession, funnelDir: String, storeDir: String): Unit =
    publishCounterCascade(spark,
      funnelMeasurements(spark, funnelDir), storeDir)

  /** Shared publish core: a (metric, ts_ms, value) frame becomes the
    * full counter cascade + catalog in a fresh directory, atomically
    * swapped into `storeDir` — used by this bridge and
    * [[CorpusMetrics]]. */
  private[streaming] def publishCounterCascade(spark: SparkSession,
                                               measurements: DataFrame,
                                               storeDir: String): Unit =
   // JVM-wide per-store lock (the PqIndexStore.auditLock pattern):
   // the fixed staging name below means two concurrent publishers
   // against one store path would delete each other's in-flight
   // staging mid-write — the lock ENFORCES the single-publisher
   // contract the r10 comment only asserted. Cross-process publishers
   // remain out of contract (documented; same stance as every twin).
   publishLock(storeDir).synchronized {
    // FIXED staging name, cleared up front (single-publisher contract,
    // like every other twin's commit): a unique-suffix tmp dir would
    // leak one full cascade per crashed publish, with nothing ever
    // scanning for stale suffixes. The glob also clears leftovers from
    // the pre-round-10 nanoTime-suffixed layout.
    val tmp = new File(s"$storeDir.tmp")
    Option(new File(storeDir).getParentFile).map(_.listFiles()).flatMap(Option(_))
      .getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(new File(storeDir).getName + ".tmp"))
      .foreach(TierStore.deleteTree)
    val tmpStore = new TierStore(spark, tmp.toString)
    // localCheckpoint: the measurement frame materializes once; the raw
    // tier and the catalog derive from it, every other tier from the raw
    val meas = measurements.localCheckpoint()
    RollupJob.rollUp(tmpStore, Rollup.Counter, "counter", meas)
    meas.select(col("metric")).distinct()
      .selectExpr("metric AS name", "'counter' AS mtype")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$tmp/meta")
    val dst = new File(storeDir)
    val old = new File(s"$storeDir.old")
    TierStore.recoverSwap(dst, old) // a crashed previous publish
    if (dst.exists()) TierStore.swapInto(dst, tmp, old)
    else require(tmp.renameTo(dst), s"could not move $tmp into place at $dst")
   }

  /** Per-store publish lock, JVM-wide via the shared
    * [[TierStore.pathLock]] registry — see [[publishCounterCascade]]. */
  private def publishLock(dir: String): Object = TierStore.pathLock(dir)
}

/** Bridge from [[graft.ops.Reports.sourceCard]] to the metrics half:
  * each publish stamps the card's per-source volumes and dup rates as
  * `~corpus.<source>.<field>` counters in a [[TierStore]], so corpus
  * HEALTH charts on the same Influx surface as ingest throughput and
  * curation funnels — a nightly release job publishes after its card
  * build and the dashboards show dup-rate regressions per source over
  * time. Same atomic-swap idempotence as [[CurationMetrics]]. */
object CorpusMetrics {

  val MetricPrefix = "~corpus."

  /** Card rows → (metric, ts_ms, value): three series per source.
    * The source component is the only data-driven part of any metric
    * name on the surface — sanitize it to [A-Za-z0-9_-] (everything
    * else → '_') so a source containing '.', '"', '/' or regex
    * metacharacters can't mint series that InfluxQL name/regex reads
    * (`select from "..."`, `list series /.../`) cannot address. */
  def cardMeasurements(card: DataFrame, tsMs: Long): DataFrame = {
    val src = regexp_replace(col("source"), "[^A-Za-z0-9_-]", "_")
    def m(field: String, value: org.apache.spark.sql.Column) =
      struct(
        concat(lit(MetricPrefix), src, lit(s".$field")).as("metric"),
        value.cast("long").as("value"))
    card.select(explode(array(
        m("docs", col("n_docs")),
        m("tokens", col("n_tokens")),
        m("dup_rate_e6", col("dup_rate_e6")))).as("mm"))
      .select(col("mm.metric"), lit(tsMs).as("ts_ms"), col("mm.value"))
  }

  /** Publish a built card (one [[graft.ops.Reports.sourceCard]] frame)
    * at wall-clock `tsMs` — atomic snapshot swap, idempotent. */
  def publish(spark: SparkSession, card: DataFrame, storeDir: String,
              tsMs: Long): Unit =
    CurationMetrics.publishCounterCascade(spark,
      cardMeasurements(card, tsMs), storeDir)
}
