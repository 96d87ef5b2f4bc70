package graft

import graft.rollup.Rollup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RollupSpec extends SparkSpec {
  import RollupSpec.{alignedTop, plainCascade}

  private lazy val meas = Rollup.eventsAsMeasurements(Tables.events(spark, sf))

  test("cascade summaries equal direct-from-raw summaries (merge thesis)") {
    val raw = Rollup.rawTier(Rollup.Histogram, meas)
    // via cascade: 5s → 30s → 1m → 5m
    val cascade = Rollup.histogramSummaries(
      plainCascade(Rollup.Histogram, raw, Seq(30000L, 60000L, 300000L))(300000L))
    // direct: one shot from measurements grouped at 5m
    graft.functions.ensureRegistered(spark)
    val direct = Rollup.histogramSummaries(
      meas.where(col("value") >= 0)
        .groupBy(col("metric"), Rollup.bucketOf(col("ts_ms"), 300000L).as("bucket_start"))
        .agg(graft.functions.hdr_sketch(col("value")).as("sketch")))
    val a = cascade.orderBy("metric", "bucket_start").collect().toSeq
    val b = direct.orderBy("metric", "bucket_start").collect().toSeq
    assert(a == b)
  }

  test("counter cascade equals direct counts") {
    val counts = Tables.events(spark, sf).select(
      col("event_type").as("metric"), col("ts_ms"), lit(1L).as("value"))
    val cascade = plainCascade(Rollup.Counter, Rollup.rawTier(Rollup.Counter, counts),
      Seq(30000L, 3600000L))(3600000L)
    val direct = counts
      .groupBy(col("metric"), Rollup.bucketOf(col("ts_ms"), 3600000L).as("bucket_start"))
      .agg(sum(col("value")).as("count"))
    assert(cascade.orderBy("metric", "bucket_start").collect().toSeq ==
           direct.orderBy("metric", "bucket_start").collect().toSeq)
  }

  test("aligned one-exchange cascade is bit-identical to the plain cascade (r15)") {
    // histogram: full standard chain to 1 h
    val plain = Rollup.histogramSummaries(
      plainCascade(Rollup.Histogram, Rollup.rawTier(Rollup.Histogram, meas))(3600000L))
      .orderBy("metric", "bucket_start").collect().toSeq
    val aligned = Rollup.histogramSummaries(alignedTop(Rollup.Histogram, meas))
      .orderBy("metric", "bucket_start").collect().toSeq
    assert(aligned == plain)
    // ONE real shuffle exchange in the aligned tier plan (the
    // repartition; summaries/orderBy excluded by planning just the
    // tier): the plain chain pays 1 + |tiers|. Counted on the plan TREE
    // (not a string grep, which would also match BroadcastExchange /
    // ReusedExchange and is brittle across AQE formatting).
    val tierPlan = alignedTop(Rollup.Histogram, meas).queryExecution.executedPlan
    // the AQE wrapper is a leaf to collect(); count inside its input plan
    val inner = tierPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val nShuffles = inner.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size
    assert(nShuffles == 1, inner.toString)
    // counter: 5 s → 30 s → 1 m chain
    val counts = Tables.events(spark, sf).select(
      col("event_type").as("metric"), col("ts_ms"), lit(1L).as("value"))
    val cPlain = plainCascade(Rollup.Counter, Rollup.rawTier(Rollup.Counter, counts),
      Seq(30000L, 60000L))(60000L)
      .orderBy("metric", "bucket_start").collect().toSeq
    val cAligned = alignedTop(Rollup.Counter, counts, Seq(30000L, 60000L))
      .orderBy("metric", "bucket_start").collect().toSeq
    assert(cAligned == cPlain)
    // non-dividing tier durations must be rejected (the carried
    // top-bucket would not be functionally dependent)
    intercept[IllegalArgumentException] {
      alignedTop(Rollup.Histogram, meas, Seq(40000L, 60000L))
    }
  }

  test("RollupJob.run fails only after every lane has stopped, and releases its cache") {
    val out = java.nio.file.Files.createTempDirectory("graft_rollup_fail").toFile
    // a plain file where the 30 s histogram tier's directory belongs:
    // that lane's write fails while the other lanes are still running
    new java.io.File(out, "hist_30000").createNewFile()
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val persisted = sc.getPersistentRDDs.size
    intercept[Exception](graft.rollup.RollupJob.run(spark, sf, out.toString))
    org.apache.spark.ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "a lane of the failed run is still running")
    assert(sc.getPersistentRDDs.size == persisted, "the failed run left frames cached")
  }

  test("bucket alignment floors to duration multiples") {
    val rows = Rollup.rawTier(Rollup.Histogram, meas).select("bucket_start").distinct().collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 5000L == 0))
  }
}

object RollupSpec {

  /** One cascade step: a tier at a finer resolution → the tier at
    * `durationMs` (merge under the coarser bucket, one exchange). */
  def tierUp(kind: Rollup.Kind, prev: DataFrame, durationMs: Long): DataFrame = {
    graft.functions.ensureRegistered(prev.sparkSession)
    prev.groupBy(col("metric"), Rollup.bucketOf(col("bucket_start"), durationMs).as("bucket_start"))
      .agg(kind.mergeAgg)
  }

  /** The plain per-step cascade: every tier is one [[tierUp]] over the
    * tier before it, starting from `raw`. The reference the one-exchange
    * [[Rollup.cascade]] is checked against, batch and streaming; the
    * library keeps only the faster shape. */
  def plainCascade(kind: Rollup.Kind, raw: DataFrame,
                   tiers: Seq[Long] = Rollup.StandardTiers): Map[Long, DataFrame] =
    tiers.zip(tiers.scanLeft(raw)(tierUp(kind, _, _)).tail).toMap

  /** The coarsest of `tiers` over every bucket of `meas`, by [[Rollup.cascade]]. */
  def alignedTop(kind: Rollup.Kind, meas: DataFrame,
                tiers: Seq[Long] = Rollup.StandardTiers): DataFrame =
    Rollup.cascade(kind, meas, tiers.map(Rollup.Span(_))).top
}
