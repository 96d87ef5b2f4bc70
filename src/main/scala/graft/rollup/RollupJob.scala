package graft.rollup

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{GraftSession, Tables}
import graft.sources.TierStore

/** Operational entry point: build the full rollup cascade from the
  * events table into date-partitioned tier tables + summary tables —
  * the streaming cascade increment ([[Rollup.cascade]]) run from empty
  * cursors with no closed bound, so every bucket is rolled up, the last
  * partial one included; the job a cluster deployment schedules per
  * tick.
  *
  * Usage: runMain graft.rollup.RollupJob <sfDir> <outDir>
  */
object RollupJob {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.builder().appName("graft-rollup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration

    val store = new TierStore(spark, outDir)
    val events = Tables.events(spark, sfDir)
    // histogram cascade plus one summary table per tier. view_gauge is a
    // gauge-typed metric (reference treats gauges and timers identically
    // in the rollup — model/HistogramBucket.scala); it rides the same
    // cascade and pins the gauge path end-to-end.
    val gauges = events.where(col("event_type") === "view")
      .selectExpr("'view_gauge' AS metric", "ts_ms", "CAST(floor(value) AS BIGINT) AS value")
    def histograms(): Unit = rollUp(store, Rollup.Histogram, "hist",
        Rollup.eventsAsMeasurements(events).unionAll(gauges)) { (d, tier) =>
      store.append("hist_summary", d, Rollup.histogramSummaries(tier))
    }
    // counter cascade from event counts
    def counters(): Unit = rollUp(store, Rollup.Counter, "counter", events.selectExpr(
      "event_type || '_count' AS metric", "ts_ms", "CAST(1 AS BIGINT) AS value"))()
    // metric catalog (the reference's meta table: metrics register on
    // first sight during ingest — store/MetricMeasurementStore.scala:111-120)
    def catalog(): Unit = {
      val types = events.select(col("event_type")).distinct()
      types.selectExpr("event_type AS name", "'timer' AS mtype")
        .unionAll(types.selectExpr("event_type || '_count' AS name", "'counter' AS mtype"))
        .unionAll(spark.sql("SELECT 'view_gauge' AS name, 'gauge' AS mtype"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/meta")
    }

    // One lane per independent output: each cascade is a chain of small
    // jobs (a tier is one row per metric×bucket), and run one after the
    // other they leave most cores idle between jobs; side by side the
    // scheduler interleaves their tasks. Every lane is waited for before
    // run returns, failed or not: a lane left running would keep writing
    // into outDir after the caller saw the failure, and its cascade could
    // not release its cached stages.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val lanes = Seq(Future(histograms()), Future(counters()), Future(catalog()))
    try lanes.foreach(Await.ready(_, Duration.Inf)) finally pool.shutdown()
    lanes.foreach(Await.result(_, Duration.Inf)) // surface the first failure
  }

  /** Every tier of `measurements` — the raw 5 s tier, then each standard
    * tier — from one [[Rollup.cascade]] run with no cursor and no closed
    * bound, into table `name`; each standard tier is handed to `andThen`
    * after its own table is written. The cascade's cached stages are
    * released when it returns, failed or not. */
  private[graft] def rollUp(store: TierStore, kind: Rollup.Kind, name: String,
                            measurements: DataFrame)
                           (andThen: (Long, DataFrame) => Unit = (_, _) => ()): Unit = {
    Rollup.cascade(kind, measurements,
        (Rollup.RawGroupMs +: Rollup.StandardTiers).map(Rollup.Span(_))).emit { (span, tier) =>
      store.append(name, span.durationMs, tier)
      if (span.durationMs != Rollup.RawGroupMs) andThen(span.durationMs, tier)
    }
  }
}
