package graft.rollup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.{GraftSession, Tables}
import graft.sources.TierStore

/** Operational entry point: build the full rollup cascade from the
  * events table into date-partitioned tier tables + summary tables —
  * the batch equivalent of the streaming cascade, and the job a cluster
  * deployment schedules per tick.
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
    val meas = Rollup.eventsAsMeasurements(Tables.events(spark, sfDir))
    val cached = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def keep(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      cached += df; df.cache()
    }

    // The cascade is a narrow DAG of many small jobs (each tier is one
    // row per metric×bucket — orders of magnitude smaller than raw
    // data). Two choices keep wall-clock ≈ the raw aggregation instead
    // of Σ(per-job fixed overhead):
    //  - each tier aggregates the previous tier's cached frame (the
    //    tables are still written — readers see materialized parquet —
    //    but the build path never pays a re-list/re-scan per stage);
    //  - independent lanes (hist chain, summary-of-tier-k, counter
    //    chain, meta) run as concurrent Spark jobs — the scheduler
    //    interleaves their tasks, exactly like concurrent rollup
    //    workers in the reference cluster.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Every lane is waited for before run returns, failed or not: a lane
    // left running would keep writing into outDir after the caller saw
    // the failure (MaterializedTiers.ensure deletes a partial outDir on
    // its next call), and its cached frames could not be released.
    val lanes = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
    def lane(f: Future[Unit]): Unit = lanes += f
    try {

    // histogram cascade: raw 5s + standard tiers, each persisted.
    // view_gauge is a gauge-typed metric (reference treats gauges and
    // timers identically in the rollup — model/HistogramBucket.scala);
    // it rides the same cascade and pins the gauge path end-to-end.
    val gauges = Tables.events(spark, sfDir)
      .where(col("event_type") === "view")
      .selectExpr("'view_gauge' AS metric", "ts_ms",
        "CAST(floor(value) AS BIGINT) AS value")
    val raw = keep(Rollup.rawTier(Rollup.Histogram, meas.unionAll(gauges)))
    lane(Future(store.append("hist", Rollup.RawGroupMs, raw)))
    var prev = raw
    Rollup.StandardTiers.foreach { d =>
      val tier = keep(Rollup.tierUp(Rollup.Histogram, prev, d))
      prev = tier
      lane(Future(store.append("hist", d, tier)).map { _ =>
        store.append("hist_summary", d, Rollup.histogramSummaries(tier))
      })
    }

    // counter cascade from event counts
    val counts = Tables.events(spark, sfDir).selectExpr(
      "event_type || '_count' AS metric", "ts_ms", "CAST(1 AS BIGINT) AS value")
    var cprev = keep(Rollup.rawTier(Rollup.Counter, counts))
    lane(Future(store.append("counter", Rollup.RawGroupMs, cprev)))
    Rollup.StandardTiers.foreach { d =>
      val tier = keep(Rollup.tierUp(Rollup.Counter, cprev, d))
      cprev = tier
      lane(Future(store.append("counter", d, tier)))
    }

    // metric catalog (the reference's meta table: metrics register on
    // first sight during ingest — store/MetricMeasurementStore.scala:111-120)
    lane(Future {
      val meta = Tables.events(spark, sfDir).select(col("event_type")).distinct()
        .selectExpr("event_type AS name", "'timer' AS mtype")
        .unionAll(Tables.events(spark, sfDir).select(col("event_type")).distinct()
          .selectExpr("event_type || '_count' AS name", "'counter' AS mtype"))
        .unionAll(spark.sql("SELECT 'view_gauge' AS name, 'gauge' AS mtype"))
      meta.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$outDir/meta")
    })
    } finally {
      lanes.foreach(Await.ready(_, Duration.Inf))
      cached.foreach(_.unpersist(blocking = false))
      pool.shutdown()
    }
    // every lane has stopped; surface the first failure
    lanes.foreach(Await.result(_, Duration.Inf))
  }
}
