package khronusbench

import java.io.File
import java.util.concurrent.CyclicBarrier

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.planner.{DashboardStore, InfluxPlanner, TierSummaryProvider}
import graft.rollup.RollupJob
import graft.server.HttpFacade

/** dashboard_read: Grafana refreshing dashboards over weeks of history,
  * no writes. Two closed-loop clients replay the fixed panel sequence
  * against tiers RollupJob built, under a frozen clock at the end of the
  * data. */
final class DashboardRead(o: Opts) {
  private val Clients = 2
  private val WarmPanels = 2
  /** Client c's dashboard is variant c of the 12 shapes; one pass over
    * it is one refresh. */
  private val DashboardPanels = Panels.Shapes.size
  private val now = EventsGen.End - 1
  private val tracer = new Tracer
  private val listener = new JobListener(tracer)
  private val panels = Panels.sequence(EventsGen.universe)
  private val tally = new Tally

  private final class Env(val spark: SparkSession, val facade: HttpFacade, val client: Client,
                          val dir: String, val buildS: Double, val sha: String) {
    def close(): Unit = { facade.stop(); Session.stop(spark); Util.deleteTree(new File(dir)) }
  }

  private def run(client: Client, p: Panel): QResult = {
    val r = client.run(p, now)
    tally.record(r.ok, r.errors)
    r
  }

  private def setup(): (Env, Double) = {
    val t0 = System.nanoTime()
    val dir = o.work
    val spark = Session.start(dir)
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val data = EventsGen.generate(o.seed)
    val truth = EventsGen.truth(data)
    EventsGen.writeEvents(spark, data, s"$dir/events")
    val b0 = System.nanoTime()
    tracer.phase(spark, "rollup")(RollupJob.run(spark, s"$dir/events", s"$dir/tiers"))
    val buildS = (System.nanoTime() - b0) / 1e9
    val provider = new TierSummaryProvider(spark, s"$dir/tiers")
    val planner =
      if (o.trace) new TracedPlanner(new TimedProvider(provider, "sources.slice_ms", tracer), () => now, tracer)
      else new InfluxPlanner(provider, () => now)
    val facade = new HttpFacade(spark, planner, new DashboardStore(s"$dir/dash"))
    val client = new Client(new Http(facade.start()), truth, tracer)
    // warm-up: the provider's catalog load and the first plans
    panels.take(WarmPanels).foreach(run(client, _))
    (new Env(spark, facade, client, dir, buildS, data.sha), (System.nanoTime() - t0) / 1e9)
  }

  /** Closed-loop clients refresh their dashboards in rounds: a round
    * ends when every client has refreshed once, and rounds go on until
    * `seconds` have passed and at least `minRounds` are done. Every
    * run's sample is thus whole rounds, the same mix of panels; the
    * minimum keeps the round count from flipping with machine speed
    * when a round takes about as long as the run. Returns per-client
    * results, the elapsed seconds and the refresh times. */
  private def measure(env: Env, seconds: Double,
                      minRounds: Int): (Seq[Seq[QResult]], Double, Seq[Double]) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    @volatile var more = true
    var rounds = 0
    val round = new CyclicBarrier(Clients, () => {
      rounds += 1
      more = rounds < minRounds || System.nanoTime() < deadline
    })
    val results = Vector.fill(Clients)(mutable.ArrayBuffer.empty[QResult])
    val refreshes = Vector.fill(Clients)(mutable.ArrayBuffer.empty[Double])
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        while (more) {
          val r0 = System.nanoTime()
          (0 until DashboardPanels).foreach { j =>
            results(c) += run(env.client, panels(c * DashboardPanels + j))
          }
          refreshes(c) += (System.nanoTime() - r0) / 1e6
          round.await()
        }
      }, s"dashboard-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (results.map(_.toSeq), (System.nanoTime() - t0) / 1e9, refreshes.flatten.toSeq)
  }

  def run(): Outcome = {
    tracer.on = o.trace
    val (env, setupS) = setup()
    org.apache.spark.ListenerBusDrain(env.spark.sparkContext)
    val rollup = listener.merged("rollup")
    val (files, bytes) = Util.parquetFiles(new File(s"${env.dir}/tiers"))
    tracer.on = false
    tracer.reset(); listener.reset()

    val notes = mutable.ArrayBuffer[(String, String)](
      "input_sha256" -> Util.jsonStr(env.sha),
      "setup_s" -> Util.jsonNum(setupS))
    val (e2e, layers) =
      if (!o.trace) {
        val (res, elapsed, refresh) = measure(env, o.seconds, minRounds = 2)
        val all = res.flatten
        val heap = Util.heapAfterGcMb()
        notes += "query_samples" -> all.size.toString
        notes += "refresh_samples" -> refresh.size.toString
        (Map(
          "setup_s" -> setupS,
          "query_p50_ms" -> Util.quantile(all.map(_.ms), 0.5),
          "query_p90_ms" -> Util.tail90(all.map(_.ms)),
          "query_qps" -> all.count(_.ok) / elapsed,
          // every run reports every end-to-end metric; this workload has
          // no ingest ticks, so these two stand in as the median refresh
          // of one 12-panel dashboard and the RollupJob build rate
          "tick_p50_ms" -> Util.median(refresh),
          "ingest_values_per_s" -> EventsGen.Events / env.buildS,
          "store_bytes_per_value" -> bytes.toDouble / EventsGen.Events,
          "heap_mb" -> heap), Map.empty[String, Double])
      } else {
        // planner counts over one pass of the 12 shapes
        val pass = panels.take(Panels.Shapes.size).map(run(env.client, _))
        tracer.reset(); listener.reset()
        // quarters run untraced, traced, traced, untraced, so a linear
        // warm-up drift cancels out of the overhead (ratio of median
        // query times)
        val (plain1, _, _) = measure(env, o.seconds / 4.0, minRounds = 1)
        tracer.on = true
        val (traced1, elapsed1, refresh1) = measure(env, o.seconds / 4.0, minRounds = 1)
        val (traced2, elapsed2, refresh2) = measure(env, o.seconds / 4.0, minRounds = 1)
        tracer.on = false
        val (plain2, _, _) = measure(env, o.seconds / 4.0, minRounds = 1)
        val traced = traced1 ++ traced2
        val plain = plain1 ++ plain2
        val elapsed = elapsed1 + elapsed2
        val refresh = refresh1 ++ refresh2
        tracer.on = false
        org.apache.spark.ListenerBusDrain(env.spark.sparkContext)
        val nQ = math.max(1.0, tracer.sum("q.n"))
        val tracedQ = traced.flatten
        val refreshQueries = tracedQ.map(_.ms).sum / math.max(1, refresh.size)
        (Map.empty[String, Double], Layers.idle ++
          Layers.query(tracer, listener, "sources.slice_ms") ++
          Layers.spark(listener, nQ, elapsed) ++ Map(
          "rollup.build_s" -> env.buildS, "rollup.jobs" -> rollup.jobs.toDouble,
          "rollup.shuffle_bytes" -> rollup.shuffleBytes.toDouble,
          "sources.files" -> files.toDouble, "sources.bytes" -> bytes.toDouble,
          "planner.points_per_query" -> pass.map(_.points).sum.toDouble / pass.size,
          "planner.series_per_query" -> pass.map(_.series).sum.toDouble / pass.size,
          "sketch.bytes_per_bucket" -> Layers.sketchBytes(env.spark, s"${env.dir}/tiers/hist_5000"),
          "bench.trace_overhead" ->
            (Util.median(tracedQ.map(_.ms)) / Util.median(plain.flatten.map(_.ms)) - 1.0),
          "trace.tick_residual_ms" -> (refresh.sum / math.max(1, refresh.size) - refreshQueries)))
      }
    if (o.trace) tracer.writeSpans(new File(s".bench_build/spans/dashboard_read_${o.seed}.jsonl"))
    env.close()
    Outcome(tally.attempted, tally.failed, tally.errors.toSeq, e2e, layers, notes.toSeq)
  }
}
