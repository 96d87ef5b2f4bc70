package khronusbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.MetricBatchIngest
import graft.planner.{DashboardStore, InfluxPlanner}
import graft.rollup.Rollup
import graft.server.HttpFacade
import graft.streaming.{StreamingIngest, StreamingTierProvider}

/** read_under_ingest: an agent writer loop and one dashboard reader,
  * both closed loops, busy for the whole measured phase.
  *
  * The benchmark drives every tick itself on a simulated clock: one
  * client POSTs the tick's gzip MetricBatches to the facade, whose sink
  * appends each parsed batch to a measurement table; once the sink has
  * drained, the hist and counter raw streams each run one
  * `Trigger.AvailableNow` pass over it (so a tick's input is exactly one
  * micro-batch per stream), the rollup cascade runs one increment per
  * kind, and one forced HTTP GET reads back, through
  * StreamingTierProvider, the buckets this tick closed in one tier. No
  * step waits on wall time. A run measures a fixed number of ticks, so
  * every run does the same work whatever the machine's speed. The
  * reader replays its dashboard against the live streaming tiers, where
  * summaries are derived on read and every tick adds files. */
final class ReadUnderIngest(o: Opts) {
  import ReadUnderIngest.TickRec

  private val WarmTicks = 1
  /** Ticks per measured phase; a traced run has a traced and an
    * untraced phase. */
  private val MeasuredTicks = 1
  /** Ticks hashed for the determinism check: the warm-up tick and the
    * first measured tick, which every run executes. */
  private val HashTicks = WarmTicks + 1
  /** Readers see only buckets closed in every tier they route to (≤ 30
    * min for ranges up to 6 h): after tick k that is everything before
    * the span's end minus 30 min. */
  private def readerClock(k: Int): Long = TickGen.end(k) - 1800000L - 1
  /** The raw sinks hold every 5 s window ending at least 35 s before the
    * last posted event (watermark = max event time − 30 s). */
  private val RawLagMs = 35000L

  private val tracer = new Tracer
  private val listener = new JobListener(tracer)
  /** The reader's dashboard: the routed single-series panels of the
    * sequence. Their costs are alike, so the reader's latency tail shows
    * contention with the writer rather than which panel ran last. */
  private val panels = Panels.sequence(TickGen.universe)
    .filter(p => !p.forced && p.listed.isEmpty && p.cols.size == 1)
  private val tally = new Tally

  private final class Env(val spark: SparkSession, val dir: String, val ingest: StreamingIngest,
                          val stream: DataFrame, val facade: HttpFacade, val http: Http,
                          val client: Client, val truth: Truth) {
    val clock = new AtomicLong(TickGen.T0 - 1)
    val sinkDone = new Semaphore(0)
    val sinkStarts = new ConcurrentLinkedQueue[java.lang.Long]()
    val acks = new ConcurrentLinkedQueue[java.lang.Long]()
    val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val sinkErrors = new ConcurrentLinkedQueue[String]()
    var next = 0
    var posted, invalid, late, dropped = 0L
    val sha = new Util.Sha256
    /** (parquet files, bytes, accepted values) after the first measured tick. */
    var snapshot: (Long, Long, Long) = (0L, 0L, 0L)
    def close(): Unit = { facade.stop(); Session.stop(spark); Util.deleteTree(new File(dir)) }
  }

  private def measDir(dir: String) = s"$dir/measurements"

  private def setup(): (Env, Double) = {
    val t0 = System.nanoTime()
    val dir = o.work
    val spark = Session.start(dir)
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    import spark.implicits._
    val schema = MetricBatchIngest.parse(Seq.empty[String].toDF("value")).schema
    new File(measDir(dir)).mkdirs()
    val ingest = new StreamingIngest(spark, s"$dir/tiers")
    val stream = spark.readStream.schema(schema).parquet(measDir(dir))
    val truth = new Truth
    val provider = new StreamingTierProvider(spark, ingest, TickGen.metrics)
    var env: Env = null
    val now = () => env.clock.get()
    val planner =
      if (o.trace) new TracedPlanner(new TimedProvider(provider, "streaming.read_ms", tracer), now, tracer)
      else new InfluxPlanner(provider, now)
    // the facade's ingest sink: one append per POSTed batch; a failure is
    // recorded here and rethrown to the facade, which logs it
    val sink: DataFrame => Unit = df => {
      val s0 = System.nanoTime()
      env.sinkStarts.add(s0)
      try tracer.phase(spark, "sink")(df.write.mode("append").parquet(measDir(dir)))
      catch { case e: Exception => env.sinkErrors.add(e.toString); throw e }
      finally {
        env.sinkMs.add((System.nanoTime() - s0) / 1e6)
        env.sinkDone.release()
      }
    }
    val facade = new HttpFacade(spark, planner, new DashboardStore(s"$dir/dash"), sink)
    val http = new Http(facade.start())
    env = new Env(spark, dir, ingest, stream, facade, http, new Client(http, truth, tracer), truth)
    (0 until WarmTicks).foreach(_ => tick(env))
    read(env, panels.head)
    (env, (System.nanoTime() - t0) / 1e9)
  }

  /** How far tier `w`'s closed buckets end before the last posted event.
    * The raw tier holds 5 s windows up to 35 s before it (watermark 30 s),
    * and each cascade tier closes a bucket once its source tier holds a
    * bucket at or after the bucket's end: 30 s buckets end 60 s before
    * it, 1 min buckets 2 min before, and coarser buckets one bucket
    * before. */
  private def closeLagMs(w: Long): Long = w match {
    case 30000L => 60000L
    case 60000L => 120000L
    case _ => w
  }

  /** The forced read-back of the buckets tick k closed in one tier: the
    * span's length of buckets ending where the tier's closed buckets end.
    * Tiers and metrics rotate with k. */
  private def verifyPanel(k: Int): Panel = {
    val w = Oracle.Tiers(k % Oracle.Tiers.size)
    val b = TickGen.end(k) - closeLagMs(w) - 1
    val a = b - TickGen.SpanMs + 1
    val unit = if (w >= 60000) s"${w / 60000}m" else s"${w / 1000}s"
    val where = s"where time >= $a and time <= $b force group by time($unit)"
    if (k % 4 == 3) {
      val c = TickGen.counters(k % TickGen.counters.size)
      Panel(s"verify_counter_$w", s"""select count from "$c" $where""", TickGen.SpanMs, Some(w),
        Seq(FieldCol(c, counter = true, "count", c, "count")))
    } else {
      val m = TickGen.hist(k % TickGen.hist.size)._1
      Panel(s"verify_hist_$w", s"""select count, p50, p99, max from "$m" $where""",
        TickGen.SpanMs, Some(w),
        Seq("count", "p50", "p99", "max").map(fn => FieldCol(m, counter = false, fn, m, fn)))
    }
  }

  /** One dashboard read against the live tiers. The clock may advance
    * while the query is in flight; the answer must match the clock
    * before or after it. */
  private def read(env: Env, p: Panel): QResult = {
    val r = env.client.run(p, env.clock.get(), () => env.clock.get())
    tally.record(r.ok, r.errors)
    r
  }

  private def tick(env: Env): TickRec = {
    val k = env.next
    env.next += 1
    val t = TickGen.tick(o.seed, k)
    if (k < HashTicks) t.bodies.foreach(env.sha.bytes)
    val spark = env.spark
    val errs = mutable.ArrayBuffer.empty[String]
    // the truth grows before the verification read and before readers
    // may see the new span; readers' clocks stay behind it until then
    t.truth.foreach { case (m, ts, v) => env.truth.add(m, ts, v) }
    val t0 = System.nanoTime()
    var postMs = 0.0
    t.bodies.foreach { b =>
      val p0 = System.nanoTime()
      val code = env.http.postMetrics(b)
      val ack = System.nanoTime()
      env.acks.add(ack)
      postMs += (ack - p0) / 1e6
      if (code != 200) errs += s"tick $k: POST returned $code"
    }
    val d0 = System.nanoTime()
    env.sinkDone.acquire(t.bodies.size)
    val drainMs = (System.nanoTime() - d0) / 1e6
    if (!env.sinkErrors.isEmpty) errs += s"tick $k: sink failed: ${env.sinkErrors.poll()}"

    val r0 = System.nanoTime()
    val queries: Seq[StreamingQuery] = tracer.phase(spark, "tick.raw") {
      Seq(env.ingest.startRawTier(env.stream, Trigger.AvailableNow()),
        env.ingest.startCounterTier(env.stream, Trigger.AvailableNow()))
    }
    queries.foreach(_.awaitTermination())
    val rawMs = (System.nanoTime() - r0) / 1e6

    val c0 = System.nanoTime()
    tracer.phase(spark, "tick.cascade") {
      env.ingest.runCascadeIncrement()
      env.ingest.runCounterCascadeIncrement()
    }
    val cascadeMs = (System.nanoTime() - c0) / 1e6

    val v0 = System.nanoTime()
    val verify = if (k >= 1) {
      val p = verifyPanel(k)
      Some(env.client.run(p, TickGen.end(k) - closeLagMs(p.window.get) - 1))
    } else None
    val t1 = System.nanoTime()
    env.clock.set(readerClock(k))

    val progress = queries.flatMap(_.recentProgress.toSeq)
    val dataBatches = queries.map(_.recentProgress.count(_.numInputRows > 0))
    if (dataBatches.exists(_ != 1)) errs += s"tick $k: data micro-batches per stream $dataBatches"
    val dropped = progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val stateRows = queries.flatMap(_.recentProgress.lastOption.toSeq
      .flatMap(_.stateOperators.map(_.numRowsTotal))).sum
    def dur(key: String) =
      progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
    verify.foreach(v => if (!v.ok) errs ++= v.errors)
    env.posted += t.posted; env.invalid += t.invalid; env.late += t.late; env.dropped += dropped
    tally.record(errs.isEmpty, errs.toSeq)
    if (k == WarmTicks) {
      val (files, bytes) = Util.parquetFiles(new File(s"${env.dir}/tiers"))
      env.snapshot = (files, bytes, env.posted - env.invalid - env.late)
    }
    TickRec((t1 - t0) / 1e6, postMs, t.bodies.size, drainMs, rawMs, cascadeMs, (t1 - v0) / 1e6,
      dur("addBatch"), dur("queryPlanning"), dataBatches.sum, stateRows,
      t.posted - t.invalid - t.late)
  }

  /** End-of-run conservation: what the sink wrote, what the streams
    * dropped and what the raw tiers hold must each match the injected
    * counts exactly. Each check is one operation. */
  private def conserve(env: Env): Unit = {
    val spark = env.spark
    val lastEnd = TickGen.end(env.next - 1)
    val written = spark.read.parquet(measDir(env.dir)).count()
    tally.record(written == env.posted - env.invalid,
      Seq(s"sink wrote $written rows, expected posted ${env.posted} - invalid ${env.invalid}"))
    tally.record(env.dropped == env.late,
      Seq(s"streams dropped ${env.dropped} late rows, injected ${env.late}"))
    val raw = spark.read.parquet(env.ingest.rawTierPath)
    val rawCount = Rollup.histogramSummaries(raw).agg(sum(col("count"))).head().getLong(0)
    val counterSum = spark.read.parquet(env.ingest.counterRawTierPath)
      .agg(sum(col("count"))).head().getLong(0)
    val expHist = TickGen.hist.map(h => env.truth.before(h._1, lastEnd - RawLagMs)._1).sum
    val expCounter = TickGen.counters.map(c => env.truth.before(c, lastEnd - RawLagMs)._2).sum
    tally.record(rawCount == expHist, Seq(s"raw hist tier holds $rawCount values, expected $expHist"))
    tally.record(counterSum == expCounter,
      Seq(s"raw counter tier sums to $counterSum, expected $expCounter"))
  }

  /** The writer runs `ticks` ticks; the reader stays busy until the
    * writer's last tick ends. */
  private def measure(env: Env, ticks: Int): (Seq[TickRec], Seq[QResult], Double) = {
    val t0 = System.nanoTime()
    @volatile var writing = true
    val reads = mutable.ArrayBuffer.empty[QResult]
    val reader = new Thread(() => {
      var j = 1
      while (writing) {
        reads += read(env, panels(j % panels.size))
        j += 1
      }
    }, "dashboard-reader")
    reader.start()
    val recs = try Seq.fill(ticks)(tick(env)) finally writing = false
    reader.join()
    (recs, reads.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def run(): Outcome = {
    val (env, setupS) = setup()
    val notes = mutable.ArrayBuffer[(String, String)](
      "setup_s" -> Util.jsonNum(setupS))

    val (e2e, layers) =
      if (!o.trace) {
        val (ticks, reads, elapsed) = measure(env, MeasuredTicks)
        val heap = Util.heapAfterGcMb()
        conserve(env)
        notes += "tick_samples" -> ticks.size.toString
        notes += "query_samples" -> reads.size.toString
        val tickSec = ticks.map(_.ms).sum / 1000.0
        (Map(
          "setup_s" -> setupS,
          "query_p50_ms" -> Util.quantile(reads.map(_.ms), 0.5),
          "query_p90_ms" -> Util.tail90(reads.map(_.ms)),
          "query_qps" -> reads.count(_.ok) / elapsed,
          "ingest_values_per_s" -> ticks.map(_.accepted).sum / tickSec,
          "tick_p50_ms" -> Util.median(ticks.map(_.ms)),
          "store_bytes_per_value" -> env.snapshot._2.toDouble / env.snapshot._3,
          "heap_mb" -> heap), Map.empty[String, Double])
      } else {
        // traced first half, untraced second half: the overhead is the
        // ratio of their median tick times, so warm-up drift can only
        // overstate it
        val sinkBase = env.sinkMs.size
        val startsBase = env.sinkStarts.size
        val acksBase = env.acks.size
        tracer.on = true
        val (ticks, _, elapsed) = measure(env, MeasuredTicks)
        tracer.on = false
        val (plain, _, _) = measure(env, MeasuredTicks)
        // planner counts over one deterministic pass at a fixed clock
        val pass = panels.map(read(env, _))
        org.apache.spark.ListenerBusDrain(env.spark.sparkContext)
        conserve(env)
        val nT = ticks.size.toDouble
        val sinkMs = env.sinkMs.asScala.slice(sinkBase, sinkBase + ticks.map(_.posts).sum)
          .map(_.doubleValue).toSeq
        // sink i starts after the ack of POST i (the facade acks first)
        val waits = env.sinkStarts.asScala.slice(startsBase, startsBase + sinkMs.size)
          .zip(env.acks.asScala.drop(acksBase))
          .map { case (s, a) => (s.longValue - a.longValue) / 1e6 }.toSeq
        val residual = ticks.map(t => t.ms - t.postMs - t.drainMs - t.rawMs - t.cascadeMs - t.verifyMs)
        val written = env.spark.read.parquet(measDir(env.dir)).count()
        (Map.empty[String, Double], Layers.idle ++
          Layers.query(tracer, listener, "streaming.read_ms") ++
          Layers.spark(listener, nT, elapsed) ++ Map(
          "server.post_ms" -> ticks.map(_.postMs).sum / ticks.map(_.posts).sum,
          "server.sink_wait_ms" -> waits.sum / math.max(1, waits.size),
          "server.sink_ms" -> sinkMs.sum / math.max(1, sinkMs.size),
          "ingest.values_dropped" -> (env.posted - written).toDouble,
          "streaming.raw_ms" -> ticks.map(_.rawMs).sum / nT,
          "streaming.addbatch_ms" -> ticks.map(_.addBatchMs).sum / nT,
          "streaming.planning_ms" -> ticks.map(_.planningMs).sum / nT,
          "streaming.cascade_ms" -> ticks.map(_.cascadeMs).sum / nT,
          "streaming.cascade_jobs" -> listener.merged("tick.cascade").jobs / nT,
          "streaming.batches_per_tick" -> ticks.map(_.dataBatches).sum / (2 * nT),
          "streaming.state_rows" -> ticks.last.stateRows.toDouble,
          "streaming.late_dropped" -> env.dropped.toDouble,
          "sources.files" -> env.snapshot._1.toDouble, "sources.bytes" -> env.snapshot._2.toDouble,
          "planner.points_per_query" -> pass.map(_.points).sum.toDouble / pass.size,
          "planner.series_per_query" -> pass.map(_.series).sum.toDouble / pass.size,
          "sketch.bytes_per_bucket" -> Layers.sketchBytes(env.spark, env.ingest.rawTierPath),
          "bench.trace_overhead" -> (Util.median(ticks.map(_.ms)) / Util.median(plain.map(_.ms)) - 1.0),
          "trace.tick_residual_ms" -> residual.sum / nT))
      }
    notes += "input_sha256" -> Util.jsonStr(env.sha.hex)
    if (o.trace) tracer.writeSpans(new File(s".bench_build/spans/read_under_ingest_${o.seed}.jsonl"))
    env.close()
    Outcome(tally.attempted, tally.failed, tally.errors.toSeq, e2e, layers, notes.toSeq)
  }
}

object ReadUnderIngest {
  final case class TickRec(ms: Double, postMs: Double, posts: Int, drainMs: Double,
                           rawMs: Double, cascadeMs: Double, verifyMs: Double,
                           addBatchMs: Double, planningMs: Double, dataBatches: Int,
                           stateRows: Long, accepted: Long)
}
