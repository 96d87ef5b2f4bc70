package khronusbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

/** What one run measured. `e2e` and `layers` are keyed by metric name;
  * `notes` go into the artifact line only. */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         e2e: Map[String, Double], layers: Map[String, Double],
                         notes: Seq[(String, String)])

object Session {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** The engine's session, sized to the machine, with every scratch
    * directory under `dir`. */
  def start(dir: String): SparkSession = {
    val s = GraftSession.builder(Cores, Cores)
      .appName("khronusbench")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Fixed-work CPU probe: one thread alone, then one per core at once.
  * On an idle machine both take about as long; when other work shares
  * the cores the parallel round (or a later probe) runs slower. */
object Probe {
  final case class Reading(singleMs: Double, parallelMs: Double)

  private def work(): Long = {
    var x = 0x2545F4914F6CDD1DL
    var acc = 0L
    var i = 0
    while (i < 30000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    acc
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  @volatile private var sink = 0L

  def measure(): Reading = {
    sink += work() // warm the JIT before timing
    val single = Util.median((0 until 3).map(_ => timed(sink += work())))
    val parallel = timed {
      val ts = (0 until Session.Cores).map(_ => new Thread(() => sink += work()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    Reading(single, parallel)
  }

  /** Contended when the cores were not all free, or the machine got
    * slower between the probes around the run. */
  def contended(before: Reading, after: Reading): Boolean =
    Seq(before, after).exists(r => r.parallelMs > 1.5 * r.singleMs) ||
      math.max(before.singleMs, after.singleMs) > 1.25 * math.min(before.singleMs, after.singleMs)
}

/** One query's client-side result. */
final case class QResult(ms: Double, ok: Boolean, errors: Seq[String], points: Int, series: Int)

/** Sends panel queries through the facade and judges each answer.
  * Traced sums land under `q.*`. */
final class Client(http: Http, truth: Truth, tracer: Tracer) {
  /** `now` is the clock the planner is expected to see; when the clock
    * may move while the query is in flight, `later` gives its value
    * after the answer, and an answer matching either clock is correct. */
  def run(p: Panel, now: Long, later: () => Long = () => Long.MinValue): QResult = {
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(http.query(p.query))
    val ms = (System.nanoTime() - t0) / 1e6
    attempt match {
      case scala.util.Failure(e) => QResult(ms, ok = false, Seq(s"${p.shape}: $e"), 0, 0)
      case scala.util.Success((code, body)) =>
        def judge(clock: Long) = scala.util.Try(Oracle.check(truth, p, clock, body))
          .fold(e => Seq(s"${p.shape}: unreadable answer: $e"), identity)
        val errs =
          if (code != 200) Seq(s"${p.shape}: HTTP $code $body")
          else {
            val first = judge(now)
            val next = later()
            if (first.isEmpty || next == Long.MinValue || next == now) first else judge(next)
          }
        val (points, series) =
          if (code == 200 && body != null && body.isArray)
            ((0 until body.size()).map(i => body.get(i).get("points").size()).sum, body.size())
          else (0, 0)
        tracer.add("q.n", 1)
        tracer.add("q.e2e_ms", ms)
        tracer.add("q.points", points)
        QResult(ms, errs.isEmpty, errs, points, series)
    }
  }
}

/** Tally of operations and the first few failures. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def record(ok: Boolean, errs: Seq[String]): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 10) errors ++= errs.take(2) }
  }
}

object Main {
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("work", ".bench_build/work"))
  }

  /** Any failure ends the JVM with a non-zero code and no result line:
    * Spark's and the facade's non-daemon threads must not keep it alive. */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val o = parse(args)
    val work = new File(o.work, s"${o.workload}_${o.seed}_${ProcessHandle.current().pid()}")
    val opts = o.copy(work = work.getAbsolutePath)
    val before = Probe.measure()
    val out = opts.workload match {
      case "dashboard_read" => new DashboardRead(opts).run()
      case "read_under_ingest" => new ReadUnderIngest(opts).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val after = Probe.measure()
    Util.deleteTree(work)
    val contended = Probe.contended(before, after)
    val units = Metrics.units
    val values =
      if (!opts.trace) out.e2e
      else out.layers ++ Map(
        "bench.cpu_probe_ms" -> before.singleMs,
        "bench.contended" -> (if (contended) 1.0 else 0.0))
    val metrics = values.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Util.jsonObj(Seq("value" -> Util.jsonNum(v), "unit" -> Util.jsonStr(units(k))))
    }
    val artifact = Util.jsonObj(Seq(
      "workload" -> Util.jsonStr(opts.workload), "seed" -> opts.seed.toString,
      "trace" -> opts.trace.toString,
      "probe" -> Util.jsonObj(Seq(
        "before_single_ms" -> Util.jsonNum(before.singleMs),
        "before_parallel_ms" -> Util.jsonNum(before.parallelMs),
        "after_single_ms" -> Util.jsonNum(after.singleMs),
        "after_parallel_ms" -> Util.jsonNum(after.parallelMs),
        "contended" -> contended.toString)),
      "errors" -> out.errors.map(Util.jsonStr).mkString("[", ",", "]")) ++ out.notes)
    println(Util.jsonObj(Seq("artifact" -> artifact)))
    println(Util.jsonObj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Util.jsonObj(metrics))))
    System.out.flush()
    sys.exit(0)
  }
}

/** Units of every metric the benchmark reports. */
object Metrics {
  val endToEnd: Seq[String] = Seq("setup_s", "query_p50_ms", "query_p90_ms", "query_qps",
    "ingest_values_per_s", "tick_p50_ms", "store_bytes_per_value", "heap_mb")
  def perLayer: Seq[String] = units.keys.filterNot(endToEnd.contains).toSeq.sorted

  val units: Map[String, String] = Map(
    "setup_s" -> "s", "query_p50_ms" -> "ms", "query_p90_ms" -> "ms", "query_qps" -> "1/s",
    "ingest_values_per_s" -> "1/s", "tick_p50_ms" -> "ms", "store_bytes_per_value" -> "bytes",
    "heap_mb" -> "MB",
    "server.post_ms" -> "ms", "server.sink_wait_ms" -> "ms", "server.sink_ms" -> "ms",
    "server.get_overhead_ms" -> "ms",
    "ingest.values_dropped" -> "count",
    "streaming.raw_ms" -> "ms", "streaming.addbatch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.cascade_ms" -> "ms", "streaming.cascade_jobs" -> "count",
    "streaming.batches_per_tick" -> "count", "streaming.state_rows" -> "count",
    "streaming.late_dropped" -> "count", "streaming.read_ms" -> "ms",
    "rollup.build_s" -> "s", "rollup.jobs" -> "count", "rollup.shuffle_bytes" -> "bytes",
    "sources.slice_ms" -> "ms", "sources.rows_read_per_row_returned" -> "ratio",
    "sources.files" -> "count", "sources.bytes" -> "bytes",
    "ql.parse_ms" -> "ms", "planner.execute_ms" -> "ms",
    "planner.points_per_query" -> "count", "planner.series_per_query" -> "count",
    "spark.query_ms" -> "ms", "spark.jobs_per_query" -> "count", "spark.tasks_per_query" -> "count",
    "spark.task_cpu_ms" -> "ms", "spark.parallel_eff" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
    "sketch.bytes_per_bucket" -> "bytes",
    "bench.cpu_probe_ms" -> "ms", "bench.contended" -> "flag", "bench.trace_overhead" -> "ratio",
    "trace.query_residual_ms" -> "ms", "trace.tick_residual_ms" -> "ms")
}
