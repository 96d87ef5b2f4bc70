package khronusbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.planner.{InfluxPlanner, MetricCatalog, Metric, SeriesResult, SummaryProvider}
import graft.ql.InfluxParser

/** In-memory tracer. Spans are recorded in benchmark code around the
  * public calls into each layer (name, thread, start, end, parent span)
  * and summed per name; Spark jobs are attributed to a phase through the
  * `kb.phase` local property of the thread that submitted them.
  * Everything is a no-op while `on` is false, so an untraced run pays
  * one volatile read per call. */
final class Tracer {
  import Tracer.Span

  @volatile var on: Boolean = false

  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()

  def add(key: String, v: Double): Unit =
    if (on) sums.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  def sum(key: String): Double = Option(sums.get(key)).map(_.sum()).getOrElse(0.0)

  /** Time `body` as a span named `key`; its duration (ms) is added to the
    * sum of the same name. */
  def span[T](key: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        spans.add(Span(id, parent, key, Thread.currentThread().getName, t0, t1))
        add(key, (t1 - t0) / 1e6)
      }
    }

  /** Tag the Spark jobs this thread submits inside `body`. */
  def phase[T](spark: SparkSession, name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.PhaseKey)
      sc.setLocalProperty(Tracer.PhaseKey, name)
      try body finally sc.setLocalProperty(Tracer.PhaseKey, prev)
    }

  def reset(): Unit = { sums.clear(); spans.clear() }

  /** Write the recorded spans as JSON lines. */
  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Util.jsonObj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Util.jsonStr(s.name), "thread" -> Util.jsonStr(s.thread),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    } finally w.close()
  }
}

object Tracer {
  val PhaseKey = "kb.phase"

  final case class Span(id: Long, parent: Long, name: String, thread: String,
                        startNs: Long, endNs: Long)
}

/** Spark work attributed to one phase (query, query.exec, sink,
  * tick.raw, tick.cascade, rollup …). */
final class PhaseStats {
  var jobs = 0L
  var jobMs = 0.0
  var tasks = 0L
  var taskRunMs = 0.0
  var taskCpuMs = 0.0
  var gcMs = 0.0
  var shuffleBytes = 0L
  var recordsRead = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Mean over stages with ≥ 2 tasks of (slowest task ÷ median task). */
  def skew: Double = {
    val ratios = taskMsByStage.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.sum / ratios.size
  }
}

/** Listener counting jobs, tasks, task time, CPU, GC and bytes per phase
  * while the tracer is on. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobPhase = new ConcurrentHashMap[Int, (String, Long)]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stats = mutable.Map.empty[String, PhaseStats]

  private def of(phase: String): PhaseStats = stats.getOrElseUpdate(phase, new PhaseStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.on) {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.PhaseKey)))
      .getOrElse("other")
    jobPhase.put(e.jobId, (phase, e.time))
    e.stageIds.foreach(stagePhase.put(_, phase))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobPhase.remove(e.jobId)).foreach { case (phase, t0) =>
      synchronized {
        val s = of(phase)
        s.jobs += 1
        s.jobMs += (e.time - t0)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stagePhase.get(e.stageId)).foreach { phase =>
      val m = e.taskMetrics
      if (m != null) synchronized {
        val s = of(phase)
        s.tasks += 1
        s.taskRunMs += m.executorRunTime
        s.taskCpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.recordsRead += m.inputMetrics.recordsRead
        s.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }

  /** Merged stats of the given phases (empty phases count as zero). */
  def merged(phases: String*): PhaseStats = synchronized {
    val out = new PhaseStats
    phases.flatMap(stats.get).foreach { s =>
      out.jobs += s.jobs; out.jobMs += s.jobMs; out.tasks += s.tasks
      out.taskRunMs += s.taskRunMs; out.taskCpuMs += s.taskCpuMs; out.gcMs += s.gcMs
      out.shuffleBytes += s.shuffleBytes; out.recordsRead += s.recordsRead
      s.taskMsByStage.foreach { case (k, v) => out.taskMsByStage(k) = v.clone() }
    }
    out
  }

  def all: PhaseStats = merged(synchronized(stats.keys.toSeq): _*)

  def reset(): Unit = synchronized {
    stats.clear(); jobPhase.clear(); stagePhase.clear()
  }
}

/** InfluxPlanner whose `execute` is timed as the planner layer, with a
  * separate parse of the same text timed as the ql layer. Spark jobs
  * submitted inside `execute` are tagged `query.exec`; those submitted
  * afterwards on the same server thread (the facade materialising the
  * series) are tagged `query`. */
final class TracedPlanner(provider: SummaryProvider, now: () => Long, tr: Tracer)
    extends InfluxPlanner(provider, now) {
  private val parser = new InfluxParser(now)

  override def execute(spark: SparkSession, queryText: String): Seq[SeriesResult] =
    if (!tr.on) super.execute(spark, queryText)
    else {
      tr.span("ql.parse_ms") {
        if (parser.parseListSeries(queryText).isEmpty) parser.parseQuery(queryText)
      }
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.PhaseKey, "query.exec")
      try tr.span("planner.execute_ms")(super.execute(spark, queryText))
      finally sc.setLocalProperty(Tracer.PhaseKey, "query")
    }
}

/** SummaryProvider whose reads are timed under `key`. */
final class TimedProvider(inner: SummaryProvider, key: String, tr: Tracer)
    extends SummaryProvider {
  override def catalog: MetricCatalog = inner.catalog
  override def windows: Seq[Long] = inner.windows
  override def summaries(metric: Metric, windowMs: Long, fromMs: Long, toMs: Long): DataFrame =
    tr.span(key)(inner.summaries(metric, windowMs, fromMs, toMs))
}

/** Per-layer numbers both workloads derive the same way. */
object Layers {
  /** Every per-layer metric at 0: the value an idle layer reports. */
  def idle: Map[String, Double] = Metrics.perLayer.map(_ -> 0.0).toMap

  /** The query path, per traced query: ql, planner, the provider read
    * timed under `readKey`, Spark, and the server share that no span
    * covers. Planner self time excludes the parse, the provider read and
    * the Spark jobs submitted inside `execute`. */
  def query(tr: Tracer, jobs: JobListener, readKey: String): Map[String, Double] = {
    val n = math.max(1.0, tr.sum("q.n"))
    val q = jobs.merged("query", "query.exec")
    val after = jobs.merged("query")
    val e2e = tr.sum("q.e2e_ms")
    val exec = tr.sum("planner.execute_ms")
    val read = tr.sum(readKey)
    val parse = tr.sum("ql.parse_ms")
    val plannerSelf = exec - read - (q.jobMs - after.jobMs) - parse
    val spanned = parse + plannerSelf + read + q.jobMs
    Map(
      "server.get_overhead_ms" -> (e2e - exec - after.jobMs) / n,
      readKey -> read / n,
      "sources.rows_read_per_row_returned" -> q.recordsRead / math.max(1.0, tr.sum("q.points")),
      "ql.parse_ms" -> parse / n,
      "planner.execute_ms" -> exec / n,
      "spark.query_ms" -> q.jobMs / n,
      "spark.jobs_per_query" -> q.jobs / n,
      "spark.tasks_per_query" -> q.tasks / n,
      "trace.query_residual_ms" -> (e2e - spanned) / n)
  }

  /** All Spark work while traced, per lead operation (`ops`), over
    * `seconds` of traced wall time. */
  def spark(jobs: JobListener, ops: Double, seconds: Double): Map[String, Double] = {
    val all = jobs.all
    Map(
      "spark.task_cpu_ms" -> all.taskCpuMs / ops,
      "spark.parallel_eff" -> all.taskRunMs / (seconds * 1000 * Session.Cores),
      "spark.task_skew" -> all.skew,
      "spark.gc_ms" -> all.gcMs / ops,
      "spark.shuffle_bytes" -> all.shuffleBytes / ops)
  }

  /** Mean serialized sketch size in a raw histogram tier. */
  def sketchBytes(spark: SparkSession, path: String): Double = {
    import org.apache.spark.sql.functions.{avg, col, length}
    spark.read.parquet(path).agg(avg(length(col("sketch")))).head().getDouble(0)
  }
}
