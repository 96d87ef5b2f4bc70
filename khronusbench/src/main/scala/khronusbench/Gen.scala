package khronusbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Lognormal latency in ms, floored to a whole number as ingest does. */
private object Latency {
  def draw(r: SplittableRandom, medianMs: Double): Long = {
    // Box-Muller: one standard normal
    val g = math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    math.min(3600000L, math.floor(medianMs * math.exp(0.8 * g)).toLong)
  }
}

/** History for dashboard_read: an events table of `Metrics` event types
  * over `Days` days, Zipf-popular (type i has weight 1/(i+1)^1.1) with
  * lognormal latencies. RollupJob turns each type into a timer, its
  * `_count` counter, and type `view` also into the `view_gauge` gauge.
  * Popularity order is fixed, so every seed queries metrics of the same
  * size; the seed draws the events. */
object EventsGen {
  val T0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val Days = 21
  val End: Long = T0 + Days * 86400000L
  val Metrics = 200
  val Events = 100000

  val names: Vector[String] =
    (0 until Metrics).map(i => if (i == 3) "view" else f"api_$i%03d").toVector

  final case class Data(metric: Array[Int], ts: Array[Long], value: Array[Long], sha: String) {
    def size: Int = metric.length
  }

  def generate(seed: Long): Data = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val weights = (0 until Metrics).map(i => 1.0 / math.pow(i + 1, 1.1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    val medians = (0 until Metrics).map(i => 20.0 + (i * 37) % 480).toArray
    val metric = new Array[Int](Events)
    val ts = new Array[Long](Events)
    val value = new Array[Long](Events)
    val sha = new Util.Sha256
    var i = 0
    while (i < Events) {
      val u = r.nextDouble()
      var m = java.util.Arrays.binarySearch(cdf, u)
      if (m < 0) m = -m - 1
      m = math.min(m, Metrics - 1)
      metric(i) = m
      ts(i) = T0 + r.nextLong(End - T0)
      value(i) = Latency.draw(r, medians(m))
      sha.long(m); sha.long(ts(i)); sha.long(value(i))
      i += 1
    }
    Data(metric, ts, value, sha.hex)
  }

  /** Ground truth per catalog metric: the timer, its counter (one per
    * event) and the view gauge. */
  def truth(d: Data): Truth = {
    val t = new Truth
    val order = (0 until d.size).sortBy(i => d.ts(i)).toArray
    order.foreach { i =>
      val n = names(d.metric(i))
      t.add(n, d.ts(i), d.value(i))
      t.add(n + "_count", d.ts(i), 1L)
      if (n == "view") t.add("view_gauge", d.ts(i), d.value(i))
    }
    t
  }

  def writeEvents(spark: SparkSession, d: Data, dir: String): Unit = {
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val rows = (0 until d.size).map { i =>
      Row(names(d.metric(i)), new java.sql.Timestamp(d.ts(i)), d.value(i).toDouble)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Session.Cores), schema)
      .write.parquet(s"$dir/events.parquet")
  }

  def universe: Universe = Universe(
    hist = names, gauge = "view_gauge", counters = names.take(8).map(_ + "_count"),
    catalog = names ++ names.map(_ + "_count") :+ "view_gauge",
    ranges = Seq("1h" -> 3600000L, "6h" -> 21600000L, "12h" -> 43200000L,
      "1d" -> 86400000L, "2d" -> 172800000L, "7d" -> 604800000L))
}

/** Agent traffic for read_under_ingest, in the reference's ingest shape:
  * every POST is one gzip MetricBatch of 50 metrics × 100 values, the
  * batch the reference's load generator sends (`IngestStress` defaults,
  * BASELINE.md §H: 160 such batches per 30 s tick). A tick here posts
  * `Batches` of them, one per agent, each agent reporting the same 50
  * metrics over its own slice of the tick's span.
  *
  * Tick 0 carries `HistoryMs` of event time, so readers have hours of
  * data from the first measured tick on; every later tick carries the
  * next `SpanMs`. Of the 50 metrics, one has an unknown mtype (its values
  * are dropped at parse) and 1 % of hist values are negative. From tick 1
  * on, `LatePerTick` of the values fall in already-closed 5 s windows of
  * the previous span, each in its own (metric, window), so the streams'
  * dropped-row count equals the late count exactly; each replaces one of
  * its metric's 100 values. Metric 0 of each stream has a value in each
  * of the last 100 windows of every batch's slice (every window, from
  * tick 1 on) and one at the slice's last millisecond, which pins the
  * watermark and hence which buckets every tier closes. Spans end on
  * whole hours, so every standard tier closes buckets on every tick. */
object TickGen {
  val T0: Long = 1706745600000L // 2024-02-01T00:00:00Z
  val HistoryMs = 21600000L
  val SpanMs = 3600000L
  val WindowMs = 5000L
  val Batches = 8
  val ValuesPerMetric = 100
  val LatePerTick = 40

  def start(k: Int): Long = if (k == 0) T0 else T0 + HistoryMs + (k - 1) * SpanMs
  def end(k: Int): Long = T0 + HistoryMs + k * SpanMs

  val hist: Vector[(String, String)] =
    ((0 until 40).map(i => s"api_$i" -> "timer") ++ (0 until 4).map(i => s"pool_$i" -> "gauge")).toVector
  val counters: Vector[String] = (0 until 5).map(i => s"req_$i").toVector
  /** The 50 metrics of every batch, as (name, mtype). */
  val batchMetrics: Vector[(String, String)] =
    hist ++ counters.map(_ -> "counter") :+ ("disk_io" -> "meter")
  /** Indices in `batchMetrics` of metric 0 of the hist and counter streams. */
  private val pinned = Set(0, hist.size)

  /** `truth` holds the valid, on-time values as (metric, ts, value). */
  final case class Tick(bodies: Vector[Array[Byte]], posted: Long, invalid: Long, late: Long,
                        truth: Vector[(String, Long, Long)])

  def universe: Universe = Universe(
    hist = hist.map(_._1), gauge = "pool_0", counters = counters,
    catalog = hist.map(_._1) ++ counters,
    ranges = Seq("1h" -> 3600000L, "2h" -> 7200000L, "3h" -> 10800000L, "6h" -> 21600000L))

  def metrics: Seq[graft.planner.Metric] =
    hist.map { case (n, t) => graft.planner.Metric(n, t) } ++ counters.map(graft.planner.Metric(_, "counter"))

  def tick(seed: Long, k: Int): Tick = {
    val r = new SplittableRandom(seed * 1000003L + k)
    val start = TickGen.start(k)
    val slice = (end(k) - start) / Batches
    val windows = (slice / WindowMs).toInt
    val truth = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var posted, invalid, late = 0L

    // late: distinct (metric, window) pairs in the previous span's last
    // hour, at least 100 s before this span starts (far behind the
    // watermark); pair i rides in batch i % Batches
    val lates = Array.fill(Batches)(mutable.Map.empty[Int, mutable.ArrayBuffer[Long]])
    if (k > 0) {
      val eligible = (0 until hist.size + counters.size).filterNot(pinned)
      val lastHour = (SpanMs / WindowMs).toInt
      val picked = mutable.LinkedHashSet.empty[(Int, Int)]
      while (picked.size < LatePerTick) picked += ((eligible(r.nextInt(eligible.size)), r.nextInt(lastHour - 20)))
      picked.zipWithIndex.foreach { case ((mi, w), i) =>
        lates(i % Batches).getOrElseUpdate(mi, mutable.ArrayBuffer.empty) +=
          start - SpanMs + w * WindowMs + r.nextLong(WindowMs)
      }
    }

    val bodies = (0 until Batches).map { b =>
      val from = start + b * slice
      val sb = new StringBuilder("{\"metrics\":[")
      batchMetrics.zipWithIndex.foreach { case ((name, mtype), mi) =>
        if (mi > 0) sb.append(',')
        sb.append("{\"name\":\"").append(name).append("\",\"mtype\":\"").append(mtype)
          .append("\",\"measurements\":[")
        val lateTs = lates(b).getOrElse(mi, mutable.ArrayBuffer.empty[Long])
        // values per window of the slice
        val perWindow = new Array[Int](windows)
        var rest = ValuesPerMetric - lateTs.size
        if (pinned(mi)) (math.max(0, windows - rest) until windows).foreach { w => perWindow(w) += 1; rest -= 1 }
        (0 until rest).foreach(_ => perWindow(r.nextInt(windows)) += 1)
        val isCounter = mtype == "counter"
        val median = 20.0 + (mi * 37) % 480
        def draw(): Long =
          if (isCounter) 1L
          else {
            val v = Latency.draw(r, median)
            if (r.nextInt(100) == 0) -(v + 1) else v
          }
        def measurement(t: Long, vs: Seq[Long], first: Boolean): Unit = {
          if (!first) sb.append(',')
          sb.append("{\"ts\":").append(t).append(",\"values\":[").append(vs.mkString(",")).append("]}")
        }
        var first = true
        lateTs.foreach { t =>
          measurement(t, Seq(draw().abs), first)
          first = false
          late += 1
        }
        (0 until windows).foreach { w =>
          val n = perWindow(w)
          if (n > 0) {
            val t = if (pinned(mi) && w == windows - 1) from + slice - 1 else from + w * WindowMs + r.nextLong(WindowMs)
            val vs = Seq.fill(n)(draw())
            measurement(t, vs, first)
            first = false
            if (mtype == "meter") invalid += n
            else vs.foreach(v => if (v < 0) invalid += 1 else truth += ((name, t, v)))
          }
        }
        posted += ValuesPerMetric
        sb.append("]}")
      }
      sb.append("]}")
      Util.gzip(sb.toString)
    }.toVector
    Tick(bodies, posted, invalid, late, truth.sortBy(_._2).toVector)
  }
}
