package khronusbench

import com.fasterxml.jackson.databind.JsonNode

import scala.collection.mutable

/** The generated raw values per metric, in event-time order: the
  * ground truth every answer is checked against. Appends per metric
  * must be in non-decreasing time order. */
final class Truth {
  private final class Buf {
    var ts = new Array[Long](1024)
    var vs = new Array[Long](1024)
    var n = 0
    def add(t: Long, v: Long): Unit = {
      if (n == ts.length) {
        ts = java.util.Arrays.copyOf(ts, n * 2)
        vs = java.util.Arrays.copyOf(vs, n * 2)
      }
      require(n == 0 || ts(n - 1) <= t, "truth appends must be time-ordered")
      ts(n) = t; vs(n) = v; n += 1
    }
    /** First index with ts >= t. */
    def lower(t: Long): Int = {
      var lo = 0
      var hi = n
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (ts(mid) < t) lo = mid + 1 else hi = mid }
      lo
    }
  }

  private val bufs = mutable.Map.empty[String, Buf]

  def add(metric: String, t: Long, v: Long): Unit = synchronized {
    bufs.getOrElseUpdate(metric, new Buf).add(t, v)
  }

  /** Values with event time in [from, toExclusive). */
  def values(metric: String, from: Long, toExclusive: Long): Array[Long] = synchronized {
    bufs.get(metric) match {
      case None => Array.emptyLongArray
      case Some(b) => java.util.Arrays.copyOfRange(b.vs, b.lower(from), b.lower(toExclusive))
    }
  }

  /** (count, sum) of values of `metric` with event time < `toExclusive`. */
  def before(metric: String, toExclusive: Long): (Long, Long) = {
    val v = values(metric, Long.MinValue, toExclusive)
    (v.length.toLong, v.sum)
  }
}

/** Exact per-bucket statistics from raw values — the oracle's own
  * computation, independent of the engine's sketches. */
final case class Stats(values: Array[Long]) {
  private lazy val sorted = values.sorted
  def n: Long = values.length
  def sum: Long = values.sum
  def min: Long = sorted.head
  def max: Long = sorted.last
  def meanLong: Long = (2 * sum + n) / (2 * n)
  /** The p-th percentile by the cumulative-count rule. */
  def pct(p: Double): Long = {
    val at = math.max(1L, (p / 100.0 * n + 0.5).toLong)
    sorted((at - 1).toInt)
  }
}

/** How one returned point is judged. */
sealed trait Check { def ok(got: Double): Boolean; def expected: Double }
/** Exact up to the planner's 4-decimal rounding. */
final case class Near(expected: Double) extends Check {
  def ok(got: Double): Boolean = math.abs(got - expected) <= 1e-4 + 1e-9 * math.abs(expected)
}
/** A percentile read from a merged histogram: never below the exact
  * value and within the sketch's 3-significant-digit bound above it. */
final case class HdrBound(expected: Double) extends Check {
  def ok(got: Double): Boolean = got >= expected && got - expected <= expected / 1000.0
}

/** One column of a panel query and how to compute it from the truth. */
sealed trait Col { def name: String; def label: String }
/** `fn` of one metric; `name` is the table id (alias or metric name). */
final case class FieldCol(metric: String, counter: Boolean, fn: String,
                          name: String, label: String) extends Col
final case class ConstCol(value: Double, label: String) extends Col { def name = "" }
final case class OpCol(l: Col, r: Col, op: Char, label: String) extends Col { def name = "" }

/** A dashboard panel: its InfluxQL text and what the answer must be. */
final case class Panel(shape: String, query: String, rangeMs: Long,
                       window: Option[Long], // forced window; None = routed
                       cols: Seq[Col] = Nil, fill: Option[Double] = None,
                       scale: Double = 1.0, limit: Int = Int.MaxValue,
                       asc: Boolean = true, listed: Option[Seq[String]] = None) {
  def forced: Boolean = window.isDefined
}

object Oracle {
  val Tiers: Seq[Long] = Seq(30000L, 60000L, 300000L, 600000L, 1800000L, 3600000L)

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Value of `fn` over one bucket; None when the bucket is empty. */
  private def fieldValue(truth: Truth, c: FieldCol, b: Long, w: Long): Option[Check] = {
    val st = Stats(truth.values(c.metric, b, b + w))
    if (st.n == 0) None
    else {
      val count = if (c.counter) st.sum else st.n
      Some(c.fn match {
        case "count" => Near(count.toDouble)
        case "cpm" => Near(round4(count / (w / 60000.0)))
        case "min" => Near(st.min.toDouble)
        case "max" => Near(st.max.toDouble)
        case "mean" => Near(st.meanLong.toDouble)
        case p if p.startsWith("p") => HdrBound(st.pct(p.drop(1).toDouble).toDouble)
        case other => throw new IllegalArgumentException(s"no oracle for $other")
      })
    }
  }

  /** Expected series of one column over the grid, before scale/order. */
  private def expectSeries(truth: Truth, p: Panel, c: Col, grid: Seq[Long], w: Long): Seq[(Long, Check)] =
    c match {
      case f: FieldCol =>
        grid.flatMap { b =>
          fieldValue(truth, f, b, w).orElse(p.fill.map(Near(_))).map(b -> _)
        }
      case ConstCol(v, _) => grid.map(_ -> Near(v))
      case OpCol(l, r, op, _) =>
        val lm = expectSeries(truth, p, l, grid, w).toMap
        expectSeries(truth, p, r, grid, w).flatMap { case (t, rc) =>
          lm.get(t).map { lc =>
            val (a, b) = (lc.expected, rc.expected)
            t -> Near(round4(op match {
              case '+' => a + b
              case '-' => a - b
              case '*' => a * b
              case '/' => a / b
            }))
          }
        }
    }

  /** Compare one HTTP answer with the truth. Returns the mismatches
    * (empty = correct). `now` is the clock the planner saw. */
  def check(truth: Truth, p: Panel, now: Long, body: JsonNode): Seq[String] = {
    val got = Http.series(body)
    p.listed match {
      case Some(names) =>
        val returned = got.flatMap(_.points.map(_._2.asText())).sorted
        if (returned == names.sorted) Nil
        else Seq(s"${p.shape}: listed ${returned.mkString(",")} != ${names.sorted.mkString(",")}")
      case None => checkSeries(truth, p, now, got)
    }
  }

  private def checkSeries(truth: Truth, p: Panel, now: Long, got: Vector[Http.Series]): Seq[String] = {
    val from = now - p.rangeMs + 1
    val to = now
    // a routed query's window is read off the answer's spacing and must
    // be a configured tier
    val w = p.window.getOrElse {
      val ts = got.headOption.map(_.points.map(_._1)).getOrElse(Vector.empty)
      if (ts.size < 2) return Seq(s"${p.shape}: routed answer has ${ts.size} points")
      math.abs(ts(1) - ts(0))
    }
    if (!Tiers.contains(w)) return Seq(s"${p.shape}: window $w is not a tier")
    val gridFrom = ((from + w - 1) / w) * w
    val gridTo = (to / w) * w
    val grid = gridFrom to gridTo by w
    val errs = mutable.ArrayBuffer.empty[String]
    val expectedKeys = p.cols.map(c => (c.name, c.label)).toSet
    val gotKeys = got.map(s => (s.name, s.label)).toSet
    if (expectedKeys != gotKeys) errs += s"${p.shape}: series $gotKeys != $expectedKeys"
    p.cols.foreach { c =>
      got.find(s => s.name == c.name && s.label == c.label).foreach { s =>
        var exp = expectSeries(truth, p, c, grid, w)
          .map { case (t, ch) => (t, scaled(ch, p.scale)) }
        exp = if (p.asc) exp.sortBy(_._1) else exp.sortBy(-_._1)
        if (p.limit != Int.MaxValue) exp = exp.take(p.limit)
        if (!p.forced && (s.points.size < 100 || s.points.size > 700))
          errs += s"${p.shape}/${c.label}: ${s.points.size} points outside 100-700"
        if (s.points.map(_._1) != exp.map(_._1))
          errs += s"${p.shape}/${c.label}: times differ (${s.points.size} vs ${exp.size})"
        else s.points.zip(exp).foreach { case ((t, v), (_, ch)) =>
          if (v == null || !v.isNumber || !ch.ok(v.asDouble()))
            errs += s"${p.shape}/${c.label}@$t: got $v, expected $ch"
        }
      }
    }
    errs.take(5).toSeq
  }

  private def scaled(c: Check, k: Double): Check =
    if (k == 1.0) c
    else c match {
      case Near(v) => Near(round4(v * k))
      case HdrBound(v) => HdrBound(v * k)
    }
}
