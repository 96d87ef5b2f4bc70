package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.planner._
import graft.ql.InfluxAst._
import graft.ql.InfluxParser
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The planner's driver-side evaluator against the DataFrame lowering it
  * replaced: same series ids, labels, metric names, times in order, and
  * bit-identical values, over the materialized tiers and over seeded
  * stub sources. */
class InfluxEvaluatorSpec extends SparkSpec {
  import InfluxEvaluatorSpec._

  /** Evaluator and lowering agree on `text` (true), or both fail with a
    * division by zero (false). Points at `tied` times are not compared: there a
    * limit cuts through rows of one bucket, and which of them a top-k
    * keeps is undefined in both implementations. */
  private def assertSame(provider: SummaryProvider, now: () => Long, text: String,
                         cap: Int = Int.MaxValue, tied: Set[Long] = Set.empty): Boolean = {
    val planner = new InfluxPlanner(provider, now, maxSummariesPerSource = cap)
    val want = scala.util.Try(lowering(planner, provider, now, text, cap).map {
      case (id, label, name, df) =>
        (id, label, name, df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq.filterNot(p => tied(p._1)))
    })
    val got = scala.util.Try(planner.execute(spark, text).map(r => (r.id, r.label, r.metricName,
      r.points.map { case (t, v) => t -> v.asInstanceOf[Double] }.filterNot(p => tied(p._1)))))
    (want.toEither, got.toEither) match {
      case (Right(w), Right(g)) =>
        assert(g.map(s => (s._1, s._2, s._3)) == w.map(s => (s._1, s._2, s._3)), text)
        g.zip(w).foreach { case (gs, ws) =>
          // ties in time have no defined order in either implementation:
          // the time sequence must match, and the (time, value) multiset
          assert(gs._4.map(_._1) == ws._4.map(_._1), s"${gs._1} times of: $text")
          assert(bits(gs._4).sorted == bits(ws._4).sorted, s"${gs._1} values of: $text")
        }
        true
      case (Left(w), Left(g)) =>
        assert(g.getMessage.contains(DivideByZero), text)
        assert(w.getMessage.contains(DivideByZero), text)
        false
      case other => fail(s"one side failed on: $text\n$other")
    }
  }

  test("evaluator equals the lowering on every influx_* shape over the materialized tiers") {
    val provider = MaterializedTiers.provider(spark, sf)
    val now = () => 1706745600000L
    val (f, t) = (1704067200000L, 1704931199999L)
    val shapes = Seq(
      """select count, p99, max from "purchase" where time between F and T force group by time(1h) order asc""",
      """select cpm from "click_count" where time between F and T force group by time(30m) order asc""",
      """select count from "signup" where time between F and T force group by time(5m) fill(0) order asc""",
      """select e.count / p.count as err_per_purchase from "error" as e, "purchase" as p where time between F and T force group by time(1h) order asc""",
      """select max from "view" where time between F and T force group by time(10m) scale(0.5) order asc""",
      """select * from "view_count" where time between F and T force group by time(10m) limit 50 order desc""",
      """select percentiles(50 99) 10.5 as base from "purchase" where time between F and T force group by time(1h) order asc""",
      """select e.max - e.min as spread, e.max + e.min as span, e.mean * 2 as dbl from "error" as e where time between F and T force group by time(1h) order asc""",
      """select count from "(view|click)" where time between F and T force group by time(1h) order asc""",
      """select count from "purchase" where time between F and T group by time(1m) order asc""",
      """select p95, min from "view_gauge" where time between F and T force group by time(1h) order asc""")
    shapes.foreach { s =>
      val text = s.replace(" F ", s" $f ").replace(" T ", s" $t ")
      assert(assertSame(provider, now, text), s"divided by zero: $text")
    }
    // the twelfth shape, list series, reads no source
    val names = new InfluxPlanner(provider, now).execute(spark, "list series /count/").head.points
    assert(names.map(_._2) == provider.catalog.searchByRegex(".*count.*").map(_.name))
  }

  test("evaluator equals the lowering on 200 seeded stub-source queries") {
    val rnd = new Random(20261019L)
    val cases = (1 to 200).map { i =>
      val c = StubCase.draw(rnd)
      c -> withClue(s"case $i (cap ${c.cap}): ") {
        assertSame(c.provider, () => c.now, c.text, c.cap, c.tied)
      }
    }
    // the draw reaches the cases it is meant to cover
    assert(cases.exists(!_._2), "no division by zero")
    assert(cases.exists(c => c._2 && c._1.emptyGrid), "no empty grid")
    assert(cases.exists(c => c._2 && c._1.tied.isEmpty && c._1.text.contains(" limit ")), "no limit")
  }
}

object InfluxEvaluatorSpec {
  val DivideByZero = "Could not divide by zero"

  def bits(pts: Seq[(Long, Double)]): Seq[(Long, Long)] =
    pts.map { case (t, v) => t -> java.lang.Double.doubleToLongBits(v) }

  /** The DataFrame lowering the driver-side evaluator replaced, kept as
    * the differential reference only: a `spark.range` time spine left
    * joined with each source read, column arithmetic, `raise_error` on
    * division by zero, one sorted frame per series. Returns (id, label,
    * metric name, (time, value) frame) per series. */
  def lowering(planner: InfluxPlanner, provider: SummaryProvider, now: () => Long,
               text: String, maxSummariesPerSource: Int): Seq[(String, String, String, DataFrame)] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val q = new InfluxParser(now).parseQuery(text)
    def align(ts: Long, w: Long, floor: Boolean): Long =
      if (ts % w == 0) ts else { val d = ts / w; if (floor) d * w else (d + 1) * w }
    val (from, to) = planner.buildSlice(q.filters)
    val windowMs = planner.adjustResolution(from, to, q.groupBy)
    val gridFrom = align(from, windowMs, floor = false)
    val gridTo = align(to, windowMs, floor = true)
    val (projections, sourceMap) = planner.bind(q)

    val reads: Map[String, DataFrame] = sourceMap.map { case (tid, m) =>
      val base = provider.summaries(m, windowMs, from, to)
        .where(col("bucket_start").between(from, to))
      val ordered =
        if (q.orderAsc) base.orderBy(col("bucket_start").asc)
        else base.orderBy(col("bucket_start").desc)
      val cap = math.min(q.limit, maxSummariesPerSource)
      tid -> (if (cap != Int.MaxValue) ordered.limit(cap) else ordered)
    }
    val spine: DataFrame =
      if (gridFrom > gridTo) spark.range(0).select(col("id").as("time"))
      else spark.range(gridFrom, gridTo + 1, windowMs).select(col("id").as("time"))
    def valueCol(fn: String): Column = fn match {
      case "cpm" => col("count") / lit(windowMs.toDouble / 60000.0)
      case other => col(other).cast("double")
    }
    def series(p: SimpleProjection): DataFrame = p match {
      case Field(fn, _, Some(tid)) =>
        val joined = spine.join(
          reads(tid).withColumnRenamed("bucket_start", "time"), Seq("time"), "left")
        val withVal = joined.select(col("time"), valueCol(fn).as("value"))
        q.fill match {
          case Some(f) => withVal.select(col("time"), coalesce(col("value"), lit(f)).as("value"))
          case None    => withVal.where(col("value").isNotNull)
        }
      case Constant(v, _) => spine.select(col("time"), lit(v).as("value"))
      case BinaryOp(l, r, op, _) =>
        val joined = series(l).withColumnRenamed("value", "l")
          .join(series(r).withColumnRenamed("value", "r"), Seq("time"), "inner")
        val expr = op match {
          case "+" => col("l") + col("r")
          case "-" => col("l") - col("r")
          case "*" => col("l") * col("r")
          case "/" =>
            when(col("r") === 0.0, raise_error(lit(DivideByZero))).otherwise(col("l") / col("r"))
        }
        joined.select(col("time"), expr.as("value"))
      case Field(_, _, None) => throw new IllegalStateException("unbound field")
    }
    projections.sortBy(_.seriesId).map { p =>
      val scaled = series(p).select(col("time"),
        round(col("value") * lit(q.scale.getOrElse(1.0)), 4).as("value"))
      val ordered =
        if (q.orderAsc) scaled.orderBy(col("time").asc) else scaled.orderBy(col("time").desc)
      val (label, metricName) = p match {
        case Field(fn, alias, Some(tid)) => (alias.getOrElse(fn), tid)
        case c: Constant                 => (c.alias.getOrElse(""), "")
        case o: BinaryOp                 => (o.alias, "")
        case _                           => ("", "")
      }
      (p.seriesId, label, metricName, ordered)
    }
  }

  val HistColumns: Seq[String] = Fn.Histogram.filterNot(_ == "cpm")

  /** A stub source: the same rows whatever the range asked for, so the
    * planner's own range filter and grid are what is tested. */
  class StubProvider(rows: Map[String, Seq[Row]], metrics: Seq[Metric]) extends SummaryProvider {
    val catalog: MetricCatalog = MetricCatalog(metrics)
    def summaries(m: Metric, w: Long, fromMs: Long, toMs: Long): DataFrame = {
      val cols = if (m.isHistogram) HistColumns else Seq("count")
      val schema = StructType(StructField("bucket_start", LongType, nullable = false) +:
        cols.map(c => StructField(c, if (c == "mean") DoubleType else LongType)))
      org.apache.spark.sql.SparkSession.active.createDataFrame(rows(m.name).asJava, schema)
    }
  }

  /** One seeded query over a timer "a" and a counter "c"; `tied` holds
    * the buckets whose rows a limit or cap cuts through. */
  case class StubCase(text: String, rows: Map[String, Seq[Row]], now: Long, cap: Int,
                      tied: Set[Long], emptyGrid: Boolean) {
    def provider: SummaryProvider =
      new StubProvider(rows, Seq(Metric("a", "timer"), Metric("c", "counter")))
  }

  object StubCase {
    private val Windows = Seq(30000L, 60000L, 300000L, 600000L, 1800000L, 3600000L)
    private val Units = Map(30000L -> "30s", 60000L -> "1m", 300000L -> "5m",
      600000L -> "10m", 1800000L -> "30m", 3600000L -> "1h")

    def draw(rnd: Random): StubCase = {
      val w = Windows(rnd.nextInt(Windows.size))
      val origin = 1704067200000L
      // from off-grid half the time; a span under one window can hold no grid point
      val from = origin + rnd.nextInt(5) * w + (if (rnd.nextBoolean()) rnd.nextInt(w.toInt) else 0)
      val to = if (rnd.nextInt(10) == 0) from + rnd.nextInt(w.toInt / 2) else from + rnd.nextInt(30) * w
      def value5dp(): Long = rnd.nextInt(2000) // /10^5 below, so half end in 5
      def bucket(): Long = {
        val b = origin + (rnd.nextInt(40) - 3) * w
        rnd.nextInt(8) match {
          case 0 => b + w / 2 // off grid
          case _ => b
        }
      }
      def nullable(v: => Any): Any = if (rnd.nextInt(6) == 0) null else v
      def histRow(b: Long): Row = Row.fromSeq(b +: HistColumns.map {
        case "mean" => nullable(rnd.nextInt(5) match {
          case 0 => Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)(rnd.nextInt(4))
          case _ => value5dp() / 100000.0
        })
        case "count" => nullable(rnd.nextInt(4).toLong) // zeros for division
        case _ => nullable(rnd.nextInt(1000).toLong)
      })
      def counterRow(b: Long): Row = Row(b, nullable(rnd.nextInt(4).toLong))
      def source(row: Long => Row): Seq[Row] = {
        val bs = Seq.fill(rnd.nextInt(25))(bucket())
        // duplicates: the same bucket twice, with its own values
        val dups = bs.filter(_ => rnd.nextInt(6) == 0)
        rnd.shuffle(bs ++ dups).map(row)
      }
      val rows = Map("a" -> source(histRow), "c" -> source(counterRow))

      val aFns = Fn.Histogram
      def aField = s"a.${aFns(rnd.nextInt(aFns.size))}"
      def cField = s"c.${Fn.Counter(rnd.nextInt(2))}"
      def operand = rnd.nextInt(3) match {
        case 0 => aField
        case 1 => cField
        case _ => Seq("0", "2", "0.5", "-3")(rnd.nextInt(4))
      }
      val ops = Seq("+", "-", "*", "/")
      val projections = rnd.nextInt(5) match {
        case 0 => Seq("a.*")
        case 1 => Seq(aField, cField).distinct
        case 2 => Seq(s"$aField as x", s"10.5 as k")
        case _ =>
          (1 to 1 + rnd.nextInt(2)).map { j =>
            val l = if (rnd.nextBoolean()) aField else cField
            s"$l ${ops(rnd.nextInt(4))} $operand as op$j"
          }
      }
      val fill = if (rnd.nextInt(3) == 0) Seq("0", "-1", "2.5")(rnd.nextInt(3)) else ""
      val scale = if (rnd.nextInt(2) == 0) Seq("0.5", "0.1", "3", "-0.2", "0.00001")(rnd.nextInt(5)) else ""
      val limit = if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(10) else Int.MaxValue
      val cap = if (rnd.nextInt(8) == 0) 1 + rnd.nextInt(10) else Int.MaxValue
      val text = s"select ${projections.mkString(", ")} from " + "\"a\" as a, \"c\" as c " +
        s"where time >= $from and time <= $to force group by time(${Units(w)})" +
        (if (fill.nonEmpty) s" fill($fill)" else "") +
        (if (scale.nonEmpty) s" scale($scale)" else "") +
        (if (limit != Int.MaxValue) s" limit $limit" else "") +
        (if (rnd.nextBoolean()) " order asc" else " order desc")
      val asc = text.endsWith("asc")
      val tied = rows.values.flatMap { rs =>
        val k = math.min(limit, cap)
        val in = rs.map(_.getLong(0)).filter(b => b >= from && b <= to).sorted
        val ordered = if (asc) in else in.reverse
        if (ordered.size > k && ordered(k - 1) == ordered(k)) Some(ordered(k)) else None
      }.toSet
      // from and to are positive: the grid is the multiples of w in [from, to]
      val emptyGrid = (from + w - 1) / w > to / w
      StubCase(text, rows, origin + 100L * w, cap, tied, emptyGrid)
    }
  }
}
