package graft

import graft.planner._
import graft.ql.InfluxAst._
import org.apache.spark.sql.DataFrame

class InfluxPlannerSpec extends SparkSpec {

  private val NOW = 1704067200000L

  /** Planner with a stub provider; resolution bounds overridden to the
    * reference resolver spec's 700..1000 so its boundary cases port
    * verbatim (reference: InfluxQueryResolverSpec.scala:341-381). */
  private def plannerWith(metrics: Seq[Metric], min: Int = 700, max: Int = 1000) =
    new InfluxPlanner(new SummaryProvider {
      val catalog = MetricCatalog(metrics)
      def summaries(m: Metric, w: Long, fromMs: Long, toMs: Long): DataFrame =
        spark.emptyDataFrame
    }, () => NOW, min, max)

  private val p = plannerWith(Seq(Metric("metricA", "timer"), Metric("counterB", "counter")))

  private def adjust(spanMs: Long, requestedMs: Long, force: Boolean = false): Long =
    p.adjustResolution(0, spanMs, GroupBy(force, requestedMs))

  val H = 3600000L

  test("configured resolution inside limits is kept") {
    assert(adjust(80 * H, 5 * 60000L) == 5 * 60000L) // 960 points
  }

  test("unconfigured window snaps to nearest") {
    assert(adjust(8 * H, 10000L) == 30000L)
    assert(adjust(80 * H, 6 * 60000L) == 5 * 60000L)
    assert(adjust(500 * H, 5 * H) == 30 * 60000L)
  }

  test("too-coarse resolution adjusts to a window within bounds") {
    assert(adjust(80 * H, 30 * 60000L) == 5 * 60000L) // 160 → 960 points
  }

  test("too-fine resolution adjusts to a window within bounds") {
    assert(adjust(80 * H, 30000L) == 5 * 60000L) // 9600 → 960 points
  }

  test("forced resolution bypasses adjustment") {
    assert(adjust(80 * H, 30000L, force = true) == 30000L)
  }

  test("oversized span falls back to coarsest even outside bounds") {
    assert(adjust(1000 * H, 5 * 60000L) == H) // 1000 points at 1h
  }

  test("tiny span falls back to finest even outside bounds") {
    assert(adjust(1 * H, 5 * 60000L) == 30000L) // 120 points at 30s
  }

  test("slice folding: exclusive bounds become ±1ms; from required") {
    assert(p.buildSlice(Seq(TimeFilter(">", 100L), TimeFilter("<", 200L))) == (101L, 199L))
    assert(p.buildSlice(Seq(TimeFilter(">=", 100L))) == (100L, NOW))
    // an explicit from of exactly 1 ms is a real bound, not "missing"
    assert(p.buildSlice(Seq(TimeFilter(">=", 1L))) == (1L, NOW))
    assert(p.buildSlice(Seq(TimeFilter(">", 0L))) == (1L, NOW))
    intercept[UnsupportedOperationException] { p.buildSlice(Seq(TimeFilter("<", 200L))) }
  }

  test("bind rejects duplicate table aliases") {
    intercept[UnsupportedOperationException] {
      p.bind(Query(Seq(Field("count", None, None)),
        Seq(TableRef("metricA", Some("x")), TableRef("counterB", Some("x"))),
        Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    }
  }

  test("bind rejects invalid projection alias") {
    intercept[UnsupportedOperationException] {
      p.bind(Query(Seq(Field("count", None, Some("nope"))),
        Seq(TableRef("metricA", Some("x"))),
        Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    }
  }

  test("bind rejects histogram function on a counter") {
    intercept[UnsupportedOperationException] {
      p.bind(Query(Seq(Field("p99", None, None)),
        Seq(TableRef("counterB", None)),
        Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    }
  }

  test("bind rejects regex matching nothing, and >1 match with alias") {
    intercept[UnsupportedOperationException] {
      p.bind(Query(Seq(Field("count", None, None)), Seq(TableRef("zzz.*", None)),
        Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    }
    intercept[UnsupportedOperationException] {
      p.bind(Query(Seq(Field("count", None, None)), Seq(TableRef(".*", Some("x"))),
        Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    }
  }

  test("bind rejects binary ops referencing an inexistent table alias") {
    // reference: InfluxQueryParserSpec.scala:727-729 (either operand)
    for ((l, r) <- Seq(("y", "x"), ("x", "y"))) {
      intercept[UnsupportedOperationException] {
        p.bind(Query(Seq(BinaryOp(Field("count", None, Some(l)),
            Field("max", None, Some(r)), "+", "operation")),
          Seq(TableRef("metricA", Some("x"))),
          Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
      }
    }
  }

  test("star expansion per metric type") {
    val (bound, _) = p.bind(Query(Seq(AllFields(None)),
      Seq(TableRef("counterB", None)),
      Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    assert(bound.collect { case Field(n, _, _) => n } == Seq("count", "cpm"))
  }

  test("counter-typed field binds for a counter source") {
    // reference: InfluxQueryParserSpec.scala:173-186 — count(value) is
    // legal on a counter (the rejection twin is the histogram-on-counter
    // case above)
    val (bound, srcs) = p.bind(Query(Seq(Field("count", None, None)),
      Seq(TableRef("counterB", None)),
      Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    assert(bound == Seq(Field("count", None, Some("counterB"))))
    assert(srcs.keySet == Set("counterB"))
  }

  test("many regex sources fan out to the union of their matches") {
    // reference: InfluxQueryParserSpec.scala:357-396
    val (bound, srcs) = p.bind(Query(Seq(Field("count", None, None)),
      Seq(TableRef("metric.*", None), TableRef("counter.*", None)),
      Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    assert(srcs.keySet == Set("metricA", "counterB"))
    assert(bound.collect { case Field("count", _, Some(t)) => t }.toSet ==
      Set("metricA", "counterB"))
  }

  test("case-insensitive regex source matching fans out") {
    val (bound, srcs) = p.bind(Query(Seq(Field("count", None, None)),
      Seq(TableRef("METRICA", None)),
      Nil, GroupBy(force = false, 60000L), None, None, Int.MaxValue, orderAsc = true))
    assert(srcs.keySet == Set("metricA"))
    assert(bound == Seq(Field("count", None, Some("metricA"))))
  }

  // ---- end-to-end over the materialized tiers of the events table -------

  private lazy val store = MaterializedTiers.provider(spark, sf)
  private lazy val eplanner = new InfluxPlanner(store, () => 1706745600000L)

  test("end-to-end: hourly counts match a direct aggregation") {
    val res = eplanner.execute(spark,
      """select count from "purchase" where time between 1704067200000 and 1704153599999 force group by time(1h)""")
    assert(res.size == 1)
    val got = res.head.points.map { case (t, v) => t -> v.asInstanceOf[Double] }.toMap
    import org.apache.spark.sql.functions._
    val expect = Tables.events(spark, sf)
      .where(col("event_type") === "purchase" && floor(col("value")) >= 0 &&
        col("ts_ms").between(1704067200000L, 1704153599999L))
      .groupBy(((col("ts_ms") - pmod(col("ts_ms"), lit(3600000L)))).as("b"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    assert(got == expect)
  }

  test("end-to-end: division by zero fails the query") {
    val e = intercept[Exception] {
      eplanner.execute(spark,
        """select e.count / 0 as boom from "error" as e where time between 1704067200000 and 1704153599999 force group by time(1h)""")
    }
    assert(e.getMessage.contains("Could not divide by zero"))
  }

  test("influx series JSON envelope: (name, columns, points), time first") {
    val res = eplanner.execute(spark,
      """select count from "purchase" where time between 1704067200000 and 1704153599999 force group by time(1h)""")
    val series = InfluxProtocol.toInfluxSeries(res)
    assert(series.head.name == "purchase")
    assert(series.head.columns == Vector("time", "count"))
    assert(series.head.points.nonEmpty &&
      series.head.points.forall(p => p.length == 2 && p.head.isInstanceOf[Long]))
    val json = InfluxProtocol.toJson(res)
    assert(json.startsWith("""[{"name":"purchase","columns":["time","count"],"points":[["""))
  }

  test("maxSummariesPerSource caps a wide-range read independent of user limit") {
    import org.apache.spark.sql.functions._
    // 3000 summary buckets at 30s; a capped planner must read only the
    // first `cap` in time order (reference.conf:32 summary-limit intent)
    val provider = new SummaryProvider {
      val catalog = MetricCatalog(Seq(Metric("jobs", "counter")))
      def summaries(m: Metric, w: Long, fromMs: Long, toMs: Long): DataFrame =
        spark.range(3000).select((col("id") * 30000L).as("bucket_start"),
          lit(7L).as("count"))
    }
    val q = """select count from "jobs" where time between 0 and 89999999 force group by time(30s)"""
    val capped = new InfluxPlanner(provider, () => NOW, maxSummariesPerSource = 500)
    var res: Seq[SeriesResult] = Nil
    val plans = executedPlans { res = capped.execute(spark, q) }
    assert(res.head.points.size == 500)
    assert(plans.size == 1 && plans.head.contains("TakeOrderedAndProject(limit=500"),
      s"the source read must carry the read cap:\n${plans.mkString("\n")}")
    // the parity default is uncapped, like the reference's query path
    // (readAll count is overridden by the criteria limit =
    // Int.MaxValue — InfluxQueryResolver.scala:138, InfluxAst.scala:30)
    val uncapped = new InfluxPlanner(provider, () => NOW)
    assert(uncapped.execute(spark, q).head.points.size == 3000)
  }

  test("list series returns catalog matches") {
    val res = eplanner.execute(spark, "list series /count/")
    val names = res.head.points.map(_._2.asInstanceOf[String])
    assert(names.nonEmpty && names.forall(_.endsWith("_count")))
  }
}
