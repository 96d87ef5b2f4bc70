package graft.planner

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ql.InfluxAst._
import graft.ql.InfluxParser

/** Provides summary tables per (metric, resolution). A summaries frame
  * has `bucket_start: Long` plus the summary columns (count, min, max,
  * mean, p50..p999 for histograms; count for counters). Implementations
  * back this with partitioned parquet/Delta tiers so the time-range
  * filter prunes at the scan.
  */
trait SummaryProvider {
  def catalog: MetricCatalog
  /** Summary rows for one metric at one resolution, restricted to
    * [fromMs, toMs]. Implementations push the range into partition
    * pruning (the reference pushes it into CQL —
    * store/SummaryStore.scala:108-117). */
  def summaries(metric: Metric, windowMs: Long, fromMs: Long, toMs: Long): DataFrame
  /** Resolutions available, ascending (reference: reference.conf:11). */
  def windows: Seq[Long] = graft.rollup.Rollup.StandardTiers
}

/** One output series: unique id, display label, source metric name, and
  * its (time, value) points in output order. Values are Doubles, or the
  * matched metric names for `list series`. */
case class SeriesResult(id: String, label: String, metricName: String, points: Seq[(Long, Any)])

/** Plans and executes parsed InfluxQL queries against a SummaryProvider.
  * Each source is one bounded Spark read (the provider's summaries, with
  * its time range pushed into partition pruning); the rest of the answer
  * is computed on the driver, as the reference does (semantics per
  * influx/finder/InfluxQueryResolver.scala).
  */
class InfluxPlanner(provider: SummaryProvider,
                    now: () => Long = () => System.currentTimeMillis(),
                    minResolution: Int = 100,   // reference.conf:62
                    maxResolution: Int = 700,   // reference.conf:63
                    // per-source summary read cap (reference.conf:32
                    // summary-limit). The reference's query path is
                    // uncapped: the resolver overrides summary-limit with
                    // the user limit, default Int.MaxValue
                    // (InfluxQueryResolver.scala:138, InfluxAst.scala:30),
                    // hence this default. Set 1000 for reference.conf's
                    // intent: bound a wide-range force query's damage.
                    maxSummariesPerSource: Int = Int.MaxValue) {

  private val parser = new InfluxParser(now)

  /** Entry point: `list series …` or a select query → named series. */
  def execute(spark: SparkSession, queryText: String): Seq[SeriesResult] =
    parser.parseListSeries(queryText) match {
      case Some(ls) => Seq(listSeries(ls))
      case None     => executeSelect(spark, parser.parseQuery(queryText))
    }

  /** All series unioned long-form: (series, time, value) — the shape the
    * driver's oracle can reproduce in SQL. */
  def executeLong(spark: SparkSession, queryText: String): DataFrame = {
    val value = if (parser.parseListSeries(queryText).isDefined) StringType else DoubleType
    val rows = execute(spark, queryText).flatMap(r => r.points.map { case (t, v) => Row(r.id, t, v) })
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField("series", StringType),
      StructField("time", LongType), StructField("value", value))))
  }

  private def listSeries(ls: ListSeries): SeriesResult =
    SeriesResult("list_series_result", "list_series_result", "",
      provider.catalog.searchByRegex(ls.regex).map(m => 0L -> m.name))

  // ---- analysis --------------------------------------------------------

  /** Fold time filters to [from, to]; exclusive bounds become inclusive
    * by ±1 ms; missing from-bound is an error (reference:
    * InfluxQueryResolver.scala:67-85). */
  private[graft] def buildSlice(filters: Seq[Filter]): (Long, Long) = {
    var from: Option[Long] = None
    var to = now()
    filters.foreach {
      case TimeFilter(">", v)  => from = Some(v + 1)
      case TimeFilter(">=", v) => from = Some(v)
      case TimeFilter("<", v)  => to = v - 1
      case TimeFilter("<=", v) => to = v
      case _: TimeFilter       => ()
      case _: StringFilter     => () // parsed, ignored (reference parity)
    }
    (from.getOrElse(
      throw new UnsupportedOperationException("From clause required")), to)
  }

  /** Tier routing: nearest configured window to the requested one, then
    * widened/narrowed so the point count lands in [min, max] unless
    * forced (reference: InfluxQueryResolver.scala:89-118). */
  private[graft] def adjustResolution(from: Long, to: Long, gb: GroupBy): Long = {
    val sortedDesc = provider.windows.sortBy(-_)
    def points(w: Long): Long = math.abs(to - from) / w
    val nearest = sortedDesc.foldLeft(sortedDesc.last) { (best, next) =>
      if (math.abs(gb.durationMs - next) < math.abs(gb.durationMs - best)) next else best
    }
    if (gb.force) nearest
    else {
      val p = points(nearest)
      if (p <= maxResolution && p >= minResolution) nearest
      else sortedDesc.foldLeft(sortedDesc.head) { (adjusted, next) =>
        val np = points(next)
        if (np >= minResolution && np <= maxResolution) next
        else if (np < minResolution) next
        else adjusted
      }
    }
  }

  private def align(ts: Long, w: Long, floor: Boolean): Long =
    if (ts % w == 0) ts else { val d = ts / w; if (floor) d * w else (d + 1) * w }

  /** Validate aliases + bind sources + expand `*` (reference:
    * InfluxCriteriaBuilder.scala). Returns bound simple projections and
    * the source map keyed by tableId (alias or metric name). */
  private[graft] def bind(q: Query): (Seq[SimpleProjection], Map[String, Metric]) = {
    val aliases = q.tables.flatMap(_.alias)
    if (aliases.toSet.size < aliases.size)
      throw new UnsupportedOperationException("Different metrics can't use the same alias")

    val sources: Seq[(Metric, Option[String])] =
      q.tables.flatMap(t => provider.catalog.resolve(t.regex, t.alias))
    val sourceMap: Map[String, Metric] =
      sources.map { case (m, a) => a.getOrElse(m.name) -> m }.toMap

    def checkAlias(p: SimpleProjection): Unit = p match {
      case Field(_, _, Some(t)) if !aliases.contains(t) =>
        throw new UnsupportedOperationException(
          s"Projection is using an invalid alias: $t - Table alias: [${aliases.mkString(", ")}]")
      case BinaryOp(l, r, _, _) => checkAlias(l); checkAlias(r)
      case _ => ()
    }

    def validateFn(m: Metric, fn: String): Unit = {
      val valid = Fn.forType(m.mtype)
      if (!valid.contains(fn))
        throw new UnsupportedOperationException(
          s"$fn is an invalid function for a ${m.mtype}. Valid options: [${valid.mkString(",")}]")
    }

    val bound: Seq[SimpleProjection] = q.projections.flatMap {
      case AllFields(table) =>
        val matched = table match {
          case Some(t) => Seq(t -> sourceMap(t))
          case None    => sources.map { case (m, a) => a.getOrElse(m.name) -> m }
        }
        matched.flatMap { case (tid, m) =>
          Fn.forType(m.mtype).map(fn => Field(fn, None, Some(tid)))
        }
      case f @ Field(fn, alias, table) =>
        checkAlias(f)
        val matched = table match {
          case Some(t) => Seq(t -> sourceMap(t))
          case None    => sources.map { case (m, a) => a.getOrElse(m.name) -> m }
        }
        matched.map { case (tid, m) => validateFn(m, fn); Field(fn, alias, Some(tid)) }
      case c: Constant => Seq(c)
      case op @ BinaryOp(l, r, _, _) =>
        checkAlias(op)
        def bindOperand(p: SimpleProjection): SimpleProjection = p match {
          case Field(fn, a, Some(t)) =>
            val m = sourceMap.getOrElse(t, throw new UnsupportedOperationException(
              s"Projection is using an invalid alias: $t - Table alias: [${aliases.mkString(", ")}]"))
            validateFn(m, fn); Field(fn, a, Some(t))
          case other => other
        }
        Seq(op.copy(left = bindOperand(l), right = bindOperand(r)))
    }
    (bound, sourceMap)
  }

  // ---- execution -------------------------------------------------------

  /** Evaluates a select on the driver: one bounded Spark read per
    * source, then the grid, fill, null drop, binary-op zip, scale and
    * order in plain Scala over the few hundred summary rows each read
    * returns (reference: InfluxQueryResolver.scala:135-224). */
  private def executeSelect(spark: SparkSession, q: Query): Seq[SeriesResult] = {
    val (from, to) = buildSlice(q.filters)
    val windowMs = adjustResolution(from, to, q.groupBy)
    val gridFrom = align(from, windowMs, floor = false)
    val gridTo = align(to, windowMs, floor = true)
    val (projections, sourceMap) = bind(q)
    def grid: Seq[Long] = gridFrom to gridTo by windowMs
    def onGrid(t: Long) = t >= gridFrom && t <= gridTo && (t - gridFrom) % windowMs == 0
    def fields(p: SimpleProjection): Seq[Field] = p match {
      case f: Field             => Seq(f)
      case BinaryOp(l, r, _, _) => fields(l) ++ fields(r)
      case _: Constant          => Nil
    }
    def valueCol(fn: String): Column = fn match {
      // counts-per-minute from the actual window (reference:
      // model/HistogramSummary.scala:92-101)
      case "cpm" => col("count") / lit(windowMs.toDouble / 60000.0)
      case other => col(other).cast("double")
    }

    // one read per referenced source, of only the columns its fields use
    // (reference reads each source once: InfluxQueryResolver.scala:135-142).
    // A limit rides the time order as one top-k job; an unlimited read
    // is collected unsorted, since a global sort would add a sampling job
    val cap = math.min(q.limit, maxSummariesPerSource)
    val reads: Map[String, (Seq[String], Array[Row])] =
      projections.flatMap(fields).groupBy(_.table.get).map { case (tid, fs) =>
        val fns = fs.map(_.name).distinct
        val base = provider.summaries(sourceMap(tid), windowMs, from, to)
          .where(col("bucket_start").between(from, to))
          .select(col("bucket_start") +: fns.map(fn => valueCol(fn).as(fn)): _*)
        val time = if (q.orderAsc) col("bucket_start").asc else col("bucket_start").desc
        tid -> (fns, if (cap == Int.MaxValue) base.collect() else base.orderBy(time).limit(cap).collect())
      }

    /** (time, value) points of one simple projection over the grid. */
    def series(p: SimpleProjection): Seq[(Long, Double)] = p match {
      case Field(fn, _, tid) =>
        val (fns, rows) = reads(tid.get)
        val i = fns.indexOf(fn) + 1
        val pts = rows.toSeq.collect {
          case r if onGrid(r.getLong(0)) => r.getLong(0) -> Option(r.get(i)).map(_.asInstanceOf[Double])
        }
        q.fill match {
          case None => pts.collect { case (t, Some(v)) => t -> v }
          case Some(f) =>
            // the grid left-joined with the read, nulls filled
            val byTime = pts.groupBy(_._1)
            grid.flatMap(t => byTime.get(t).fold(Seq(t -> f))(_.map(pt => t -> pt._2.getOrElse(f))))
        }
      case Constant(v, _) => grid.map(_ -> v)
      case BinaryOp(l, r, op, _) =>
        // timestamp-equi inner join (zip) — reference:
        // InfluxQueryResolver.scala:203-208
        val right = series(r).groupBy(_._1)
        for ((t, a) <- series(l); (_, b) <- right.getOrElse(t, Nil)) yield t -> (op match {
          case "+" => a + b
          case "-" => a - b
          case "*" => a * b
          case "/" =>
            // divide-by-zero fails the query (reference: InfluxAst.scala:86-95)
            if (b == 0.0) throw new ArithmeticException("Could not divide by zero") else a / b
        })
    }

    // scale + round to 4 dp HALF_UP always applies, as Spark's round(x, 4)
    // does it: NaN and ±Inf pass through (reference:
    // InfluxQueryResolver.scala:214-224)
    def round4(d: Double): Double = if (d.isNaN || d.isInfinite) d
      else java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    // deterministic series order (reference: InfluxQueryResolver.scala:155)
    projections.sortBy(_.seriesId).map { p =>
      val scaled = series(p).map { case (t, v) => t -> round4(v * q.scale.getOrElse(1.0)) }
      val (label, metricName) = p match {
        case Field(fn, alias, tid) => (alias.getOrElse(fn), tid.get)
        case c: Constant           => (c.alias.getOrElse(""), "")
        case o: BinaryOp           => (o.alias, "")
      }
      SeriesResult(p.seriesId, label, metricName,
        if (q.orderAsc) scaled.sortBy(_._1) else scaled.sortBy(_._1)(Ordering[Long].reverse))
    }
  }
}
