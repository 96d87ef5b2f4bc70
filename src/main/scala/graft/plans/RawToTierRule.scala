package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

import graft.sketch.HdrSketchAgg

/** The SURVEY §4 "optional future polish" Catalyst rule, made real:
  * rewrite a histogram-merge AGGREGATE over a finer tier to a READ of
  * the materialized coarser tier when the cascade already holds it.
  *
  * The reference answers `group by time(1h)` from its 1h summary store
  * rather than re-merging raw buckets (its planner routes by
  * resolution — InfluxQueryParser + the per-resolution SummaryStore
  * reads); this engine's [[graft.planner.InfluxPlanner]] does the same
  * routing ABOVE Catalyst for its own query language. The rule extends
  * that routing to everyone else: an ad-hoc DataFrame/SQL user who
  * writes the re-bucketing aggregate themselves —
  *
  * {{{
  *   spark.read.parquet(s"$base/tier_raw")        // or tier_<finer>
  *     .groupBy(col("metric"),
  *       (col("bucket_start") - pmod(col("bucket_start"), lit(3600000L)))
  *         .cast("long").as("bucket_start"))
  *     .agg(hdr_merge(col("sketch")).as("sketch"))
  * }}}
  *
  * — gets the plan a tier-aware engine would pick: a partition-pruned
  * scan of `tier_3600000` (one row per metric-hour) instead of merging
  * 720× the rows. Sketch merge is associative and the cascade
  * materializes exactly this aggregate ([[graft.rollup.Rollup
  * .tierUp]]), so the rewrite is result-identical whenever
  * the target tier is CURRENT for the source's closed buckets.
  *
  * OPT-IN: set `spark.graft.tiers.autoRoute` to the [[graft.sources
  * .TierStore]] base dir. Freshness is the caller's trade (the same
  * one the reference makes): the cascade rolls closed buckets behind a
  * cursor, so between cascade runs the raw tier can hold buckets the
  * target tier does not — a deployment that runs the cascade on its
  * tick (the reference's shape) serves identical results, a caller
  * mid-ingest must not enable the route.
  *
  * COUNTER tiers route the same way (`counter_tier_raw`/`counter_tier_<f>`
  * with `sum(count)` — integer addition is associative exactly like
  * sketch merge, and the counter cascade materializes that aggregate).
  *
  * SUMMARY-SHAPE aggregates route too (r15 — the reference's actual
  * hot read path is "p99 per hour from the summary store",
  * InfluxQueryResolver.scala:89-118 → SummaryStore.scala:108-117): a
  * value column may be ANY deterministic scalar tree over the merge
  * aggregate — `hdr_summary(hdr_merge(sketch))`, a percentile field
  * `hdr_summary(hdr_merge(sketch)).p99`, arithmetic over
  * `sum(count)` — and the rewrite substitutes the materialized tier's
  * value column for the aggregate inside the tree, so the scalar runs
  * per tier row (one per metric×bucket) instead of after a raw merge.
  *
  * Both tier NAMINGS route: the rule's documented ad-hoc convention
  * (`tier_raw`/`tier_<f>`, `counter_tier_raw`/`counter_tier_<f>`) and
  * the engine's own [[graft.sources.TierStore]] layout as written by
  * [[graft.rollup.RollupJob]] (`hist_<f>` with raw = `hist_5000`,
  * `counter_<f>`) — so queries over a real cascade output dir route
  * without renaming anything.
  *
  * Match conditions (all must hold, otherwise the plan is untouched):
  *  - single-path parquet source under the configured base dir, in
  *    either naming above, f dividing the target duration;
  *  - grouping = (metric, bucketOf(bucket_start, L)) — the
  *    `ts − pmod(ts, L)` shape [[graft.rollup.Rollup.bucketOf]] emits,
  *    cast-tolerant;
  *  - every value column is a deterministic scalar tree whose ONLY
  *    aggregates are `hdr_merge(sketch)` / `sum(count)` for the
  *    matching kind (no DISTINCT/FILTER) and whose only attribute
  *    references sit inside those aggregates;
  *  - the target tier dir (same naming family, `_<L>`) exists, and is
  *    not visibly STALE: when both dirs carry `bucket_date=`
  *    partitions, a source day newer than the target's newest day
  *    vetoes the rewrite (a metadata-only listing — within-day lag
  *    remains the caller's documented trade);
  *  - any Filter between aggregate and scan splits into conjuncts the
  *    tier can answer: predicates on `metric` alone, or
  *    `bucket_start >= c` / `bucket_start < c` with c a multiple of L
  *    (alignment makes filter-then-merge ≡ merge-then-filter; an
  *    unaligned or unrecognized predicate vetoes the rewrite).
  *
  * Output attributes keep the aggregate's names, exprIds, and order,
  * so the rewritten subtree drops in under any parent plan.
  */
class RawToTierRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import RawToTierRule._

  override def apply(plan: LogicalPlan): LogicalPlan =
    spark.conf.getOption(ConfKey) match {
      case Some(base) if base.trim.nonEmpty =>
        plan.transformUp {
          // base is normalized the same way as the relation's rootPath
          // (scheme-tolerant), so file:/, bare-local, and remote
          // (hdfs://, s3a://) bases all match their scans
          case agg: Aggregate => rewrite(agg, normalize(base)).getOrElse(agg)
        }
      case _ => plan
    }

  private def rewrite(agg: Aggregate, base: String): Option[LogicalPlan] = {
    // --- source: a single-rootPath parquet relation under `base`,
    // optionally beneath Projects and one Filter. Projects may carry
    // ALIASES (the optimizer's PullOutGroupingExpressions hoists the
    // bucket expression into `_groupingexpression AS ...` below the
    // Aggregate) — `subst` maps those alias attributes back to their
    // defining expressions so matching sees the original shape.
    val (src, residual, subst) = unwrap(agg.child)
    def resolve(e: Expression): Expression = e.transform {
      case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
    }
    val rel = src match { case lr: LogicalRelation => lr; case _ => return None }
    val path = rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.toSeq match {
        case Seq(single) => normalize(single.toString)
        case _ => return None
      }
      case _ => return None
    }
    // histogram tiers merge sketches; counter tiers add counts — the
    // same associativity argument, so both kinds route (the reference
    // keeps per-resolution summary stores for both bucket types).
    // `family` is the dir-naming family (reused for the target dir);
    // `isHist` picks the aggregate-function match. A non-numeric
    // suffix (e.g. hist_summary_<L> — not a mergeable tier) falls out
    // of toLongOption and vetoes.
    val (family, isHist, sourceDur) = path match {
      case p if p == s"$base/tier_raw" => ("tier", true, RawMs)
      case p if p == s"$base/counter_tier_raw" => ("counter_tier", false, RawMs)
      case p if p.startsWith(s"$base/counter_tier_") =>
        ("counter_tier", false,
          p.stripPrefix(s"$base/counter_tier_").toLongOption.getOrElse(return None))
      case p if p.startsWith(s"$base/tier_") =>
        ("tier", true,
          p.stripPrefix(s"$base/tier_").toLongOption.getOrElse(return None))
      // the engine's own TierStore layout (RollupJob output): raw is
      // hist_5000 / counter_5000 — the generic numeric parse covers it
      case p if p.startsWith(s"$base/hist_") =>
        ("hist", true,
          p.stripPrefix(s"$base/hist_").toLongOption.getOrElse(return None))
      case p if p.startsWith(s"$base/counter_") =>
        ("counter", false,
          p.stripPrefix(s"$base/counter_").toLongOption.getOrElse(return None))
      case _ => return None
    }
    val valueName = if (isHist) "sketch" else "count"
    def attrOf(name: String): Option[AttributeReference] =
      rel.output.collectFirst { case a: AttributeReference if a.name == name => a }
    val (metricAttr, bucketAttr, valueAttr) =
      (attrOf("metric"), attrOf("bucket_start"), attrOf(valueName)) match {
        case (Some(m), Some(b), Some(s)) => (m, b, s)
        case _ => return None
      }

    // --- grouping: exactly (metric, ts − pmod(ts, L)); L a multiple
    // of the source resolution (cascade associativity needs f | L)
    val grouping = agg.groupingExpressions.map(e => resolve(stripAlias(e)))
    if (grouping.size != 2) return None
    if (!grouping.exists(_.semanticEquals(metricAttr))) return None
    val targetDur = grouping.collectFirst(Function.unlift(bucketDuration(_, bucketAttr)))
      .getOrElse(return None)
    if (targetDur <= sourceDur || targetDur % sourceDur != 0) return None

    // --- output: metric, Alias(bucket), and one or more VALUE columns
    // in any order, nothing else. A value column is any deterministic
    // scalar tree whose only aggregates are the matching merge
    // (hdr_merge(sketch) / sum(count)) and whose only attribute refs
    // sit inside those aggregates — bare `hdr_merge(sketch)`,
    // `hdr_summary(hdr_merge(sketch))`, a percentile field projection,
    // arithmetic over `sum(count)`. Each rewrites by substituting the
    // tier's value column for the aggregate node (the tier row IS the
    // group's merge result), so the scalar runs per tier row.
    def matchesValueAgg(ae: AggregateExpression): Boolean =
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case h: HdrSketchAgg if isHist =>
          h.fromSketches && resolve(h.child).semanticEquals(valueAttr)
        case sm: Sum if !isHist =>
          resolve(sm.child).semanticEquals(valueAttr)
        case _ => false
      })
    def isValueTree(e: Expression): Boolean = {
      val aggs = e.collect { case ae: AggregateExpression => ae }
      aggs.nonEmpty && e.deterministic && aggs.forall(matchesValueAgg) &&
        refsOutsideAggs(e).isEmpty
    }
    var metricOut: Option[NamedExpression] = None
    var bucketOut: Option[Alias] = None
    val valueOuts = scala.collection.mutable.ArrayBuffer.empty[Alias]
    agg.aggregateExpressions.foreach {
      case a: AttributeReference if a.semanticEquals(metricAttr) =>
        metricOut = Some(a)
      case al @ Alias(e, _) if bucketDuration(resolve(e), bucketAttr).contains(targetDur) =>
        bucketOut = Some(al)
      case al @ Alias(e, _) if isValueTree(resolve(e)) =>
        valueOuts += al
      case _ => return None
    }
    val (mOut, bOut) = (metricOut, bucketOut) match {
      case (Some(m), Some(b)) if valueOuts.nonEmpty => (m, b)
      case _ => return None
    }

    // --- the target tier must be materialized — probed through the
    // path's own Hadoop FileSystem, not java.io.File (a remote base
    // would otherwise leave the rule silently inert on exactly the
    // deployments the routing targets)
    val tierDir = s"$base/${family}_$targetDur"
    val exists = scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(tierDir)
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p).isDirectory
    }.getOrElse(false)
    if (!exists) return None
    // --- staleness veto (day granularity, metadata-only): when both
    // dirs are bucket_date-partitioned, a source day NEWER than the
    // target's newest day means the cascade has visibly lagged —
    // routing would silently drop the un-rolled-up buckets. ISO dates
    // compare lexicographically. Within-day lag stays the caller's
    // documented trade (the reference's cascade tick is 30 s).
    (maxBucketDate(path), maxBucketDate(tierDir)) match {
      case (Some(srcDay), Some(tgtDay)) if srcDay > tgtDay => return None
      case _ => ()
    }

    // --- residual filters: every conjunct must be tier-answerable.
    // Conjuncts are RESOLVED through the Project-alias substitution
    // first (a filter above the pulled-out-grouping Project references
    // alias attributes, not relation columns).
    val conjuncts = residual.flatMap(splitConjuncts).map(resolve)
    if (!conjuncts.forall(answerable(_, metricAttr, bucketAttr, targetDur)))
      return None

    // --- build the tier read; remap (metric, bucket_start) attrs in
    // the carried filter, and re-alias outputs onto the ORIGINAL
    // names/exprIds so the subtree drops in under any parent
    val tierPlan = spark.read.parquet(tierDir).queryExecution.analyzed
    def tierAttr(name: String): Option[AttributeReference] =
      tierPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }
    val (tm, tb, ts) =
      (tierAttr("metric"), tierAttr("bucket_start"), tierAttr(valueName)) match {
        case (Some(m), Some(b), Some(s)) => (m, b, s)
        case _ => return None
      }
    val remap: Map[ExprId, AttributeReference] =
      Map(metricAttr.exprId -> tm, bucketAttr.exprId -> tb)
    val carried = conjuncts.map(_.transform {
      case a: AttributeReference if remap.contains(a.exprId) => remap(a.exprId)
    })
    val filtered: LogicalPlan =
      if (carried.isEmpty) tierPlan
      else Filter(carried.reduce(And), tierPlan)
    val out = agg.aggregateExpressions.map { ne =>
      ne match {
        case a: AttributeReference if a.semanticEquals(metricAttr) =>
          Alias(tm, mOut.name)(exprId = a.exprId)
        case al: Alias if al eq bOut =>
          Alias(tb, al.name)(exprId = al.exprId)
        case al: Alias if valueOuts.exists(_ eq al) =>
          // substitute the tier's merged value for every aggregate node
          // in the scalar tree; all refs were verified to sit inside
          // those aggregates, so the rebuilt tree reads only tier attrs
          val rebuilt = resolve(al.child).transform {
            case _: AggregateExpression => ts
          }
          Alias(rebuilt, al.name)(exprId = al.exprId)
        case _ => return None // unreachable given the matching above
      }
    }
    logInfo(s"graft raw→tier rewrite: $path (${sourceDur} ms buckets) " +
      s"aggregate at $targetDur ms → $tierDir")
    Some(Project(out, filtered))
  }

  /** Strip Projects (collecting alias definitions into a substitution
    * map, innermost first) and collect EVERY Filter condition along
    * the way — stacked .where() calls and filter-above-project shapes
    * both route; the caller resolves and screens each conjunct. */
  private def unwrap(p: LogicalPlan)
      : (LogicalPlan, Seq[Expression], Map[ExprId, Expression]) = p match {
    case Project(pl, child)
        if pl.forall(e => e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
      val (src, filts, subst) = unwrap(child)
      val withAliases = subst ++ pl.collect { case a: Alias =>
        a.exprId -> a.child.transform {
          case ar: AttributeReference if subst.contains(ar.exprId) => subst(ar.exprId)
        }
      }
      (src, filts, withAliases)
    case Filter(cond, child) =>
      val (src, filts, subst) = unwrap(child)
      (src, filts :+ cond, subst)
    case other => (other, Nil, Map.empty)
  }

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(inner, _) => inner
    case other => other
  }

  /** Attribute references sitting ABOVE aggregate nodes in the tree —
    * a value tree may reference columns only through its aggregates
    * (those nodes are substituted wholesale by the rewrite). */
  private def refsOutsideAggs(e: Expression): Seq[AttributeReference] = e match {
    case _: AggregateExpression => Nil
    case a: AttributeReference => Seq(a)
    case other => other.children.flatMap(refsOutsideAggs)
  }

  /** Newest `bucket_date=` partition name under `dir` via a
    * metadata-only FileSystem listing; None when the dir isn't
    * date-partitioned (flat layouts skip the staleness check). */
  private def maxBucketDate(dir: String): Option[String] = scala.util.Try {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("bucket_date=")).maxOption
  }.toOption.flatten

  /** `ts − pmod(ts, L)` (cast-tolerant) → Some(L). */
  private def bucketDuration(e: Expression, ts: AttributeReference): Option[Long] =
    e match {
      case c: Cast if c.dataType == LongType => bucketDuration(c.child, ts)
      case Subtract(a: AttributeReference, Pmod(b: AttributeReference, lit, _), _)
          if a.exprId == ts.exprId && b.exprId == ts.exprId =>
        literalLong(lit)
      case _ => None
    }

  private def literalLong(e: Expression): Option[Long] = e match {
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case c: Cast => literalLong(c.child)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** A conjunct the tier answers identically: metric-only predicates
    * (the tier holds the same metric values), or L-aligned half-open
    * bucket ranges (aligned bounds make filter∘merge ≡ merge∘filter). */
  private def answerable(e: Expression, metric: AttributeReference,
                         bucket: AttributeReference, dur: Long): Boolean = e match {
    case GreaterThanOrEqual(a: AttributeReference, lit) if a.exprId == bucket.exprId =>
      literalLong(lit).exists(_ % dur == 0)
    case LessThan(a: AttributeReference, lit) if a.exprId == bucket.exprId =>
      literalLong(lit).exists(_ % dur == 0)
    // the optimizer's inferred null guard: a NULL bucket belongs to no
    // tier bucket on either side, and tier bucket_start is never null
    case IsNotNull(a: AttributeReference) if a.exprId == bucket.exprId => true
    case _ =>
      e.references.nonEmpty && e.references.forall(_.exprId == metric.exprId) &&
        e.deterministic
  }
}

object RawToTierRule {
  /** Session conf holding the TierStore base dir; unset → rule is off. */
  val ConfKey = "spark.graft.tiers.autoRoute"

  /** The raw tier's 5 s pre-aggregation resolution
    * ([[graft.rollup.Rollup.RawGroupMs]]). */
  val RawMs: Long = graft.rollup.Rollup.RawGroupMs

  private def stripTrailingSlash(s: String): String =
    if (s.endsWith("/")) s.dropRight(1) else s

  /** Canonical spelling for scan/base comparison, via Hadoop Path's own
    * URI parsing (NOT string prefix stripping — `file:///x` would
    * otherwise normalize to `///x` while the relation rootPath
    * stringifies as `file:/x`, leaving the rule silently inert for
    * that common spelling): local paths (`/x`, `file:/x`, `file:///x`)
    * all become `/x`; remote URIs keep scheme + authority, so bases on
    * different filesystems never collide. */
  private[plans] def normalize(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val path = stripTrailingSlash(u.getPath)
    if (u.getScheme == null || u.getScheme == "file") path
    else s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}$path"
  }
}
