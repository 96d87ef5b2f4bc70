package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{hdr_merge, hdr_summary}
import graft.plans.RawToTierRule
import graft.rollup.Rollup

/** [[graft.plans.RawToTierRule]]: the hand-written hdr_merge
  * re-bucketing aggregate over a finer tier must REWRITE to a read of
  * the materialized coarser tier — plan-asserted — with bit-identical
  * results, and must NOT fire when the conf is unset, the target tier
  * is missing, or a residual predicate isn't tier-answerable. */
class TierRouteSpec extends SparkSpec {

  private val Hour = 3600000L

  private lazy val base: String = {
    val dir = Files.createTempDirectory("graft_tierroute").toString
    // raw 5 s tier from synthetic measurements: 3 metrics × 3 hours of
    // sparse raw buckets, then the cascade's own tierUp materializes 1h
    import spark.implicits._
    val meas = (0 until 3).flatMap { m =>
      (0 until 180).map { i =>
        (s"met_$m", i * 60000L + (m * Hour) % (3 * Hour), (i % 50 + 1).toLong)
      }
    }.toDF("metric", "ts_ms", "value")
    val raw = Rollup.rawTier(Rollup.Histogram, meas)
      .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
    raw.write.partitionBy("bucket_date").parquet(s"$dir/tier_raw")
    val hour = Rollup.tierUp(Rollup.Histogram, spark.read.parquet(s"$dir/tier_raw"), Hour)
      .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
    hour.write.partitionBy("bucket_date").parquet(s"$dir/tier_$Hour")
    dir
  }

  /** The user-written re-bucketing aggregate the rule targets. */
  private def rebucket(src: DataFrame): DataFrame =
    src.groupBy(col("metric"),
        Rollup.bucketOf(col("bucket_start"), Hour).as("bucket_start"))
      .agg(hdr_merge(col("sketch")).as("sketch"))

  /** Collect as comparable (metric, bucket, summary-struct) rows. */
  private def snap(df: DataFrame): Seq[String] =
    df.select(col("metric"), col("bucket_start"),
        hdr_summary(col("sketch")).cast("string").as("s"))
      .collect().map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
      .sorted.toSeq

  private def withRuleAt[T](baseDir: String)(body: => T): T = {
    val rule = new RawToTierRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    spark.conf.set(RawToTierRule.ConfKey, baseDir)
    try body finally {
      spark.conf.unset(RawToTierRule.ConfKey)
      spark.experimental.extraOptimizations = before
    }
  }

  private def withRule[T](body: => T): T = withRuleAt(base)(body)

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** Root paths of every parquet relation in the optimized plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  test("rewrites the hdr_merge re-bucketing aggregate to the materialized tier read") {
    graft.functions.ensureRegistered(spark)
    val q = rebucket(spark.read.parquet(s"$base/tier_raw"))
    val expected = snap(q) // conf off: the real aggregate runs
    assert(optimized(q).contains("Aggregate"), "control: aggregate present unrouted")
    withRule {
      val routed = rebucket(spark.read.parquet(s"$base/tier_raw"))
      val plan = optimized(routed)
      assert(!plan.contains("Aggregate"), s"aggregate survived the rewrite:\n$plan")
      assert(scanPaths(routed).exists(_.endsWith(s"tier_$Hour")),
        s"tier read missing: scans ${scanPaths(routed)}")
      assert(snap(routed) == expected, "routed results diverged from the aggregate")
      // output schema is drop-in: same names, same order
      assert(routed.columns.toSeq == Seq("metric", "bucket_start", "sketch"))
    }
  }

  test("carries metric and L-aligned bucket predicates onto the tier read") {
    graft.functions.ensureRegistered(spark)
    def q(): DataFrame = rebucket(
      spark.read.parquet(s"$base/tier_raw")
        .where(col("metric") === "met_1" && col("bucket_start") >= lit(Hour)))
    val expected = snap(q())
    withRule {
      val routed = q()
      val plan = optimized(routed)
      assert(!plan.contains("Aggregate"), s"aggregate survived:\n$plan")
      assert(scanPaths(routed).exists(_.endsWith(s"tier_$Hour")))
      assert(plan.contains("Filter"), s"carried predicate missing:\n$plan")
      assert(snap(routed) == expected)
    }
  }

  test("counter tiers route too: sum(count) re-bucketing reads counter_tier_<L>") {
    import spark.implicits._
    val meas = (0 until 2).flatMap { m =>
      (0 until 240).map(i => (s"ctr_$m", i * 30000L, (i % 7 + 1).toLong))
    }.toDF("metric", "ts_ms", "value")
    val raw = Rollup.rawTier(Rollup.Counter, meas)
      .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
    raw.write.partitionBy("bucket_date").parquet(s"$base/counter_tier_raw")
    val hour = spark.read.parquet(s"$base/counter_tier_raw")
      .groupBy(col("metric"), Rollup.bucketOf(col("bucket_start"), Hour).as("bucket_start"))
      .agg(sum(col("count")).as("count"))
      .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
    hour.write.partitionBy("bucket_date").parquet(s"$base/counter_tier_$Hour")
    def q(): DataFrame = spark.read.parquet(s"$base/counter_tier_raw")
      .groupBy(col("metric"), Rollup.bucketOf(col("bucket_start"), Hour).as("bucket_start"))
      .agg(sum(col("count")).as("count"))
    val expected = q().collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    withRule {
      val routed = q()
      val plan = optimized(routed)
      assert(!plan.contains("Aggregate"), s"counter aggregate survived:\n$plan")
      assert(scanPaths(routed).exists(_.endsWith(s"counter_tier_$Hour")),
        s"counter tier read missing: ${scanPaths(routed)}")
      val got = routed.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == expected, "counter route diverged from the aggregate")
    }
  }

  test("summary-shape aggregates route: hdr_summary(hdr_merge) and field projections") {
    graft.functions.ensureRegistered(spark)
    // the reference's hot read shape — summary fields per hour — written
    // ad hoc over the raw tier
    def q(): DataFrame = spark.read.parquet(s"$base/tier_raw")
      .groupBy(col("metric"), Rollup.bucketOf(col("bucket_start"), Hour).as("bucket_start"))
      .agg(hdr_summary(hdr_merge(col("sketch"))).as("summary"))
    def qField(): DataFrame = spark.read.parquet(s"$base/tier_raw")
      .groupBy(col("metric"), Rollup.bucketOf(col("bucket_start"), Hour).as("bucket_start"))
      .agg(
        hdr_summary(hdr_merge(col("sketch"))).getField("p99").as("p99"),
        hdr_summary(hdr_merge(col("sketch"))).getField("count").as("n"))
    def snapS(df: DataFrame): Seq[String] =
      df.selectExpr("*").collect().map(_.mkString("|")).sorted.toSeq
    val expected = snapS(q())
    val expectedField = snapS(qField())
    withRule {
      val routed = q()
      val plan = optimized(routed)
      assert(!plan.contains("Aggregate"), s"summary aggregate survived:\n$plan")
      assert(scanPaths(routed).exists(_.endsWith(s"tier_$Hour")),
        s"tier read missing: ${scanPaths(routed)}")
      assert(plan.contains("hdr_summary"), s"scalar summary missing from routed plan:\n$plan")
      assert(snapS(routed) == expected, "routed summary diverged from the aggregate")
      assert(routed.columns.toSeq == Seq("metric", "bucket_start", "summary"))
      val routedField = qField()
      assert(!optimized(routedField).contains("Aggregate"))
      assert(snapS(routedField) == expectedField, "routed field projection diverged")
    }
  }

  test("the engine's TierStore naming routes: hist_5000 → hist_<L>, file:// base spelling") {
    graft.functions.ensureRegistered(spark)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tierroute_hist").toString
    val meas = (0 until 2).flatMap { m =>
      (0 until 120).map(i => (s"hm_$m", i * 60000L, (i % 31 + 1).toLong))
    }.toDF("metric", "ts_ms", "value")
    val raw = Rollup.rawTier(Rollup.Histogram, meas)
      .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
    raw.write.partitionBy("bucket_date").parquet(s"$dir/hist_5000")
    val hour = Rollup.tierUp(Rollup.Histogram, spark.read.parquet(s"$dir/hist_5000"), Hour)
      .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
    hour.write.partitionBy("bucket_date").parquet(s"$dir/hist_$Hour")
    def q(): DataFrame = rebucket(spark.read.parquet(s"$dir/hist_5000"))
    val expected = snap(q())
    // base configured with the file:/// spelling — the normalize path
    // the r14 string-prefix version silently failed on
    withRuleAt(s"file://$dir") {
      val routed = q()
      assert(!optimized(routed).contains("Aggregate"),
        s"hist-naming aggregate survived:\n${optimized(routed)}")
      assert(scanPaths(routed).exists(_.endsWith(s"hist_$Hour")),
        s"hist tier read missing: ${scanPaths(routed)}")
      assert(snap(routed) == expected)
    }
  }

  test("staleness veto: a source day newer than the target's newest day blocks the route") {
    graft.functions.ensureRegistered(spark)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tierroute_stale").toString
    val day = 86400000L
    def measOn(dayOfs: Long) = (0 until 60)
      .map(i => ("sm_0", dayOfs + i * 60000L, (i % 13 + 1).toLong))
      .toDF("metric", "ts_ms", "value")
    def writeRaw(df: DataFrame): Unit =
      Rollup.rawTier(Rollup.Histogram, df)
        .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
        .write.mode("append").partitionBy("bucket_date").parquet(s"$dir/tier_raw")
    def tierUpAll(): DataFrame =
      Rollup.tierUp(Rollup.Histogram, spark.read.parquet(s"$dir/tier_raw"), Hour)
        .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
    // day 0 rolled up; then day 1 lands in raw with NO cascade run
    writeRaw(measOn(0L))
    tierUpAll().write.partitionBy("bucket_date").parquet(s"$dir/tier_$Hour")
    writeRaw(measOn(day))
    spark.catalog.refreshByPath(s"$dir/tier_raw")
    def q(): DataFrame = rebucket(spark.read.parquet(s"$dir/tier_raw"))
    withRuleAt(dir) {
      assert(optimized(q()).contains("Aggregate"),
        "stale target (missing day 1) must veto the rewrite")
    }
    // cascade catches up → the route opens and results agree
    graft.sources.TierStore.deleteTree(new java.io.File(s"$dir/tier_$Hour"))
    tierUpAll().write.partitionBy("bucket_date").parquet(s"$dir/tier_$Hour")
    spark.catalog.refreshByPath(s"$dir/tier_$Hour")
    val expected = snap(q())
    withRuleAt(dir) {
      val routed = q()
      assert(!optimized(routed).contains("Aggregate"),
        s"current target must route:\n${optimized(routed)}")
      assert(snap(routed) == expected)
    }
  }

  test("vetoes: conf unset, missing tier, unaligned or foreign predicates") {
    graft.functions.ensureRegistered(spark)
    // conf unset → untouched even with the rule installed
    val rule = new RawToTierRule(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    try {
      assert(optimized(rebucket(spark.read.parquet(s"$base/tier_raw")))
        .contains("Aggregate"))
    } finally spark.experimental.extraOptimizations = before
    withRule {
      // unaligned bucket bound → merge∘filter ≠ filter∘merge, no rewrite
      val unaligned = rebucket(spark.read.parquet(s"$base/tier_raw")
        .where(col("bucket_start") >= lit(Hour + 5000L)))
      assert(optimized(unaligned).contains("Aggregate"))
      // predicate on a column the tier can't answer per-row (sketch) →
      // no rewrite
      val foreign = rebucket(spark.read.parquet(s"$base/tier_raw")
        .where(length(col("sketch")) > 0))
      assert(optimized(foreign).contains("Aggregate"))
      // a target resolution the cascade never materialized → no rewrite
      val missing = spark.read.parquet(s"$base/tier_raw")
        .groupBy(col("metric"),
          Rollup.bucketOf(col("bucket_start"), 7200000L).as("bucket_start"))
        .agg(hdr_merge(col("sketch")).as("sketch"))
      assert(optimized(missing).contains("Aggregate"))
    }
  }
}
