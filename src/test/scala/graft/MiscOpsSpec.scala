package graft

import java.nio.file.Files
import graft.ops.Skew
import graft.sketch.{Hdr, HdrAggregator}
import graft.rollup.RollupJob
import graft.sources.TierStore
import org.apache.spark.sql.functions._

class MiscOpsSpec extends SparkSpec {

  test("Checkpoints.spread: fans out small scan-rooted frames by key, " +
      "identity on checkpoint-rooted frames and when disabled (r15)") {
    import graft.ops.Checkpoints
    val par = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, sf)
    // scan-rooted small frame → repartitioned to session parallelism,
    // hash-partitioned by the key (downstream per-id aggregates stay
    // one-partial-per-key)
    val s = Checkpoints.spread(docs.select(col("doc_id"), col("text")), col("doc_id"))
    assert(s.rdd.getNumPartitions == par)
    assert(s.queryExecution.analyzed.exists {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.partitionExpressions.nonEmpty
      case _ => false
    }, "keyed spread must hash-partition, not round-robin")
    // checkpoint-rooted frame → untouched (stage pipelines keep the
    // partitioning they laid out)
    val ck = docs.limit(50).localCheckpoint()
    assert(Checkpoints.spread(ck.select(col("doc_id")), col("doc_id"))
      .queryExecution.analyzed.collect {
        case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => 1
      }.isEmpty)
    // measurement lever
    spark.conf.set(Checkpoints.SpreadKey, "false")
    try assert(Checkpoints.spread(docs, col("doc_id")) eq docs)
    finally spark.conf.unset(Checkpoints.SpreadKey)
    // spread results are value-identical (the d_jaccard_pairs shape)
    val a = graft.ops.Dedup.jaccardPairs(docs, 3, 0.5)
      .orderBy("id_a", "id_b").collect().toSeq
    spark.conf.set(Checkpoints.SpreadKey, "false")
    val b = try graft.ops.Dedup.jaccardPairs(docs, 3, 0.5)
      .orderBy("id_a", "id_b").collect().toSeq
    finally spark.conf.unset(Checkpoints.SpreadKey)
    assert(a == b)
  }

  test("typed HdrAggregator matches the Catalyst aggregate") {
    import spark.implicits._
    val values = Seq(5L, 9L, 13L, 22603L, 150L, 150L, 7L)
    val typed = values.toDS().groupByKey(_ => 0)
      .agg(HdrAggregator.sketch.toColumn).collect()(0)._2
    graft.functions.ensureRegistered(spark)
    val untyped = values.toDF("v").agg(graft.functions.hdr_sketch(col("v")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(typed, untyped))
    val h = Hdr.deserialize(typed)
    assert(h.totalCount == 7 && h.min == 5 && h.max == 22603)
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey").as("k"), col("l_quantity"))
    val o = Tables.orders(spark, sf).select(col("o_orderkey").as("k"), col("o_totalprice"))
    val plain = li.join(o, "k").agg(count(lit(1)), sum("l_quantity").cast("decimal(20,2)"))
      .collect()(0)
    val salted = Skew.saltedJoin(li, o, "k", salt = 8)
      .agg(count(lit(1)), sum("l_quantity").cast("decimal(20,2)")).collect()(0)
    assert(plain == salted)
    val hh = Skew.heavyHitters(li, "k", 3).collect()
    assert(hh.length == 3 && hh(0).getLong(1) >= hh(2).getLong(1))
  }

  test("batch RollupJob materializes coherent tier and summary tables") {
    val out = Files.createTempDirectory("graft_rollupjob").toString
    RollupJob.run(spark, sf, out)
    val store = new TierStore(spark, out)
    // 1h summaries from the job == direct cascade in memory (view_gauge
    // is the job's extra gauge-typed metric — present, compared apart)
    assert(store.readAll("hist_summary", 3600000L)
      .where(col("metric") === "view_gauge").count() > 0)
    val fromJob = store.readAll("hist_summary", 3600000L)
      .where(col("metric") =!= "view_gauge")
      .orderBy("metric", "bucket_start").collect().toSeq
    val meas = graft.rollup.Rollup.eventsAsMeasurements(Tables.events(spark, sf))
    val direct = graft.rollup.Rollup.histogramSummaries(RollupSpec.plainCascade(
      graft.rollup.Rollup.Histogram, graft.rollup.Rollup.rawTier(
        graft.rollup.Rollup.Histogram, meas))(3600000L))
      .orderBy("metric", "bucket_start").collect().toSeq
    assert(fromJob == direct)
    // counter tiers conserve total count
    val total = store.readAll("counter", 3600000L).agg(sum("count")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("as-of join matches a window-function oracle") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts_ms"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"), col("event_id").as("purchase_id"))
    val got = graft.ops.AsOf.asofJoin(errors, purchases, "user_id", "ts_ms", Seq("purchase_id"))
      .where(col("ts_ms_asof").isNotNull)
      .select("event_id", "ts_ms_asof")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle: per error, max purchase ts <= error ts via plain join+group
    val expect = errors.as("e").join(purchases.as("p"),
        col("e.user_id") === col("p.user_id") && col("e.ts_ms") >= col("p.ts_ms"))
      .groupBy(col("e.event_id")).agg(max(col("p.ts_ms")).as("pts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("hllUsers invariant holds at every local SF") {
    // the driver hash-compares within_5pct against a literal TRUE, so
    // pin it here at each scale the driver/bench actually runs
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val rows = graft.queries.PipelineQueries.hllUsers(spark, dir).collect()
      assert(rows.nonEmpty, dir)
      assert(rows.forall(_.getBoolean(2)), s"HLL estimate drifted >5% in $dir")
    }
  }

  test("version payload") {
    assert(Version.json.contains("graft") && Version.json.contains("0.1.0"))
  }

  test("Bench.SubsetE is covered by the live query surface, and the guard trips on drift") {
    assert(Bench.SubsetE.size == 43)
    // positive: today's surface must carry every recorded baseline name
    Bench.requireSubsetECovered(SparkEntry.queries.keySet)
    // negative: a renamed/dropped baseline query must fail the bench
    // loudly, naming the missing query
    val broken = SparkEntry.queries.keySet - "q1_pricing_summary"
    val e = intercept[IllegalArgumentException] {
      Bench.requireSubsetECovered(broken)
    }
    assert(e.getMessage.contains("q1_pricing_summary"))
  }
}
