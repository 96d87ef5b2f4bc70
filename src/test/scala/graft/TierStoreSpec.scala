package graft

import java.nio.file.Files
import graft.planner.{MetaStore, Metric}
import graft.rollup.Rollup
import graft.sources.TierStore
import org.apache.spark.sql.functions._

class TierStoreSpec extends SparkSpec {

  private val DAY = 86400000L

  test("tier store: date partitioning, pruned slice reads, retention drops") {
    val base = Files.createTempDirectory("graft_tiers").toString
    val store = new TierStore(spark, base)

    val meas = Rollup.eventsAsMeasurements(Tables.events(spark, sf))
    val raw = Rollup.rawTier(Rollup.Histogram, meas)
    store.append("hist", 5000L, raw)

    // partition dirs exist per day
    val dirs = new java.io.File(store.path("hist", 5000L)).listFiles()
      .filter(_.getName.startsWith("bucket_date=")).map(_.getName).sorted
    assert(dirs.length >= 25, s"expected ~30 day partitions, got ${dirs.length}")

    // slice read matches in-memory filter
    val f = 1704067200000L
    val t = f + 2 * DAY - 1
    val got = store.slice("hist", 5000L, f, t).count()
    val want = raw.where(col("bucket_start").between(f, t)).count()
    assert(got == want && got > 0)

    // partition pruning shows up in the physical plan
    val plan = store.slice("hist", 5000L, f, t).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket_date"))

    // retention: keep 5 days from the end of January
    val now = 1706659200000L // 2024-01-31
    val dropped = store.enforceRetention("hist", 5000L, ttlMs = 5 * DAY, nowMs = now)
    assert(dropped.nonEmpty)
    val remaining = new java.io.File(store.path("hist", 5000L)).listFiles()
      .count(_.getName.startsWith("bucket_date="))
    assert(remaining < dirs.length && remaining >= 5)
    // reads still work after drops
    assert(store.slice("hist", 5000L, now - 4 * DAY, now).count() >= 0)
  }

  test("bucket_date is the UTC day regardless of session time zone") {
    val base = Files.createTempDirectory("graft_tiers_tz").toString
    val store = new TierStore(spark, base)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // 2024-01-01 23:30 UTC = 2024-01-02 10:30 in Sydney — a session-TZ
      // derivation would put this bucket in the wrong day partition
      spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
      val lateUtc = 1704151800000L
      val rows = spark.range(1).select(
        org.apache.spark.sql.functions.lit("m").as("metric"),
        org.apache.spark.sql.functions.lit(lateUtc).as("bucket_start"),
        org.apache.spark.sql.functions.lit(1L).as("count"))
      store.append("tz", 5000L, rows)
      val dirs = new java.io.File(store.path("tz", 5000L)).listFiles()
        .filter(_.getName.startsWith("bucket_date=")).map(_.getName)
      assert(dirs.toSeq == Seq("bucket_date=2024-01-01"), dirs.mkString(","))
      // slice bounds use the same UTC derivation
      assert(store.slice("tz", 5000L, lateUtc - 1000, lateUtc + 1000).count() == 1)
      // retention cutoff (already UTC) agrees: a cutoff at 2024-01-02 UTC
      // drops the partition
      val dropped = store.enforceRetention("tz", 5000L, ttlMs = DAY,
        nowMs = lateUtc + DAY + 3600000L)
      assert(dropped == Seq("bucket_date=2024-01-01"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("flat legacy tier table migrates to date partitions on first append") {
    val base = Files.createTempDirectory("graft_tiers_mig").toString
    val store = new TierStore(spark, base)
    val p = store.path("hist", 5000L)
    // legacy layout: flat parquet files, no bucket_date
    val old = spark.range(2).selectExpr("'m' AS metric",
      "1704067200000 + id * 86400000 AS bucket_start", "id AS count")
    old.coalesce(1).write.parquet(p)
    assert(new java.io.File(p).listFiles().exists(f => f.isFile && f.getName.endsWith(".parquet")))
    // appending new rows triggers the in-place migration
    val fresh = spark.range(1).selectExpr("'m' AS metric",
      "1704240000000 AS bucket_start", "9 AS count")
    store.append("hist", 5000L, fresh)
    val names = new java.io.File(p).listFiles().map(_.getName)
    assert(!names.exists(_.endsWith(".parquet")), names.mkString(","))
    assert(names.count(_.startsWith("bucket_date=")) == 3)
    assert(store.readAll("hist", 5000L).count() == 3)
    assert(store.slice("hist", 5000L, 1704067200000L, 1704067200000L).count() == 1)
    // one schema per table: the INT append was up-cast to the legacy
    // files' BIGINT, so every file reads with the one sidecar schema
    assert(store.readAll("hist", 5000L).orderBy("bucket_start").collect()
      .map(_.getAs[Long]("count")).toSeq == Seq(0L, 1L, 9L))
    // a column that would not fit the stored type is refused, not recorded
    val wide = spark.range(1).selectExpr("'m' AS metric",
      "1704326400000 AS bucket_start", "CAST(9 AS DECIMAL(20,0)) AS count")
    val e = intercept[IllegalArgumentException](store.append("hist", 5000L, wide))
    assert(Seq("count", "BIGINT", "DECIMAL(20,0)").forall(e.getMessage.contains), e.getMessage)
    assert(store.readAll("hist", 5000L).count() == 3)
  }

  test("schema sidecar: written by append, atomically and once per schema; reads skip inference") {
    import java.nio.file.attribute.BasicFileAttributes
    val base = Files.createTempDirectory("graft_tiers_sidecar").toString
    val store = new TierStore(spark, base)
    def rows(n: Int) = spark.range(n).selectExpr("'m' AS metric",
      "1704067200000 + id * 30000 AS bucket_start", "id AS count")
    store.append("c", 30000L, rows(3))
    val sidecar = java.nio.file.Paths.get(store.path("c", 30000L), TierStore.SchemaSidecar)
    def stamp() = {
      val a = Files.readAttributes(sidecar, classOf[BasicFileAttributes])
      (a.fileKey(), a.lastModifiedTime(), new String(Files.readAllBytes(sidecar)))
    }
    val first = stamp()
    assert(TierStore.readSchema(store.path("c", 30000L)).map(_.fieldNames.toSeq)
      .contains(Seq("metric", "bucket_start", "count", "bucket_date")))

    // a second append with the same schema leaves the file alone
    store.append("c", 30000L, rows(2))
    assert(stamp() == first, "same-schema append rewrote the sidecar")

    // a killed sidecar write leaves only a truncated temp file: readers
    // see the same schema and rows as before
    val before = store.readAll("c", 30000L).orderBy("bucket_start").collect().toSeq
    Files.write(sidecar.resolveSibling(TierStore.SchemaSidecar + ".tmp"), "{\"type\":\"str".getBytes)
    spark.catalog.refreshByPath(store.path("c", 30000L))
    val after = store.readAll("c", 30000L)
    val written = TierStore.readSchema(store.path("c", 30000L)).get
    assert(after.schema.fields.toSeq == written.fields.toSeq.dropRight(1)) // less bucket_date
    assert(after.orderBy("bucket_start").collect().toSeq == before && before.size == 5)

    // with the sidecar, planning a slice runs no Spark job (no footer
    // inference); a table without one still reads, by inference
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val slice = store.slice("c", 30000L, 1704067200000L, 1704067260000L)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(jobs.get() == 0, "slice planning ran a Spark job")
      assert(slice.count() == 5)
    } finally spark.sparkContext.removeSparkListener(listener)
    Files.delete(sidecar)
    spark.catalog.refreshByPath(store.path("c", 30000L))
    assert(store.readAll("c", 30000L).count() == 5)
  }

  test("a store reuses a table's relation until its files change, by any writer") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val base = Files.createTempDirectory("graft_tiers_reuse").toString
    val (a, b) = (new TierStore(spark, base), new TierStore(spark, base))
    def rows(day: Int) = spark.range(2).selectExpr("'m' AS metric",
      s"1704067200000 + $day * 86400000 + id * 30000 AS bucket_start", "id AS count")
    def relation(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.get
    a.append("c", 30000L, rows(0))
    val first = a.readAll("c", 30000L)
    assert(relation(a.slice("c", 30000L, 0L, 1704067200000L + DAY)) eq relation(first))
    // another store's append, into an existing and into a new partition
    b.append("c", 30000L, rows(0))
    assert(a.readAll("c", 30000L).count() == 4)
    b.append("c", 30000L, rows(1))
    assert(a.readAll("c", 30000L).count() == 6)
    assert(!(relation(a.readAll("c", 30000L)) eq relation(first)))
    // another store's retention drop and compaction
    b.enforceRetention("c", 30000L, ttlMs = DAY, nowMs = 1704067200000L + 2 * DAY)
    assert(a.readAll("c", 30000L).count() == 2)
    b.append("c", 30000L, rows(1))
    b.compact("c", 30000L, maxFiles = 1)
    assert(a.readAll("c", 30000L).orderBy("bucket_start").collect().map(_.getLong(2)).toSeq ==
      Seq(0L, 0L, 1L, 1L))
  }

  test("streaming sink refuses a legacy flat raw tier dir") {
    val base = Files.createTempDirectory("graft_stream_flat").toString
    val ing = new graft.streaming.StreamingIngest(spark, base)
    new java.io.File(ing.rawTierPath).mkdirs()
    Files.write(new java.io.File(ing.rawTierPath, "part-000.parquet").toPath, Array[Byte](1))
    intercept[IllegalStateException] { ing.requirePartitionedLayout(ing.rawTierPath) }
  }

  test("tier cursor falls back to the legacy un-namespaced file") {
    import graft.streaming.StreamingIngest
    val base = Files.createTempDirectory("graft_cursor_mig").toString
    val ing = new StreamingIngest(spark, base)
    // no cursor at all → sentinel
    assert(ing.readCursor(StreamingIngest.HistKind, 60000L) == Long.MinValue)
    // legacy hist cursor: cursor_$d; legacy counter cursor: cursor_${d+1}
    Files.write(new java.io.File(base, "cursor_60000").toPath, "1111".getBytes)
    Files.write(new java.io.File(base, "cursor_60001").toPath, "2222".getBytes)
    assert(ing.readCursor(StreamingIngest.HistKind, 60000L) == 1111L)
    assert(ing.readCursor(StreamingIngest.CounterKind, 60000L) == 2222L)
    // a kind-namespaced cursor wins over the legacy one
    Files.write(new java.io.File(base, "cursor_tier_60000").toPath, "3333".getBytes)
    assert(ing.readCursor(StreamingIngest.HistKind, 60000L) == 3333L)
  }

  test("compaction collapses small-file partitions; data and pruning intact") {
    val base = Files.createTempDirectory("graft_tiers_compact").toString
    val store = new TierStore(spark, base)
    // 6 tiny appends into the same day = 6 files (streaming-cadence shape)
    for (i <- 0 until 6)
      store.append("c", 30000L, spark.range(1).selectExpr("'m' AS metric",
        s"1704067200000 + $i * 30000 AS bucket_start", s"CAST($i AS BIGINT) AS count"))
    val part = new java.io.File(store.path("c", 30000L), "bucket_date=2024-01-01")
    def dataFiles() = part.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles() == 6)
    val before = store.readAll("c", 30000L).orderBy("bucket_start")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq

    val compacted = store.compact("c", 30000L)
    assert(compacted == Seq("bucket_date=2024-01-01"))
    assert(dataFiles() == 1)
    val after = store.readAll("c", 30000L).orderBy("bucket_start")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(after == before)
    // below the threshold → untouched on a second pass
    assert(store.compact("c", 30000L).isEmpty)
    // pruned reads still carry the partition filter
    val plan = store.slice("c", 30000L, 1704067200000L, 1704067260000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket_date"))
  }

  test("migration and compaction recover from simulated crash points") {
    val base = Files.createTempDirectory("graft_tiers_crash").toString
    val store = new TierStore(spark, base)

    // migration crash: original was moved aside, new dir never landed —
    // next call must restore and complete the migration
    val p = store.path("hist", 5000L)
    spark.range(2).selectExpr("'m' AS metric",
      "1704067200000 + id * 86400000 AS bucket_start", "id AS count")
      .coalesce(1).write.parquet(p + "__old")
    assert(!new java.io.File(p).exists())
    assert(store.migrateFlatLayout("hist", 5000L))
    val names = new java.io.File(p).listFiles().map(_.getName)
    assert(names.count(_.startsWith("bucket_date=")) == 2)
    assert(!new java.io.File(p + "__old").exists())
    assert(store.readAll("hist", 5000L).count() == 2)

    // compaction crash: a partition sits moved-aside in __compact_old —
    // next compact() restores it before doing anything else
    val part = new java.io.File(p, "bucket_date=2024-01-01")
    val aside = new java.io.File(p + "__compact_old", part.getName)
    aside.getParentFile.mkdirs()
    assert(part.renameTo(aside))
    spark.catalog.refreshByPath(p)
    store.compact("hist", 5000L) // nothing above maxFiles; must restore
    assert(part.exists() && !aside.exists())
    assert(store.readAll("hist", 5000L).count() == 2)
  }

  test("MaterializedTiers.ensure sweeps stale-format tier dirs, keeps current") {
    import graft.planner.MaterializedTiers
    val staleName = "v" + (MaterializedTiers.FormatVersion - 1) + "_spec_stale"
    val stale = new java.io.File(MaterializedTiers.TiersRoot, staleName)
    new java.io.File(stale, "sub").mkdirs()
    Files.write(new java.io.File(stale, "sub/part.parquet").toPath, Array[Byte](1, 2))
    val current = MaterializedTiers.ensure(spark, sf)
    assert(!stale.exists(), "stale-format tier dir survived the sweep")
    assert(new java.io.File(current, "_GRAFT_TIERS_OK").exists())
  }

  test("meta store lifecycle: register, deactivate on empty slice, reactivate") {
    val meta = new MetaStore
    meta.track(Metric("api.latency", "timer"), 1000L)
    meta.track(Metric("jobs", "counter"), 1000L)
    assert(meta.allActiveMetrics.map(_.name) == Seq("api.latency", "jobs"))

    meta.notifyEmptySlice("jobs")
    assert(!meta.isActive("jobs"))
    assert(meta.searchByRegex(".*").map(_.name) == Seq("api.latency"))
    assert(meta.allMetrics.size == 2) // still tracked, just inactive

    meta.track(Metric("jobs", "counter"), 2000L) // data reappears
    assert(meta.isActive("jobs"))
    assert(meta.lastProcessed("jobs").contains(2000L))

    meta.update(Seq("api.latency"), 5000L)
    assert(meta.lastProcessed("api.latency").contains(5000L))
  }
}
