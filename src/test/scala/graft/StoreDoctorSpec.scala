package graft

import java.nio.file.{Files, Paths}

import graft.ops.{PqIndexStore, StoreDoctor}
import org.apache.spark.sql.functions._

/** The store-lifecycle invariant sweep: healthy stores diagnose clean
  * (a real PqIndexStore with audit history, and every snapshot twin
  * after a real publish), and each violation class the doctor claims
  * to catch is planted deliberately and must fire. */
class StoreDoctorSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"doctor_$tag").toString

  private def checksAt(base: String): Set[String] =
    StoreDoctor.diagnose(spark, base).map(_.check).toSet

  private lazy val emb = {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    (0 until 200).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
  }

  /** One staged tier-store increment of kind `tier` (30 s and 1 min
    * tables) in a fresh store under `base`; returns the store and id. */
  private def stagedTiers(base: String): (graft.sources.TierStore, String) = {
    val store = new graft.sources.TierStore(spark, base)
    val rows = spark.range(4).selectExpr("'m' AS metric", "1704067200000 + id * 60000 AS bucket_start",
      "id AS count", "IF(id % 2 = 0, 30000L, 60000L) AS tier")
    (store, store.stage("tier", Seq(30000L, 60000L), rows))
  }

  test("tier store: a staged increment its commit record names is pending-commit, not deleted") {
    val base = tmpDir("tier_pending")
    val (store, id) = stagedTiers(base)
    store.commit("tier", id, Map(30000L -> 1704067229999L, 60000L -> 1704067259999L))
    val found = StoreDoctor.diagnose(spark, base)
    assert(found.map(_.check) == Seq("pending-commit"), s"got $found")
    assert(found.head.path.endsWith(s"tier.$id.__stage") && found.head.detail.contains("do not delete"))
    // the next increment's recovery publishes it; the tree is then healthy
    store.recover("tier")
    assert(StoreDoctor.diagnose(spark, base).isEmpty)
    assert(store.readAll("tier", 30000L).count() == 2 && store.readAll("tier", 60000L).count() == 2)
  }

  test("tier store: a staged increment no commit record names is orphaned-staging") {
    val base = tmpDir("tier_orphan")
    val (store, id) = stagedTiers(base)
    // a record naming an EARLIER increment does not cover this one
    store.commit("tier", "0-earlier", Map(30000L -> 1L))
    val found = StoreDoctor.diagnose(spark, base)
    assert(found.map(_.check) == Seq("orphaned-staging"), s"got $found")
    assert(found.head.path.endsWith(s"tier.$id.__stage") && found.head.detail.contains("safe to delete"))
    store.recover("tier")
    assert(StoreDoctor.diagnose(spark, base).isEmpty)
    assert(!new java.io.File(store.path("tier", 30000L)).exists())
  }

  test("healthy PqIndexStore diagnoses clean; each planted violation fires its check") {
    val base = tmpDir("pq")
    val store = new PqIndexStore(spark, base, nlist = 4, m = 4, ksub = 8)
    store.build(emb)
    store.recordAudit()
    store.recordAudit()
    assert(StoreDoctor.diagnose(spark, base).isEmpty,
      s"healthy store flagged: ${StoreDoctor.diagnose(spark, base)}")

    // stranded TMP staging (a crashed quantizer swap)
    Files.createDirectories(Paths.get(s"$base/quantizer.__stage"))
    assert(checksAt(base).contains("orphaned-staging"))
    StoreDoctor.diagnose(spark, base).foreach { f =>
      if (f.check == "orphaned-staging") assert(f.detail.contains("safe to delete"))
    }
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/quantizer.__stage"))

    // leftover OLD beside a live primary (crash between publish and cleanup)
    Files.createDirectories(Paths.get(s"$base/codes.__oldc"))
    assert(checksAt(base).contains("leftover-old"))
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/codes.__oldc"))

    // OLD with no primary = the recoverable mid-swap crash
    Files.move(Paths.get(s"$base/quantizer"), Paths.get(s"$base/quantizer.__old"))
    val rec = StoreDoctor.diagnose(spark, base)
    assert(rec.map(_.check).toSet == Set("recoverable-swap"), s"got $rec")
    assert(rec.head.detail.contains("do not delete"))
    Files.move(Paths.get(s"$base/quantizer.__old"), Paths.get(s"$base/quantizer"))

    // duplicate audit seq (two writers raced without the file lock)
    import spark.implicits._
    Seq((1L, 1L, 4, 200L, 60L, 150L, 0, 0.0, 0L, 2L))
      .toDF("seq", "version", "n_cells", "total", "max_cell", "cap",
        "hot_cells", "projected_pairs", "eff_dim_e6", "eff_dim_formula")
      .write.mode("append").parquet(s"$base/audits")
    assert(checksAt(base).contains("duplicate-audit-seq"))

    // a gap in the history (rebuild the audits dir as seqs 0, 2)
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/audits"))
    Seq((0L, 1L), (2L, 1L)).toDF("seq", "version")
      .write.parquet(s"$base/audits")
    assert(checksAt(base).contains("sparse-audit-seq"))
    // a CORRUPT outlier seq must yield the same finding, not crash the
    // sweep (a materialized head-to-last range would overflow Int)
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/audits"))
    Seq((0L, 1L), (9000000000000000000L, 1L)).toDF("seq", "version")
      .write.parquet(s"$base/audits")
    assert(checksAt(base).contains("sparse-audit-seq"))
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/audits"))
    // CurationMetrics' `.old` staging name is covered too (crash
    // between its publish rename and cleanup, primary present)
    Files.createDirectories(Paths.get(s"$base/codes.old"))
    assert(checksAt(base).contains("leftover-old"))
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/codes.old"))

    // empty generation: codes exist but none for the committed version
    val codes = spark.read.parquet(s"$base/codes").localCheckpoint()
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/codes"))
    codes.withColumn("version", col("version") + 999L)
      .write.parquet(s"$base/codes")
    assert(checksAt(base).contains("empty-generation"))
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/codes"))

    // no codes dir at all
    assert(checksAt(base).contains("no-codes-dir"))
    codes.write.parquet(s"$base/codes")

    // pre-mode generation: quantizer without its kind='mode' row
    val quant = spark.read.parquet(s"$base/quantizer").localCheckpoint()
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/quantizer"))
    quant.where(col("kind") =!= "mode").coalesce(1)
      .write.parquet(s"$base/quantizer")
    assert(checksAt(base).contains("missing-mode-row"))

    // mixed quantizer generations
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/quantizer"))
    quant.unionByName(quant.withColumn("version", col("version") + 1L))
      .write.parquet(s"$base/quantizer")
    assert(checksAt(base).contains("mixed-versions"))
  }

  test("mixed-version centroid store (vec-near-dup layout) is flagged") {
    import spark.implicits._
    val base = tmpDir("cent")
    Seq((1L, 0, 0, 0.5), (2L, 0, 0, 0.7))
      .toDF("version", "cell", "dim", "value")
      .write.parquet(s"$base/centroids")
    assert(checksAt(base) == Set("mixed-versions"))
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/centroids"))
    Seq((2L, 0, 0, 0.5), (2L, 1, 0, 0.7))
      .toDF("version", "cell", "dim", "value")
      .write.parquet(s"$base/centroids")
    assert(StoreDoctor.diagnose(spark, base).isEmpty)
  }

  test("decontam benchmark index: clean when complete; each planted break fires") {
    import spark.implicits._
    val base = tmpDir("decon")
    val sd = new graft.streaming.StreamingDecontam(spark, base, threshold = 0.7,
      nlist = 2)
    assert(sd.indexBenchmark(emb.where(col("vec_id") < 8)) == 8L)
    assert(StoreDoctor.diagnose(spark, base).isEmpty,
      s"healthy decontam index flagged: ${StoreDoctor.diagnose(spark, base)}")
    // empty benchmark is a COMPLETE state (bench_n = 0 certificate)
    val base0 = tmpDir("decon0")
    new graft.streaming.StreamingDecontam(spark, base0, threshold = 0.7)
      .indexBenchmark(emb.limit(0))
    assert(StoreDoctor.diagnose(spark, base0).isEmpty)
    // meta promises a benchmark but centroids/ is gone
    val centSaved = Files.createTempDirectory("doctor_cent_save")
    Files.move(Paths.get(s"$base/centroids"), centSaved.resolve("centroids"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(checksAt(base).contains("incomplete-index"))
    Files.move(centSaved.resolve("centroids"), Paths.get(s"$base/centroids"))
    // cells emptied to a stale version: probes would keep everything
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/cells"))
    Seq((99L, 0L, Seq(0.1f), 1.0, 0))
      .toDF("version", "id", "v", "nrm", "cell")
      .write.parquet(s"$base/cells")
    assert(checksAt(base).contains("empty-generation"))
    // unreadable cells: a certified index that cannot serve must flag,
    // not pass clean (the None-verdict blind spot)
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/cells"))
    Files.createDirectories(Paths.get(s"$base/cells"))
    assert(checksAt(base).contains("unreadable-cells"))
    // unreadable centroids: the mirror blind spot (r13) — an empty
    // quantizer dir under a promising meta previously fell through the
    // centroid branch's catch-all and the store passed the sweep clean
    val centSaved2 = Files.createTempDirectory("doctor_cent_save2")
    Files.move(Paths.get(s"$base/centroids"), centSaved2.resolve("centroids"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.createDirectories(Paths.get(s"$base/centroids"))
    assert(checksAt(base).contains("unreadable-centroids"))
    Files.delete(Paths.get(s"$base/centroids"))
    Files.move(centSaved2.resolve("centroids"), Paths.get(s"$base/centroids"))
    // meta with two rows: the one-row certificate is broken
    spark.read.parquet(s"$base/meta").union(spark.read.parquet(s"$base/meta"))
      .write.mode("overwrite").parquet(s"$base/meta__tmp2")
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/meta"))
    Files.move(Paths.get(s"$base/meta__tmp2"), Paths.get(s"$base/meta"))
    assert(checksAt(base).contains("bad-meta"))
    // a tier store's unrelated `meta` dir (no bench_n column) is skipped
    val tier = tmpDir("tiermeta")
    Seq(("g", 300L)).toDF("name", "resolution").write.parquet(s"$tier/meta")
    assert(StoreDoctor.diagnose(spark, tier).isEmpty)
  }

  test("all six snapshot twins diagnose clean after a real publish") {
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    def dropFile(dir: String, name: String, lines: Seq[String]): Unit = {
      val tmp = Files.createTempFile("doctor_drop", ".json")
      Files.write(tmp, lines.mkString("\n").getBytes)
      Files.move(tmp, Paths.get(s"$dir/$name"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def doc(id: Long, src: String, text: String) =
      s"""{"doc_id":$id,"source":"$src","text":"$text"}"""
    val docs = (0L until 12L).map(i =>
      doc(i, if (i % 2 == 0) "a" else "b", s"alpha beta doc $i word" * (1 + (i % 3).toInt)))

    def drive(tag: String)(mk: String => (org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.StreamingQuery, String)): String = {
      val base = tmpDir(tag)
      val in = s"$base/in"
      Files.createDirectories(Paths.get(in))
      val (start, _) = mk(base)
      val q = start(null)
      try {
        dropFile(in, "b1.json", docs)
        q.processAllAvailable()
      } finally q.stop()
      base
    }

    // each twin: construct, run one real batch (one real store publish),
    // stop, then the doctor must find nothing in the whole baseDir —
    // input dir, checkpoint dirs, and the published snapshot store
    val bases = Seq(
      drive("mix") { base =>
        val t = new graft.streaming.StreamingMixture(spark, base)
        ((_: org.apache.spark.sql.DataFrame) =>
          t.start(t.readJsonDocs(s"$base/in"), trig), base)
      },
      drive("cms") { base =>
        val t = new graft.streaming.StreamingCms(spark, base)
        ((_: org.apache.spark.sql.DataFrame) =>
          t.start(t.readJsonDocs(s"$base/in"), trig), base)
      },
      drive("topk") { base =>
        val t = new graft.streaming.StreamingTopK(spark, base, capacity = 4)
        ((_: org.apache.spark.sql.DataFrame) =>
          t.start(t.readJsonDocs(s"$base/in"), trig), base)
      },
      drive("drw") { base =>
        val t = new graft.streaming.StreamingDomainReweight(spark, base)
        ((_: org.apache.spark.sql.DataFrame) =>
          t.start(t.readJsonDocs(s"$base/in"), trig), base)
      },
      drive("tprep") { base =>
        val t = new graft.streaming.StreamingTrainingPrep(spark, base,
          nShards = 2, rounds = 1, seed = 1L)
        ((_: org.apache.spark.sql.DataFrame) =>
          t.start(t.readJsonDocs(s"$base/in"), trig), base)
      },
      drive("cprep") { base =>
        val t = new graft.streaming.StreamingCurriculumPrep(spark, base,
          nShards = 2, seed = 1L)
        ((_: org.apache.spark.sql.DataFrame) =>
          t.start(t.readJsonDocs(s"$base/in"), trig), base)
      })
    bases.foreach { base =>
      val found = StoreDoctor.diagnose(spark, base)
      assert(found.isEmpty, s"twin store at $base flagged: $found")
    }
    // and the doctor still bites on a twin store: strand a state__tmp
    val planted = bases.head
    val victim = Option(new java.io.File(planted).listFiles()).toSeq.flatten
      .find(f => f.isDirectory && !f.getName.startsWith("in") &&
        !f.getName.contains("chk") && !f.getName.contains("checkpoint"))
      .map(_.getName).getOrElse("counts")
    Files.createDirectories(Paths.get(s"$planted/${victim}__tmp"))
    assert(checksAt(planted).contains("orphaned-staging"))
  }
}
