package graft

import java.nio.file.{Files, Paths}
import graft.ingest.MetricBatchIngest
import graft.streaming.StreamingIngest
import graft.functions.hdr_merge
import graft.ops.StoreDoctor
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private val T0 = 1704067200000L

  private def line(metric: String, mtype: String, ts: Long, vs: Seq[Double]): String =
    s"""{"metrics":[{"name":"$metric","mtype":"$mtype","measurements":[{"ts":$ts,"values":[${vs.mkString(",")}]}]}]}"""

  /** Atomic drop into a file-source watched dir: write elsewhere, then
    * move — the source can list a file mid-write otherwise and the
    * remainder of its lines is silently lost. */
  private def dropFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Files.createTempFile("graft_drop", ".json")
    Files.write(tmp, lines.mkString("\n").getBytes)
    Files.move(tmp, Paths.get(s"$dir/$name"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  test("batch parse: negatives skipped, unknown mtype dropped, fractional floored, missing ts defaulted") {
    import spark.implicits._
    val lines = Seq(
      line("a", "timer", T0, Seq(-9, -8, 133, -1, 150)),      // 2 survive
      line("b", "weird", T0, Seq(1, 2, 3)),                   // dropped
      line("c", "counter", T0, Seq(112.00000000000001)),      // floored to 112
      s"""{"metrics":[{"name":"d","mtype":"gauge","measurements":[{"values":[5]}]}]}""" // no ts
    ).toDF("value")
    val parsed = MetricBatchIngest.parse(lines, defaultTs = () => 777L).collect()
    val byMetric = parsed.groupBy(_.getString(0))
    assert(byMetric("a").length == 2)
    assert(!byMetric.contains("b"))
    assert(byMetric("c").head.getLong(3) == 112L)
    assert(byMetric("d").head.getLong(2) == 777L)
  }

  test("streaming dedup: batches dedup against the digest store and within themselves") {
    val base = Files.createTempDirectory("graft_sdedup").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val sd = new graft.streaming.StreamingDedup(spark, base)
    val q = sd.start(sd.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // batch 1: ids 1,2 share a text (whitespace/case-normalized), 3
      // unique — and 3's line is duplicated VERBATIM (same id, same
      // text), which a min-id-join winner would keep twice
      dropFile(in, "b1.json", Seq(
        doc(2, "The quick  brown fox"), doc(1, "the quick brown fox"),
        doc(3, "something else entirely"), doc(3, "something else entirely")))
      q.processAllAvailable()
      spark.catalog.refreshByPath(sd.keptPath)
      val kept1 = spark.read.parquet(sd.keptPath).collect()
        .map(r => r.getLong(0)).sorted
      assert(kept1.toSeq == Seq(1L, 3L)) // min id wins; verbatim dup kept once
      // batch 2: 4 duplicates batch 1's text (dropped via the store),
      // 5 is genuinely new
      dropFile(in, "b2.json", Seq(
        doc(4, "THE QUICK BROWN FOX"), doc(5, "fresh document")))
      q.processAllAvailable()
      spark.catalog.refreshByPath(sd.keptPath)
      val kept2 = spark.read.parquet(sd.keptPath).collect()
        .map(r => r.getLong(0)).sorted
      assert(kept2.toSeq == Seq(1L, 3L, 5L))
      // two batches → ≥ 2 digest slivers; compact to one file, then a
      // third batch must still dedup against the compacted store
      assert(sd.compactStore(maxFiles = 1))
      val digestFiles = new java.io.File(s"$base/digests").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(digestFiles == 1)
      dropFile(in, "b3.json", Seq(
        doc(6, "fresh   DOCUMENT"), doc(7, "never seen before")))
      q.processAllAvailable()
      spark.catalog.refreshByPath(sd.keptPath)
      val kept3 = spark.read.parquet(sd.keptPath).collect()
        .map(r => r.getLong(0)).sorted
      assert(kept3.toSeq == Seq(1L, 3L, 5L, 7L))
    } finally q.stop()
  }

  test("streaming span dedup: excision against the gram store, within batches, across restarts") {
    val base = Files.createTempDirectory("graft_sspan").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def outRows() = {
      spark.catalog.refreshByPath(s"$base/deduped")
      spark.read.parquet(s"$base/deduped").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    }
    val ss = new graft.streaming.StreamingSpanDedup(spark, base, n = 3)
    val q = ss.start(ss.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // batch 1: doc 2 repeats doc 1's opening 3-gram → keep-first
      // excises it WITHIN the batch
      dropFile(in, "b1.json", Seq(
        doc(1, "p q r s t u"), doc(2, "p q r zz ww")))
      q.processAllAvailable()
      val o1 = outRows()
      assert(o1(1L) == ((6L, 0L, "p q r s t u")))
      assert(o1(2L) == ((5L, 3L, "zz ww")))
      // batch 2: doc 10 repeats a batch-1 gram → excised via the STORE;
      // doc 11 is fresh
      dropFile(in, "b2.json", Seq(
        doc(10, "s t u k1 k2"), doc(11, "f1 f2 f3 f4")))
      q.processAllAvailable()
      val o2 = outRows()
      assert(o2(10L) == ((5L, 3L, "k1 k2")))
      assert(o2(11L) == ((4L, 0L, "f1 f2 f3 f4")))
    } finally q.stop()
    // restart from the checkpoint: the store must survive — a batch-2
    // gram still excises, and compaction keeps the store queryable
    assert(ss.compactStore(maxFiles = 1))
    val ss2 = new graft.streaming.StreamingSpanDedup(spark, base, n = 3)
    val q2 = ss2.start(ss2.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b3.json", Seq(doc(20, "f1 f2 f3 tail")))
      q2.processAllAvailable()
      val o3 = outRows()
      assert(o3(20L) == ((4L, 3L, "tail")))
    } finally q2.stop()
  }

  test("reliable mode: the BM25/mixture/CMS twins survive restarts with store integrity") {
    import spark.implicits._
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val ckDir = Files.createTempDirectory("graft_newtwin_ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(graft.ops.Checkpoints.ReliableKey, "true")
    try {
      // BM25: batch 1 through instance 1, batch 2 (incl. a re-sent id)
      // through a RESTARTED instance — serve must equal the batch
      // operator over the corpus as first ingested
      locally {
        val base = Files.createTempDirectory("graft_sbm25_rel").toString
        val in = s"$base/in"
        Files.createDirectories(Paths.get(in))
        def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
        val b1 = new graft.streaming.StreamingBm25(spark, base)
        val q1 = b1.start(b1.readJsonDocs(in), trig)
        try {
          dropFile(in, "b1.json", Seq(doc(1, "spark query fast"), doc(2, "query planner")))
          q1.processAllAvailable()
        } finally q1.stop()
        val b2 = new graft.streaming.StreamingBm25(spark, base)
        val q2 = b2.start(b2.readJsonDocs(in), trig)
        try {
          dropFile(in, "b2.json", Seq(doc(3, "spark shuffle"), doc(1, "spark spark spark")))
          q2.processAllAvailable()
        } finally q2.stop()
        val corpus = Seq((1L, "spark query fast"), (2L, "query planner"),
          (3L, "spark shuffle")).toDF("doc_id", "text")
        val want = graft.ops.TextAnalysis.bm25TopK(corpus, Seq("spark"), 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val got = b2.topK(Seq("spark"), 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got == want, s"restarted BM25 serve diverged: $got vs $want")
      }
      // mixture: restart keeps cumulative counts; CMS restart is
      // covered by its own case above — run it under reliable here too
      locally {
        val base = Files.createTempDirectory("graft_smix_rel").toString
        val in = s"$base/in"
        Files.createDirectories(Paths.get(in))
        def doc(id: Long, src: String) =
          s"""{"doc_id":$id,"text":"doc $id","source":"$src"}"""
        val m1 = new graft.streaming.StreamingMixture(spark, base)
        val q1 = m1.start(m1.readJsonDocs(in), trig)
        try {
          dropFile(in, "b1.json", (0L until 50L).map(i => doc(i, "a")))
          q1.processAllAvailable()
        } finally q1.stop()
        val m2 = new graft.streaming.StreamingMixture(spark, base)
        val q2 = m2.start(m2.readJsonDocs(in), trig)
        try {
          dropFile(in, "b2.json", (50L until 80L).map(i => doc(i, "b")))
          q2.processAllAvailable()
        } finally q2.stop()
        val counts = m2.counts().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(counts == Map("a" -> 50L, "b" -> 30L),
          s"restarted mixture lost counts: $counts")
      }
      locally {
        val base = Files.createTempDirectory("graft_scms_rel").toString
        val in = s"$base/in"
        Files.createDirectories(Paths.get(in))
        val c1 = new graft.streaming.StreamingCms(spark, base)
        val q1 = c1.start(c1.readJsonDocs(in), trig)
        try {
          dropFile(in, "b1.json", Seq("""{"doc_id":1,"text":"alpha alpha beta"}"""))
          q1.processAllAvailable()
        } finally q1.stop()
        val c2 = new graft.streaming.StreamingCms(spark, base)
        assert(c2.estimates(Seq("alpha", "beta")) ==
          Map("alpha" -> 2L, "beta" -> 1L))
      }
    } finally spark.conf.set(graft.ops.Checkpoints.ReliableKey, "false")
  }

  test("maintenance sweep compacts every known twin store, touches nothing else") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sweep").toString
    // a deployment root with two twin baseDirs; each store gets 12
    // one-row slivers (past the maxFiles threshold)
    def sliver(dir: String, i: Long): Unit =
      Seq((i, i * 10)).toDF("k", "v").write.mode("append").parquet(dir)
    val stores = Seq(s"$base/cur/digests", s"$base/cur/buckets",
      s"$base/bm/postings", s"$base/bm/docs")
    stores.foreach(d => (0L until 12L).foreach(i => sliver(d, i)))
    // decoys: an output sink and an unknown dir must NOT be rewritten
    val decoys = Seq(s"$base/cur/kept", s"$base/bm/other_state")
    decoys.foreach(d => (0L until 12L).foreach(i => sliver(d, i)))
    def nFiles(d: String) =
      new java.io.File(d).listFiles().count(f => f.getName.endsWith(".parquet"))
    val before = stores.map(d => d -> spark.read.parquet(d)
      .orderBy("k").collect().toSeq).toMap
    val swept = graft.streaming.StoreCompaction.sweep(spark, base).sorted
    assert(swept == stores.sorted, s"sweep hit the wrong dirs: $swept")
    stores.foreach { d =>
      assert(nFiles(d) == 1, s"$d not compacted")
      assert(spark.read.parquet(d).orderBy("k").collect().toSeq == before(d),
        s"$d data changed")
    }
    decoys.foreach(d => assert(nFiles(d) == 12, s"decoy $d was rewritten"))
    // idempotent: nothing left above threshold
    assert(graft.streaming.StoreCompaction.sweep(spark, base).isEmpty)
  }

  test("streaming mixture: one batch equals the batch operator; rates adapt as a source grows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_smix").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, src: String) =
      s"""{"doc_id":$id,"text":"doc $id","source":"$src"}"""
    val sm = new graft.streaming.StreamingMixture(spark, base,
      alpha = 0.5, targetFrac = 0.5)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val b1 = (0L until 90L).map(i => (i, s"doc $i", "src_big")) ++
      (90L until 100L).map(i => (i, s"doc $i", "src_small"))
    val q = sm.start(sm.readJsonDocs(in), trig)
    try {
      dropFile(in, "b1.json", b1.map { case (i, _, s) => doc(i, s) })
      q.processAllAvailable()
      // rates computed from counts INCLUDING the batch -> one-batch
      // stream == the batch operator, bit-for-bit
      val want = graft.ops.Sampling.temperatureSample(
          b1.toDF("doc_id", "text", "source"), 0.5, 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      spark.catalog.refreshByPath(sm.keptPath)
      val got = spark.read.parquet(sm.keptPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"one-batch stream diverged: ${got.size} vs ${want.size}")
      val rBefore = sm.currentRates().collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      // batch 2: src_big floods. Under α-flattening the flooding
      // source's rate RISES toward targetFrac (it must supply nearly
      // all the target volume as its share → 1) while the boosted
      // tail stays at the keep-everything cap
      dropFile(in, "b2.json",
        (100L until 300L).map(i => doc(i, "src_big")))
      q.processAllAvailable()
      val rAfter = sm.currentRates().collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(rAfter("src_big") > rBefore("src_big") &&
        rAfter("src_big") < 500000L,
        s"flooding source rate must rise toward targetFrac: $rBefore -> $rAfter")
      assert(rAfter("src_small") == 1000000L,
        s"boosted tail must stay capped: $rAfter")
    } finally q.stop()
    // a restarted instance serves the persisted counts
    val sm2 = new graft.streaming.StreamingMixture(spark, base,
      alpha = 0.5, targetFrac = 0.5)
    assert(sm2.counts().agg(org.apache.spark.sql.functions.sum("n_docs"))
      .collect()(0).getLong(0) == 300L)
  }

  test("streaming domain reweight: one batch equals the batch operator; history re-prices; restart serves") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdrw").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, src: String, text: String) =
      s"""{"doc_id":$id,"text":"$text","source":"$src"}"""
    // the SelectionOpsSpec fixture: fluent repeats its bigrams, garbled
    // shuffles the same vocabulary into rare pairs
    val vocab = Seq("the", "cat", "sat", "on", "mat", "and", "dog", "ran")
    val fluentTxt = "the cat sat on the mat and the dog ran"
    def garbledTxt(i: Int) = new scala.util.Random(i).shuffle(vocab ++ vocab).mkString(" ")
    val b1 = (0 until 6).map(i => (i.toLong, "fluent", fluentTxt)) ++
      (6 until 12).map(i => (i.toLong, "garbled", garbledTxt(i)))
    val sd = new graft.streaming.StreamingDomainReweight(spark, base)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val q = sd.start(sd.readJsonDocs(in), trig)
    def weightRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    try {
      dropFile(in, "b1.json", b1.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      // weights recompute from counts INCLUDING the batch → a
      // one-batch stream equals the batch operator bit-for-bit
      val want = weightRows(graft.ops.Sampling.hardDomainWeights(
        b1.toDF("doc_id", "source", "text")))
      val got = weightRows(sd.currentWeights().get)
      assert(got == want, s"one-batch stream diverged:\n$got\nvs\n$want")
      // batch 2: more fluent mass. The garbled domain's HISTORICAL
      // pairs re-price under the grown lexicon and its weight moves —
      // equal to the batch operator over the UNION corpus, exactly
      val b2 = (12 until 24).map(i => (i.toLong, "fluent", fluentTxt))
      dropFile(in, "b2.json", b2.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      val wantUnion = weightRows(graft.ops.Sampling.hardDomainWeights(
        (b1 ++ b2).toDF("doc_id", "source", "text")))
      val got2 = weightRows(sd.currentWeights().get)
      assert(got2 == wantUnion, s"cumulative re-pricing diverged:\n$got2\nvs\n$wantUnion")
      assert(got2 != got, "weights should move as the corpus mix shifts")
    } finally q.stop()
    // a restarted instance serves the committed weight frame, and the
    // state stores stay vocabulary-bounded (not corpus-sized)
    val sd2 = new graft.streaming.StreamingDomainReweight(spark, base)
    assert(weightRows(sd2.currentWeights().get) ==
      weightRows(sd.currentWeights().get))
    spark.catalog.refreshByPath(s"$base/state/srcgrams")
    val gramRows = spark.read.parquet(s"$base/state/srcgrams").count()
    assert(gramRows <= 2L * vocab.size * vocab.size,
      s"per-source gram store must stay vocab-bounded, got $gramRows")
  }

  test("streaming iterative DoReMi: N-batch stream equals the batch loop over the union corpus; legacy state fails loudly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdoremi").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, src: String, text: String) =
      s"""{"doc_id":$id,"text":"$text","source":"$src"}"""
    val vocab = Seq("the", "cat", "sat", "on", "mat", "and", "dog", "ran")
    val fluentTxt = "the cat sat on the mat and the dog ran"
    def garbledTxt(i: Int) = new scala.util.Random(i).shuffle(vocab ++ vocab).mkString(" ")
    val b1 = (0 until 6).map(i => (i.toLong, "fluent", fluentTxt)) ++
      (6 until 12).map(i => (i.toLong, "garbled", garbledTxt(i)))
    val b2 = (12 until 24).map(i => (i.toLong, "fluent", fluentTxt))
    val sd = new graft.streaming.StreamingDomainReweight(spark, base, rounds = 2)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val q = sd.start(sd.readJsonDocs(in), trig)
    // 7 columns: the one-shot schema + cum_factor_e6
    def rows7(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    try {
      dropFile(in, "b1.json", b1.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      val want1 = rows7(graft.ops.Sampling.doremiWeights(
        b1.toDF("doc_id", "source", "text"), rounds = 2))
      assert(rows7(sd.currentWeights().get) == want1,
        "one-batch stream diverged from batch doremiWeights")
      // second batch: the stores fold, the K=2 loop re-runs over the
      // UNION statistics — equal to the batch loop over the union
      dropFile(in, "b2.json", b2.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      val wantU = rows7(graft.ops.Sampling.doremiWeights(
        (b1 ++ b2).toDF("doc_id", "source", "text"), rounds = 2))
      assert(rows7(sd.currentWeights().get) == wantU,
        "two-batch stream diverged from batch doremiWeights over the union")
    } finally q.stop()
    // a state dir from the pre-srcunis layout (global `unigrams` leaf)
    // must fail the batch loudly — global counts cannot split by source
    val legacyBase = Files.createTempDirectory("graft_sdoremi_legacy").toString
    Seq(("the", 5L)).toDF("token", "ufreq").write
      .parquet(s"$legacyBase/state/unigrams")
    val sdLegacy = new graft.streaming.StreamingDomainReweight(spark, legacyBase)
    val inL = s"$legacyBase/in"
    Files.createDirectories(Paths.get(inL))
    val qL = sdLegacy.start(sdLegacy.readJsonDocs(inL), trig)
    try {
      dropFile(inL, "b1.json", Seq(doc(1, "fluent", fluentTxt)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qL.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(t => Option(t.getMessage).exists(_.contains("pre-srcunis"))),
        s"expected the pre-srcunis migration error, got: $e")
    } finally qL.stop()
  }

  test("streaming training prep: N-batch manifest equals the batch chain over the union; restart serves") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stprep").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, src: String, text: String) =
      s"""{"doc_id":$id,"text":"$text","source":"$src"}"""
    val vocab = Seq("the", "cat", "sat", "on", "mat", "and", "dog", "ran")
    val fluentTxt = "the cat sat on the mat and the dog ran"
    def garbledTxt(i: Int) = new scala.util.Random(i).shuffle(vocab ++ vocab).mkString(" ")
    val b1 = (0 until 6).map(i => (i.toLong, "fluent", fluentTxt)) ++
      (6 until 12).map(i => (i.toLong, "garbled", garbledTxt(i)))
    val b2 = (12 until 24).map(i => (i.toLong, "fluent", fluentTxt))
    val st = new graft.streaming.StreamingTrainingPrep(spark, base,
      nShards = 4, rounds = 2, seed = 1L)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    def manRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "copy").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the batch chain the stream must reproduce: fit on the union,
    // bridge to epochs, then THE SAME tail (upsample → replica shuffle
    // → stripe) the batch operator runs
    def wantFor(docs: Seq[(Long, String, String)]) = {
      val d = docs.toDF("doc_id", "source", "text")
      val w = graft.ops.Sampling.doremiWeights(d, rounds = 2)
      val epochs = graft.ops.Sampling.epochsFromWeights(w)
        .select("source", "epochs_e6").collect()
        .map(r => r.getString(0) -> r.getLong(1) / 1e6).toMap
      manRows(graft.ops.TrainingRun.upsampledTail(
        d.select(col("doc_id"), col("source")), epochs,
        nShards = 4, seed = 1L, groupCol = "source", idCol = "doc_id"))
    }
    val q = st.start(st.readJsonDocs(in), trig)
    try {
      assert(st.currentManifest().isEmpty, "manifest before any batch")
      dropFile(in, "b1.json", b1.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      val got1 = manRows(st.currentManifest().get)
      assert(got1 == wantFor(b1),
        s"one-batch manifest diverged from the batch chain")
      // batch 2 shifts the mix; the manifest REPUBLISHES over the
      // cumulative corpus and must equal the batch chain on the union
      // (every pos is a fresh global permutation, so simple appends
      // could never pass this)
      dropFile(in, "b2.json", b2.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      val got2 = manRows(st.currentManifest().get)
      assert(got2 == wantFor(b1 ++ b2),
        s"two-batch manifest diverged from the batch chain over the union")
      // the learned mixture visibly drives the manifest: the hard
      // (garbled) domain gets upsampled copies, and stripes cover all
      // shards
      val copies = got2.groupBy(_._1).view.mapValues(_.size)
      assert((6 until 12).exists(i => copies.getOrElse(i.toLong, 0) > 1),
        s"hard domain never upsampled: $copies")
      assert(got2.map(_._4).toSet == Set(0L, 1L, 2L, 3L))
    } finally q.stop()
    // a restarted instance serves the committed manifest unchanged
    val st2 = new graft.streaming.StreamingTrainingPrep(spark, base,
      nShards = 4, rounds = 2, seed = 1L)
    assert(manRows(st2.currentManifest().get) == wantFor(b1 ++ b2))
    // CRASH WINDOW: die inside the state swap — the parent moved aside
    // to state__old, nothing at state/. A fresh instance must recover
    // the committed generation (recoverSwap), not serve None.
    Files.move(Paths.get(s"$base/state"), Paths.get(s"$base/state__old"))
    val st3 = new graft.streaming.StreamingTrainingPrep(spark, base,
      nShards = 4, rounds = 2, seed = 1L)
    assert(manRows(st3.currentManifest().get) == wantFor(b1 ++ b2),
      "mid-swap crash state lost the committed manifest")

    // rounds = 1: the controller publishes the one-shot weight schema
    // and the manifest equals the one-shot fit → epochs → tail chain
    val base1 = Files.createTempDirectory("graft_stprep1").toString
    val in1 = s"$base1/in"
    Files.createDirectories(Paths.get(in1))
    val s1 = new graft.streaming.StreamingTrainingPrep(spark, base1,
      nShards = 4, rounds = 1, seed = 1L)
    val q1 = s1.start(s1.readJsonDocs(in1), trig)
    try {
      dropFile(in1, "b1.json", b1.map { case (i, s, t) => doc(i, s, t) })
      q1.processAllAvailable()
      val d = b1.toDF("doc_id", "source", "text")
      val w1 = graft.ops.Sampling.hardDomainWeights(d)
      val ep1 = graft.ops.Sampling.epochsFromWeights(w1)
        .select("source", "epochs_e6").collect()
        .map(r => r.getString(0) -> r.getLong(1) / 1e6).toMap
      assert(manRows(s1.currentManifest().get) ==
        manRows(graft.ops.TrainingRun.upsampledTail(
          d.select(col("doc_id"), col("source")), ep1,
          nShards = 4, seed = 1L, groupCol = "source", idCol = "doc_id")),
        "rounds=1 manifest diverged from the one-shot chain")
    } finally q1.stop()
  }

  test("streaming curriculum prep: N-batch manifest equals the batch tail over the union; restart serves") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_scprep").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    // lengths deliberately interleaved across batches so the republished
    // rank must move batch-1 docs (simple appends could never pass)
    val b1 = Seq(1L -> "one two three four five", 2L -> "one", 3L -> "one two three")
    val b2 = Seq(4L -> "one two", 5L -> "one two three four five six seven", 6L -> "one")
    val st = new graft.streaming.StreamingCurriculumPrep(spark, base,
      nShards = 2, seed = 1L)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    def manRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the batch tail the stream must reproduce, over the union corpus
    def wantFor(docs: Seq[(Long, String)]) = {
      val d = docs.toDF("doc_id", "text")
        .select(col("doc_id"),
          size(graft.ops.Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      manRows(graft.ops.TrainingRun.curriculumTail(
        d, nShards = 2, seed = 1L, idCol = "doc_id", tokCol = "n_tokens"))
    }
    val q = st.start(st.readJsonDocs(in), trig)
    try {
      assert(st.currentManifest().isEmpty, "manifest before any batch")
      dropFile(in, "b1.json", b1.map { case (i, t) => doc(i, t) })
      q.processAllAvailable()
      assert(manRows(st.currentManifest().get) == wantFor(b1),
        "one-batch manifest diverged from the batch tail")
      dropFile(in, "b2.json", b2.map { case (i, t) => doc(i, t) })
      q.processAllAvailable()
      val got2 = manRows(st.currentManifest().get)
      assert(got2 == wantFor(b1 ++ b2),
        "two-batch manifest diverged from the batch tail over the union")
      // the curriculum really is short-to-long over the UNION: pos
      // order sorts by token count (ids 2,6 length 1 first; id 5 last)
      val lenOf = (b1 ++ b2).map { case (i, t) =>
        i -> t.split(" ").length.toLong }.toMap
      val byPos = got2.sortBy(_._2).map(t => lenOf(t._1))
      assert(byPos == byPos.sorted, s"curriculum order broken: $byPos")
      assert(got2.sortBy(_._2).last._1 == 5L, "longest doc must rank last")
      // a REPLAYED batch folds into the same one-row-per-id store: the
      // manifest is unchanged
      dropFile(in, "b1_replay.json", b1.map { case (i, t) => doc(i, t) })
      q.processAllAvailable()
      assert(manRows(st.currentManifest().get) == got2,
        "a replayed batch moved the curriculum")
    } finally q.stop()
    // a restarted instance serves the committed manifest unchanged
    val st2 = new graft.streaming.StreamingCurriculumPrep(spark, base,
      nShards = 2, seed = 1L)
    assert(manRows(st2.currentManifest().get) == wantFor(b1 ++ b2))
    // CRASH WINDOW: die inside the state swap — recoverSwap must serve
    // the committed generation, not None
    Files.move(Paths.get(s"$base/state"), Paths.get(s"$base/state__old"))
    val st3 = new graft.streaming.StreamingCurriculumPrep(spark, base,
      nShards = 2, seed = 1L)
    assert(manRows(st3.currentManifest().get) == wantFor(b1 ++ b2),
      "mid-swap crash state lost the committed manifest")

    // BATCHING INVARIANCE: an id re-crawled with DIFFERENT texts must
    // commit the same (min) token count whether the copies share a
    // batch or arrive in separate ones — both keys reduce by min
    val copies = Seq(7L -> "one two three four", 7L -> "one",
      8L -> "anchor words here")
    def runWith(batches: Seq[Seq[(Long, String)]]): Seq[(Long, Long, Long)] = {
      val bse = Files.createTempDirectory("graft_scprep_bi").toString
      val inb = s"$bse/in"
      Files.createDirectories(Paths.get(inb))
      val stp = new graft.streaming.StreamingCurriculumPrep(spark, bse,
        nShards = 2, seed = 1L)
      val qq = stp.start(stp.readJsonDocs(inb), trig)
      try {
        batches.zipWithIndex.foreach { case (bb, bi) =>
          dropFile(inb, s"bi$bi.json", bb.map { case (i, t) => doc(i, t) })
          qq.processAllAvailable()
        }
      } finally qq.stop()
      manRows(stp.currentManifest().get)
    }
    val together = runWith(Seq(copies))
    val apart = runWith(Seq(copies.take(1) :+ copies(2), Seq(copies(1))))
    assert(together == apart,
      s"batch boundaries moved the curriculum: $together vs $apart")
  }

  test("streaming doremi-curriculum prep: N-batch manifest equals the composed batch tail") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stdcprep").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, src: String, text: String) =
      s"""{"doc_id":$id,"text":"$text","source":"$src"}"""
    val vocab = Seq("the", "cat", "sat", "on", "mat", "and", "dog", "ran")
    val fluentTxt = "the cat sat on the mat and the dog ran"
    def garbledTxt(i: Int) = new scala.util.Random(i).shuffle(vocab ++ vocab).mkString(" ")
    // sources differ in difficulty AND lengths interleave across
    // batches, so the republished epoch-major rank must move batch-1
    // docs within their epochs
    val b1 = (0 until 6).map(i => (i.toLong, "fluent", fluentTxt)) ++
      (6 until 12).map(i => (i.toLong, "garbled", garbledTxt(i)))
    val b2 = (12 until 24).map(i => (i.toLong, "fluent", fluentTxt + " again"))
    val st = new graft.streaming.StreamingTrainingPrep(spark, base,
      nShards = 4, rounds = 2, seed = 1L, curriculum = true)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    def manRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "copy").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the composed batch chain: fit on the union, bridge to epochs,
    // then THE SAME epoch-major curriculum tail the batch op runs
    def wantFor(docs: Seq[(Long, String, String)]) = {
      val d = docs.toDF("doc_id", "source", "text")
      val w = graft.ops.Sampling.doremiWeights(d, rounds = 2)
      val epochs = graft.ops.Sampling.epochsFromWeights(w)
        .select("source", "epochs_e6").collect()
        .map(r => r.getString(0) -> r.getLong(1) / 1e6).toMap
      manRows(graft.ops.TrainingRun.doremiCurriculumTail(
        d.select(col("doc_id"), col("source"),
          size(graft.ops.Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
        epochs, nShards = 4, seed = 1L, groupCol = "source",
        idCol = "doc_id", tokCol = "n_tokens"))
    }
    val q = st.start(st.readJsonDocs(in), trig)
    try {
      dropFile(in, "b1.json", b1.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      assert(manRows(st.currentManifest().get) == wantFor(b1),
        "one-batch manifest diverged from the composed batch chain")
      dropFile(in, "b2.json", b2.map { case (i, s, t) => doc(i, s, t) })
      q.processAllAvailable()
      val got2 = manRows(st.currentManifest().get)
      assert(got2 == wantFor(b1 ++ b2),
        "two-batch manifest diverged from the composed chain over the union")
      // structure over the union: epoch-major, easy-to-hard inside each
      val lenOf = (b1 ++ b2).map { case (i, _, t) =>
        i -> t.split(" ").length.toLong }.toMap
      val byCopy = got2.groupBy(_._2)
      byCopy.keys.toSeq.sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(byCopy(a).map(_._3).max < byCopy(b).map(_._3).min,
            s"epoch $a overlaps epoch $b")
        case _ => ()
      }
      byCopy.foreach { case (c, rows) =>
        val inEpoch = rows.sortBy(_._3).map(t => lenOf(t._1))
        assert(inEpoch == inEpoch.sorted, s"epoch $c not easy-to-hard")
      }
      // a malformed line (missing text ⇒ NULL textCol) must NOT wedge
      // the stream: it counts 0 tokens (ranks first in its epoch),
      // matching the batch chain over the same doc with empty text
      dropFile(in, "b3.json", Seq("""{"doc_id":99,"source":"fluent"}"""))
      q.processAllAvailable()
      val got3 = manRows(st.currentManifest().get)
      assert(got3.exists(_._1 == 99L), "NULL-text doc lost from the manifest")
      assert(got3 == wantFor(b1 ++ b2 :+ ((99L, "fluent", ""))),
        "NULL-text manifest diverged from the empty-text batch chain")
    } finally q.stop()
    // a restarted handle serves the committed composed manifest
    val st2 = new graft.streaming.StreamingTrainingPrep(spark, base,
      nShards = 4, rounds = 2, seed = 1L, curriculum = true)
    assert(manRows(st2.currentManifest().get) ==
      wantFor(b1 ++ b2 :+ ((99L, "fluent", ""))))
  }

  test("streaming BM25 index: serve equals the batch operator; re-ingest never double-counts") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sbm25").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val bm = new graft.streaming.StreamingBm25(spark, base)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val q = bm.start(bm.readJsonDocs(in), trig)
    val terms = Seq("spark", "query")
    try {
      dropFile(in, "b1.json", Seq(
        doc(1, "spark query engine runs the spark query fast"),
        doc(2, "query planner with window functions"),
        doc(3, "unrelated text about tables and rows")))
      q.processAllAvailable()
      // batch 2: one new doc plus doc 1 RE-SENT with different text —
      // the re-ingest guard keeps the first indexed version
      dropFile(in, "b2.json", Seq(
        doc(4, "spark spark spark shuffle"),
        doc(1, "spark spark spark spark spark spark spark")))
      q.processAllAvailable()
    } finally q.stop()
    // serve from the store == the batch operator over the corpus as
    // INGESTED (doc 1's original text), bit-for-bit
    val corpus = Seq(
      (1L, "spark query engine runs the spark query fast"),
      (2L, "query planner with window functions"),
      (3L, "unrelated text about tables and rows"),
      (4L, "spark spark spark shuffle")).toDF("doc_id", "text")
    val want = graft.ops.TextAnalysis.bm25TopK(corpus, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = bm.topK(terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"index serve diverged: $got vs $want")
    // corpus stats count doc 1 exactly once
    assert(bm.docStats().count() == 4L)
    // the term predicate reaches the postings parquet scan as a pushed
    // filter — THE structural property that makes serve cost Σ df(term)
    // instead of a corpus scan
    val servePlan = bm.topK(terms, k = 10).queryExecution.executedPlan.toString
    assert(servePlan.contains("PushedFilters") && servePlan.contains("In(token"),
      s"term filter not pushed to the postings scan:\n$servePlan")
    // sorted compaction: postings rewrite token-range-sorted with the
    // per-key max healing rule folded in — the layout that turns the
    // pushed filter into actual row-group pruning (§G9: unsorted, the
    // serve silently scanned the store). Serve results must be
    // unchanged, the store canonical (no duplicate keys), and each
    // parquet file internally ordered by token.
    assert(bm.compactStore(maxFiles = 1))
    spark.catalog.refreshByPath(s"$base/postings")
    val afterCompact = bm.topK(terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterCompact == want, "sorted compaction changed serve results")
    val post = spark.read.parquet(s"$base/postings")
    assert(post.groupBy("token", "doc_id")
      .count().where(col("count") > 1).isEmpty, "store not canonical")
    val perFile = post
      .select(col("token"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .collect().groupBy(_.getString(1)).values
    // within-file order check via a per-file re-read: monotone tokens
    val files = perFile.map(_.head.getString(1)).toSeq
    files.foreach { f =>
      val toks = spark.read.parquet(f).select("token")
        .collect().map(_.getString(0)).toSeq
      assert(toks == toks.sorted, s"file $f not token-sorted")
    }
  }

  test("streaming CMS: cells accumulate across batches; a restarted instance answers from the store") {
    val base = Files.createTempDirectory("graft_scms").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def mk() = new graft.streaming.StreamingCms(spark, base, depth = 4, width = 512L)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val c1 = mk()
    val q1 = c1.start(c1.readJsonDocs(in), trig)
    try {
      dropFile(in, "b1.json", Seq(
        doc(1, "alpha beta alpha"), doc(2, "beta gamma")))
      q1.processAllAvailable()
      assert(c1.estimates(Seq("alpha", "beta", "gamma", "delta")) ==
        Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L, "delta" -> 0L))
      // second batch merges into the same cells
      dropFile(in, "b2.json", Seq(doc(3, "alpha delta")))
      q1.processAllAvailable()
      assert(c1.estimates(Seq("alpha", "delta")) ==
        Map("alpha" -> 3L, "delta" -> 1L))
    } finally q1.stop()
    // restart: a new instance serves the persisted cells and keeps merging
    val c2 = mk()
    assert(c2.estimates(Seq("alpha")) == Map("alpha" -> 3L))
    val q2 = c2.start(c2.readJsonDocs(in), trig)
    try {
      dropFile(in, "b3.json", Seq(doc(10, "gamma gamma")))
      q2.processAllAvailable()
      assert(c2.estimates(Seq("alpha", "gamma")) ==
        Map("alpha" -> 3L, "gamma" -> 3L))
      // state stays cell-bounded: never more than depth*width rows
      assert(c2.cells().count() <= 4L * 512L)
    } finally q2.stop()
  }

  test("streaming drift: batches score against the pinned reference; log dedups; re-publish re-aims") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdrift").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val sd = new graft.streaming.StreamingDrift(spark, base)
    sd.publishReference(
      Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text"))
    val q = sd.start(sd.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // batch of the exact reference distribution: drift 0, oov 0
      dropFile(in, "b1.json", Seq(
        doc(10, "the cat sat on the mat"), doc(11, "the cat sat on the mat")))
      q.processAllAvailable()
      // disjoint vocabulary: nothing in-vocab, oov mass = 1e6
      dropFile(in, "b2.json", Seq(doc(12, "zorp blix quux fnord")))
      q.processAllAvailable()
      val log = sd.driftLog().collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(log.length == 2, s"expected 2 log rows, got ${log.toSeq}")
      assert(log(0) == ((12L, 12L, 0L, 0L)), s"same-dist batch drifted: ${log(0)}")
      assert(log(1) == ((4L, 0L, 0L, 1000000L)), s"oov batch wrong: ${log(1)}")
      // re-publish: the yardstick moves, the next batch scores clean
      sd.publishReference(
        Seq((2L, "zorp blix quux fnord")).toDF("doc_id", "text"))
      dropFile(in, "b3.json", Seq(doc(13, "zorp blix")))
      q.processAllAvailable()
      val last = sd.driftLog().collect().last
      assert(last.getLong(4) == 0L, s"re-aimed reference still oov: $last")
    } finally q.stop()
  }

  test("streaming heavy hitters: summary state merges across batches within the MG bound") {
    val base = Files.createTempDirectory("graft_stopk").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val st = new graft.streaming.StreamingTopK(spark, base, capacity = 4)
    val q = st.start(st.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // batch 1: hot×8, warm×3, rare×1 → n = 12, bound ⌊12/5⌋ = 2
      dropFile(in, "b1.json",
        Seq(doc(1, ("hot " * 8).trim + " warm warm warm rare")))
      q.processAllAvailable()
      val (s1, n1) = st.summary()
      assert(n1 == 12L)
      val hot1 = s1.toMap.getOrElse("hot", 0L)
      assert(hot1 >= 6L && hot1 <= 8L, s"hot estimate $hot1 outside [6, 8]")
      // batch 2: hot×4 + three singletons → history n = 19, bound 3:
      // hot (true 12 > 3) must survive the cross-batch merge in-bound
      dropFile(in, "b2.json", Seq(doc(2, "hot hot hot hot x y z")))
      q.processAllAvailable()
      val (s2, n2) = st.summary()
      assert(n2 == 19L)
      assert(s2.size <= 4)
      val hot2 = s2.toMap.getOrElse("hot", 0L)
      assert(hot2 >= 9L && hot2 <= 12L, s"hot estimate $hot2 outside [9, 12]")
    } finally q.stop()
  }

  test("streaming heavy hitters: summary survives a stream restart on the same dir") {
    val base = Files.createTempDirectory("graft_stopk_restart").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val st1 = new graft.streaming.StreamingTopK(spark, base, capacity = 4)
    val q1 = st1.start(st1.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b1.json", Seq(doc(1, "hot hot hot hot hot warm")))
      q1.processAllAvailable()
      assert(st1.summary()._2 == 6L)
    } finally q1.stop()
    // a NEW instance on the same dir (process restart): state must
    // carry over, and the checkpointed source must not replay b1
    val st2 = new graft.streaming.StreamingTopK(spark, base, capacity = 4)
    assert(st2.summary()._2 == 6L) // readable before the stream restarts
    val q2 = st2.start(st2.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b2.json", Seq(doc(2, "hot hot cold")))
      q2.processAllAvailable()
      val (s2, n2) = st2.summary()
      assert(n2 == 9L, s"expected 6 + 3 tokens, got $n2") // no b1 replay
      val hot = s2.toMap.getOrElse("hot", 0L)
      // true 7, bound ⌊9/5⌋ = 1 ⇒ est ∈ [6, 7] and present
      assert(hot >= 6L && hot <= 7L, s"hot estimate $hot outside [6, 7]")
    } finally q2.stop()
  }

  test("streaming heavy hitters: crash between publish and old-dir cleanup self-heals") {
    val base = Files.createTempDirectory("graft_stopk_crash").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val st = new graft.streaming.StreamingTopK(spark, base, capacity = 4)
    val q = st.start(st.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b1.json", Seq(doc(1, "hot hot hot warm")))
      q.processAllAvailable()
      assert(st.summary()._2 == 4L)
      // Simulate swapInto dying AFTER the publish rename but BEFORE
      // deleteTree(old): both summary/ and summary__old/ on disk. The
      // next commit's swapInto would rename summary onto the surviving
      // __old and fail — summary()'s recover-then-clean must clear it.
      val storeDir = new java.io.File(s"$base/summary")
      val oldDir = new java.io.File(s"$base/summary__old")
      Files.createDirectories(oldDir.toPath)
      Files.write(oldDir.toPath.resolve("stale.parquet"), Array[Byte](1, 2, 3))
      assert(storeDir.exists() && oldDir.exists())
      dropFile(in, "b2.json", Seq(doc(2, "hot cold")))
      q.processAllAvailable()
      val (s, n) = st.summary()
      assert(n == 6L, s"expected 4 + 2 tokens after the simulated crash, got $n")
      assert(!oldDir.exists(), "leftover __old dir must be cleared")
      val hot = s.toMap.getOrElse("hot", 0L)
      assert(hot >= 3L && hot <= 4L, s"hot estimate $hot outside [3, 4]")
    } finally q.stop()
  }

  test("streaming near-dup: signature store drops near-duplicates across and within batches") {
    val base = Files.createTempDirectory("graft_sndup").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val B = A.replace(" mu", " nu")      // J(A,B) = 9/11 ≈ 0.82
    val D = A.replace("alpha ", "omega ") // J(A,D) = 9/11 vs stored A
    val sd = new graft.streaming.StreamingNearDup(spark, base)
    val q = sd.start(sd.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // batch 1: A (id 2) and B (id 1) near-dup each other → min id 1
      // wins the cluster; 3 is unrelated
      dropFile(in, "b1.json", Seq(
        doc(2, A), doc(1, B), doc(3, "completely unrelated text about fish")))
      q.processAllAvailable()
      spark.catalog.refreshByPath(sd.keptPath)
      val kept1 = spark.read.parquet(sd.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept1.toSeq == Seq(1L, 3L))
      // batch 2: D near-dups the STORED survivor → dropped; 5 is new
      // and its line is duplicated VERBATIM — same-id copies slip every
      // candidate join, so the per-id dedup must keep exactly one and
      // write ONE signature row (no store fan-out)
      dropFile(in, "b2.json", Seq(
        doc(4, D), doc(5, "a genuinely fresh document with novel words"),
        doc(5, "a genuinely fresh document with novel words")))
      q.processAllAvailable()
      spark.catalog.refreshByPath(sd.keptPath)
      val kept2 = spark.read.parquet(sd.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept2.toSeq == Seq(1L, 3L, 5L))
      spark.catalog.refreshByPath(s"$base/signatures")
      val sigRows5 = spark.read.parquet(s"$base/signatures")
        .where(col("id") === 5L).count()
      assert(sigRows5 == 1L, s"signature store fan-out: $sigRows5 rows for id 5")
    } finally q.stop()
  }

  test("streaming simhash: 8-byte signature store drops copies across batches and restarts") {
    val base = Files.createTempDirectory("graft_ssim").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val sd = new graft.streaming.StreamingSimhash(spark, base)
    val q = sd.start(sd.readJsonDocs(in), trig)
    try {
      // batch 1: ids 2 and 1 are verbatim copies (hamming 0) → min id 1
      // survives the within-batch cluster; 3 is unrelated
      dropFile(in, "b1.json", Seq(
        doc(2, A), doc(1, A), doc(3, "completely unrelated text about fish")))
      q.processAllAvailable()
      spark.catalog.refreshByPath(sd.keptPath)
      assert(spark.read.parquet(sd.keptPath).collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 3L))
      // batch 2: a copy of the STORED survivor → cross-dropped; 5 fresh
      dropFile(in, "b2.json", Seq(
        doc(4, A), doc(5, "a genuinely fresh document with novel words")))
      q.processAllAvailable()
      spark.catalog.refreshByPath(sd.keptPath)
      assert(spark.read.parquet(sd.keptPath).collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 3L, 5L))
      // state is ONE long per kept doc
      spark.catalog.refreshByPath(s"$base/signatures")
      val sigs = spark.read.parquet(s"$base/signatures")
      assert(sigs.count() == 3L && sigs.columns.toSeq == Seq("id", "simhash"))
    } finally q.stop()
    // restart: a NEW instance serves the persisted stores
    val sd2 = new graft.streaming.StreamingSimhash(spark, base)
    assert(sd2.compactStore(maxFiles = 1))
    val q2 = sd2.start(sd2.readJsonDocs(in), trig)
    try {
      dropFile(in, "b3.json", Seq(
        doc(6, "a genuinely fresh document with novel words"), // copy of kept 5
        doc(7, "entirely new post-restart content here")))
      q2.processAllAvailable()
      spark.catalog.refreshByPath(sd2.keptPath)
      assert(spark.read.parquet(sd2.keptPath).collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 3L, 5L, 7L))
    } finally q2.stop()
  }

  test("streaming simhash: compaction heals at-least-once double-appends") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ssimc").toString
    // simulate an at-least-once replay: the same batch's signature and
    // block rows land TWICE (and in two files, so compaction triggers)
    val sig = Seq((1L, 111L), (2L, 222L)).toDF("id", "simhash")
    val bk = graft.ops.Dedup.simhashBands(sig, nBlocks = 4, bits = 64)
    for (_ <- 0 until 2) {
      sig.coalesce(1).write.mode("append").parquet(s"$base/signatures")
      bk.coalesce(1).write.mode("append").parquet(s"$base/buckets")
    }
    val sd = new graft.streaming.StreamingSimhash(spark, base)
    assert(sd.compactStore(maxFiles = 1))
    spark.catalog.refreshByPath(s"$base/signatures")
    spark.catalog.refreshByPath(s"$base/buckets")
    // canonicalized: back to the 'one long per kept doc' state bound
    val sigs = spark.read.parquet(s"$base/signatures")
    assert(sigs.count() == 2L, "duplicate signature rows survived compaction")
    assert(sigs.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 111L), (2L, 222L)))
    val bks = spark.read.parquet(s"$base/buckets")
    assert(bks.count() == 8L, "duplicate block rows survived compaction")
  }

  test("streaming vec near-dup: IVF cell store drops near-dups across batches; index survives restart") {
    val base = Files.createTempDirectory("graft_svndup").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def vec(id: Long, v: Seq[Double]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    val A = Seq(1.0, 0.0, 0.0, 0.0)
    val B = Seq(0.999, 0.04, 0.0, 0.0)   // cos(A,B) ≈ 0.999
    val C = Seq(0.0, 1.0, 0.0, 0.0)      // unrelated
    val D = Seq(0.998, -0.05, 0.0, 0.0)  // near-dups stored A-cluster
    val E = Seq(0.0, 0.0, 1.0, 0.0)      // fresh
    def mkStream() = new graft.streaming.StreamingVecNearDup(spark, base,
      threshold = 0.7, nlist = 4, nprobe = 2)
    // batch 1: A (id 2) and B (id 1) near-dup each other → min id 1
    // survives; 3 is unrelated. Centroids train on THIS batch and
    // persist as the index's pinned version.
    val s1 = mkStream()
    val q1 = s1.start(s1.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b1.json", Seq(vec(2, A), vec(1, B), vec(3, C)))
      q1.processAllAvailable()
      spark.catalog.refreshByPath(s1.keptPath)
      val kept1 = spark.read.parquet(s1.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept1.toSeq == Seq(1L, 3L))
    } finally q1.stop()
    // RESTART: a NEW instance over the same dir must resume the same
    // index — centroids and cell assignments read back from disk, so
    // batch 2's near-dup of a batch-1 survivor is caught without any
    // in-memory state. Id 5 is fresh and duplicated VERBATIM in the
    // batch: the per-id dedup must keep exactly one and write ONE
    // assignment row (no store fan-out).
    val s2 = mkStream()
    val q2 = s2.start(s2.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b2.json", Seq(vec(4, D), vec(5, E), vec(5, E)))
      q2.processAllAvailable()
      spark.catalog.refreshByPath(s2.keptPath)
      val kept2 = spark.read.parquet(s2.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept2.toSeq == Seq(1L, 3L, 5L),
        s"restart lost the index: kept ${kept2.toSeq}")
      // one centroid version, one assignment row per kept id
      spark.catalog.refreshByPath(s"$base/centroids")
      val versions = spark.read.parquet(s"$base/centroids")
        .select("version").distinct().count()
      assert(versions == 1L, s"$versions centroid versions in the store")
      spark.catalog.refreshByPath(s"$base/cells")
      val cellRows = spark.read.parquet(s"$base/cells")
        .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cellRows == Map(1L -> 1L, 3L -> 1L, 5L -> 1L),
        s"assignment store fan-out: $cellRows")
    } finally q2.stop()
    // RETRAIN (maintenance-window op, stream stopped): quantizer
    // rebuilt on the full kept corpus, every assignment re-keyed under
    // ONE new version — and the re-keyed index still catches dups of
    // pre-retrain survivors
    val s3 = mkStream()
    assert(s3.retrain(newNlist = 3))
    spark.catalog.refreshByPath(s"$base/centroids")
    val centVers = spark.read.parquet(s"$base/centroids")
      .select("version").distinct().collect().map(_.getLong(0))
    assert(centVers.length == 1, s"${centVers.length} centroid versions")
    // the CURRENT generation fully re-keys the kept corpus; the prior
    // generation's rows stay parked behind the version pin (append-
    // then-commit ordering — disk until compaction, never read)
    spark.catalog.refreshByPath(s"$base/cells")
    val retrained = spark.read.parquet(s"$base/cells")
    assert(retrained.where(col("version") === centVers.head)
      .select("id").distinct().count() == 3L)
    // compactStore folds the superseded-generation prune in: the prior
    // generation's parked rows are DROPPED (store would otherwise grow
    // by one full corpus per retrain), the committed generation kept
    assert(retrained.where(col("version") =!= centVers.head).count() > 0,
      "fixture must have parked old-generation rows for the prune to drop")
    assert(s3.compactStore(maxFiles = 0))
    spark.catalog.refreshByPath(s"$base/cells")
    val compacted = spark.read.parquet(s"$base/cells")
    assert(compacted.where(col("version") =!= centVers.head).count() == 0L,
      "superseded-generation cell rows must be pruned by compaction")
    assert(compacted.select("id").distinct().count() == 3L)
    val q3 = s3.start(s3.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b3.json", Seq(
        vec(6, Seq(0.997, 0.06, 0.0, 0.0)), // near-dups the stored A-cluster
        vec(7, Seq(0.0, 0.0, 0.0, 1.0))))   // fresh
      q3.processAllAvailable()
      spark.catalog.refreshByPath(s3.keptPath)
      val kept3 = spark.read.parquet(s3.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept3.toSeq == Seq(1L, 3L, 5L, 7L),
        s"post-retrain index missed a cross dup: kept ${kept3.toSeq}")
    } finally q3.stop()
    // CRASH WINDOW: die between retrain's two commit renames — the
    // primary centroid dir is gone, only the __old staging dir exists.
    // loadCentroids' fallback must keep the OLD generation serving
    // (cells for it are intact), not bootstrap a fresh index that
    // forgets the store.
    Files.move(Paths.get(s"$base/centroids"), Paths.get(s"$base/centroids.__old"))
    val s4 = mkStream()
    val q4 = s4.start(s4.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b4.json", Seq(
        vec(8, Seq(0.996, 0.07, 0.0, 0.0)),  // near-dups the stored A-cluster
        vec(9, Seq(0.5, 0.5, 0.0, 0.5))))    // fresh (cos < 0.7 vs all kept)
      q4.processAllAvailable()
      spark.catalog.refreshByPath(s4.keptPath)
      val kept4 = spark.read.parquet(s4.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept4.toSeq == Seq(1L, 3L, 5L, 7L, 9L),
        s"mid-commit crash state lost the index: kept ${kept4.toSeq}")
    } finally q4.stop()
  }

  test("streaming decontam: fixed benchmark index drops hits across batches; N-batch ≡ batch; restart; refusals") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdecon").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def vec(id: Long, v: Seq[Double]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    def df(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as float)) as embedding")
    // benchmark: two eval items on different axes
    val bench = df(Seq(100L -> Seq(1.0, 0.0, 0.0, 0.0),
                       101L -> Seq(0.0, 1.0, 0.0, 0.0)))
    val b1 = Seq(1L -> Seq(0.999, 0.04, 0.0, 0.0),  // ≈ bench 100 → dropped
                 2L -> Seq(0.0, 0.0, 1.0, 0.0))     // clean → kept
    val b2 = Seq(3L -> Seq(0.03, 0.998, 0.0, 0.0),  // ≈ bench 101 → dropped
                 4L -> Seq(0.0, 0.0, 0.0, 1.0))     // clean → kept
    def mk() = new graft.streaming.StreamingDecontam(spark, base,
      threshold = 0.7, nlist = 2, nprobe = 99) // nprobe clamps to |cells|
    // start() before indexBenchmark must refuse loudly — a decontam
    // stream that silently keeps everything is the failure mode
    intercept[IllegalArgumentException] {
      val s0 = mk(); s0.start(s0.readJsonVecs(in),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    }
    val s1 = mk()
    assert(s1.indexBenchmark(bench) == 2L)
    val q1 = s1.start(s1.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b1.json", b1.map { case (i, v) => vec(i, v) })
      q1.processAllAvailable()
      spark.catalog.refreshByPath(s1.keptPath)
      assert(spark.read.parquet(s1.keptPath).collect().map(_.getLong(0)).sorted
        .toSeq == Seq(2L))
    } finally q1.stop()
    // RESTART: the index is immutable on disk — a new instance over the
    // same dir serves it with no rebuild
    val s2 = mk()
    val q2 = s2.start(s2.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b2.json", b2.map { case (i, v) => vec(i, v) })
      q2.processAllAvailable()
      spark.catalog.refreshByPath(s2.keptPath)
      val kept = spark.read.parquet(s2.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept.toSeq == Seq(2L, 4L), s"restart lost the index: ${kept.toSeq}")
      // N-batch ≡ batch: the streamed kept set equals the batch op's
      // kept flags over the union corpus (both at exhaustive probing)
      val batchKept = graft.ops.Similarity.semanticDecontam(
          df(b1 ++ b2), bench, threshold = 0.7, nlist = 2, nprobe = 2)
        .where(col("kept")).collect().map(_.getLong(0)).sorted
      assert(batchKept.toSeq == kept.toSeq,
        s"stream ${kept.toSeq} diverged from batch ${batchKept.toSeq}")
    } finally q2.stop()
    // REBUILD retargets the index: after re-indexing on a benchmark
    // that matches doc 2's axis instead, a replayed doc-2 twin is now
    // the one dropped (fresh baseDir-independent check via kept delta)
    val s2b = mk()
    assert(s2b.indexBenchmark(df(Seq(200L -> Seq(0.0, 0.0, 1.0, 0.0)))) == 1L)
    val q2b = s2b.start(s2b.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b3.json", Seq(vec(5, Seq(0.0, 0.04, 0.998, 0.0)), // ≈ 200
                                  vec(6, Seq(0.999, 0.04, 0.0, 0.0)))) // old bench axis, now clean
      q2b.processAllAvailable()
      spark.catalog.refreshByPath(s2b.keptPath)
      val kept3 = spark.read.parquet(s2b.keptPath).collect().map(_.getLong(0)).sorted
      assert(kept3.toSeq == Seq(2L, 4L, 6L),
        s"rebuild did not retarget the index: ${kept3.toSeq}")
    } finally q2b.stop()
    // crash-window state: indexBenchmark deletes the meta certificate
    // FIRST, so a rebuild that dies mid-way leaves no certificate and
    // start() refuses — never a stale meta over mixed generations
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/meta"))
    intercept[IllegalArgumentException] {
      val sx = mk(); sx.start(sx.readJsonVecs(in),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    }
    // empty benchmark: bench_n = 0 persists, everything passes — the
    // batch op's empty-benchmark identity made explicit
    val base2 = Files.createTempDirectory("graft_sdecon_empty").toString
    Files.createDirectories(Paths.get(s"$base2/in"))
    val s3 = new graft.streaming.StreamingDecontam(spark, base2, threshold = 0.7)
    assert(s3.indexBenchmark(bench.limit(0)) == 0L)
    val q3 = s3.start(s3.readJsonVecs(s"$base2/in"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(s"$base2/in", "b1.json", b1.map { case (i, v) => vec(i, v) })
      q3.processAllAvailable()
      spark.catalog.refreshByPath(s3.keptPath)
      assert(spark.read.parquet(s3.keptPath).collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L))
    } finally q3.stop()
  }

  test("streaming decontam: index rebuild under a live stream fails the batch loudly") {
    // ADVICE r12: processBatch filtered cells to the version captured at
    // start(); a re-run of indexBenchmark on the same baseDir (documented
    // idempotent, nothing refuses it while a stream is live) emptied
    // benchCells and every batch vector was SILENTLY kept. The guard
    // re-reads the one-row meta per batch and fails on generation
    // mismatch instead of emitting an all-kept append.
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdecon_guard").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def df(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as float)) as embedding")
    val bench = df(Seq(100L -> Seq(1.0, 0.0, 0.0, 0.0)))
    val sd = new graft.streaming.StreamingDecontam(spark, base,
      threshold = 0.7, nlist = 1, nprobe = 1)
    assert(sd.indexBenchmark(bench) == 1L)
    val q = sd.start(sd.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // rebuild UNDER the live stream: new generation on disk, the
      // stream still holds the old version
      assert(sd.indexBenchmark(df(Seq(200L -> Seq(0.0, 1.0, 0.0, 0.0)))) == 1L)
      dropFile(in, "b1.json",
        Seq("""{"vec_id":1,"embedding":[0.999,0.04,0.0,0.0]}"""))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("rebuilt under a live stream")),
        s"wrong failure: ${msgs(e)}")
      // and nothing was silently kept
      val keptFiles = new java.io.File(sd.keptPath).listFiles()
      assert(keptFiles == null || !keptFiles.exists(_.getName.endsWith(".parquet")),
        "guard fired but an all-kept append still landed")
    } finally q.stop()
  }

  test("streaming decontam: EMPTY-benchmark stream also fails loudly on a rebuild") {
    // ADVICE r13: the generation guard was bypassed by the bench_n == 0
    // early return — a stream started against an empty benchmark that
    // saw the index rebuilt NON-EMPTY under it kept silently appending
    // everything, the exact all-kept failure the guard exists to close.
    // The guard now runs before the empty-benchmark identity branch.
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdecon_guard0").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def df(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as float)) as embedding")
    val sd = new graft.streaming.StreamingDecontam(spark, base,
      threshold = 0.7, nlist = 1, nprobe = 1)
    assert(sd.indexBenchmark(df(Nil)) == 0L) // empty benchmark generation
    val q = sd.start(sd.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // rebuild NON-EMPTY under the live empty-benchmark stream
      assert(sd.indexBenchmark(df(Seq(100L -> Seq(1.0, 0.0, 0.0, 0.0)))) == 1L)
      dropFile(in, "b1.json",
        Seq("""{"vec_id":1,"embedding":[0.999,0.04,0.0,0.0]}"""))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("rebuilt under a live stream")),
        s"wrong failure: ${msgs(e)}")
      val keptFiles = new java.io.File(sd.keptPath).listFiles()
      assert(keptFiles == null || !keptFiles.exists(_.getName.endsWith(".parquet")),
        "guard fired but an all-kept append still landed")
    } finally q.stop()
  }

  test("vec near-dup geometry pin: cells persist FLAT assignments in the auto-superProbe regime; a default reopen serves them") {
    // the r11 sweep completing the r9/r10 geometry-pin work: at
    // nlist ≥ AutoSuperProbeNlist the AUTO probe default is two-level,
    // so the cell store — persisted flat since its first version —
    // must keep PINNING flat on every path or a reopened default
    // handle would probe a different Voronoi geometry than the rows
    // on disk (silent under-dedup).
    assert(graft.ops.Similarity
      .resolveSuperProbe(300, None).contains(graft.ops.Similarity.AutoSuperProbeWidth),
      "premise: AUTO must be two-level at nlist 300")
    val base = Files.createTempDirectory("graft_svndup_geo").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val rnd = new scala.util.Random(11)
    def vecJson(id: Long, v: Seq[Double]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    val vecs = (0 until 300).map(i => i.toLong -> Seq.fill(64)(rnd.nextGaussian()))
    def mk() = new graft.streaming.StreamingVecNearDup(spark, base,
      threshold = 0.7, nlist = 300, nprobe = 2)
    val s1 = mk()
    val q1 = s1.start(s1.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b1.json", vecs.map { case (i, v) => vecJson(i, v) })
      q1.processAllAvailable()
    } finally q1.stop()
    graft.functions.ensureRegistered(spark)
    spark.catalog.refreshByPath(s"$base/centroids")
    val cents: Seq[Seq[Double]] = spark.read.parquet(s"$base/centroids")
      .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Int]("dim"),
        r.getAs[Double]("value")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    assert(cents.length >= graft.ops.Similarity.AutoSuperProbeNlist,
      s"premise: trained ${cents.length} cells, need the auto regime")
    spark.catalog.refreshByPath(s"$base/cells")
    val stored = spark.read.parquet(s"$base/cells")
      .select("id", "v", "cell").localCheckpoint()
    // 1. the persisted assignment IS the flat geometry, row for row
    val flatDiff = stored.where(col("cell") =!=
      element_at(graft.functions.ivf_probe(col("v"), cents, 1), 1)).count()
    assert(flatDiff == 0L, s"$flatDiff stored cells diverge from the flat probe")
    // 2. ...and the pin is LOAD-BEARING: for boundary-straddling
    // queries (fresh random vectors, far from every centroid — unlike
    // the stored vectors, which ARE their own centroids here) the
    // two-level probe the AUTO default would pick ranks a different
    // top cell than flat, so an unpinned probe WOULD mismatch the
    // stored geometry
    import spark.implicits._
    val probes = Seq.fill(200)(Seq.fill(64)(rnd.nextGaussian())).toDF("v")
    val hierDiff = probes.where(
      element_at(graft.functions.ivf_probe(col("v"), cents, 1), 1) =!=
      element_at(graft.functions.ivf_probe_hier(col("v"), cents, 1,
        graft.ops.Similarity.AutoSuperProbeWidth), 1)).count()
    assert(hierDiff > 0L,
      "two-level probe agrees with flat on every query - divergence premise gone, re-examine the pin")
    // 3. a NEW default handle over the same dir serves the flat store:
    // a near-copy of a stored survivor is caught, a fresh vector kept
    val dupOf0 = vecs.head._2.updated(0, vecs.head._2.head + 0.01)
    val fresh = Seq.fill(64)(rnd.nextGaussian())
    val s2 = mk()
    val q2 = s2.start(s2.readJsonVecs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b2.json", Seq(vecJson(9999L, dupOf0), vecJson(9998L, fresh)))
      q2.processAllAvailable()
      spark.catalog.refreshByPath(s2.keptPath)
      val kept = spark.read.parquet(s2.keptPath)
        .where(col("vec_id") >= 9000L).collect().map(_.getLong(0)).toSeq
      assert(kept == Seq(9998L),
        s"default reopen mis-served the flat store: new-id survivors $kept")
    } finally q2.stop()
  }

  test("counter streaming path: 5s sums, cascade adds") {
    val base = Files.createTempDirectory("graft_cstream").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val si = new StreamingIngest(spark, base)
    val q = si.startCounterTier(si.readJsonStream(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
    try {
      dropFile(in, "c1.json", Seq(
        line("reqs", "counter", T0, Seq(1, 1, 3)),
        line("reqs", "counter", T0 + 2000, Seq(2)),
        line("reqs", "counter", T0 + 31000, Seq(5)),
        line("reqs", "counter", T0 + 120000, Seq(1))))
      q.processAllAvailable()
      // the watermark-advance no-data batch that flushes closed windows
      // can land just after processAllAvailable — poll briefly
      // a live sink's file listing is cached per path in the session;
      // refresh before each poll or the first (racy) listing sticks
      val deadline = System.currentTimeMillis() + 15000
      def sinkCount(): Long = {
        spark.catalog.refreshByPath(si.counterRawTierPath)
        spark.read.parquet(si.counterRawTierPath).count()
      }
      while (System.currentTimeMillis() < deadline && sinkCount() < 2) {
        Thread.sleep(250)
        q.processAllAvailable()
      }

    } finally q.stop()
    spark.catalog.refreshByPath(si.counterRawTierPath)
    val raw = spark.read.parquet(si.counterRawTierPath)
    val byBucket = raw.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byBucket(T0) == 7L)        // 1+1+3+2 in the same 5s group
    assert(byBucket(T0 + 30000) == 5L)
    si.runCounterCascadeIncrement(Seq(30000L))
    val t30 = spark.read.parquet(si.counterTierPath(30000L))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // only fully-closed tier buckets roll up: the newest source bucket
    // (T0+30s) sits in a 30s tier bucket that is still open
    assert(t30 == Map(T0 -> 7L))
  }

  test("streaming raw tier: watermark closes 5s buckets, late rows dropped; cascade increments") {
    val base = Files.createTempDirectory("graft_stream").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))

    val si = new StreamingIngest(spark, base)
    val q = si.startRawTier(si.readJsonStream(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
    try {
      // batch 1: two 5s groups + a watermark pusher at +120s
      dropFile(in, "b1.json", Seq(
        line("lat", "timer", T0, Seq(100)),
        line("lat", "timer", T0 + 1000, Seq(200)),
        line("lat", "timer", T0 + 7000, Seq(300)),
        line("lat", "timer", T0 + 120000, Seq(1))))
      q.processAllAvailable()

      // batch 2: a late row (before watermark T0+90s → dropped) and a
      // fresh row + pusher to flush it
      dropFile(in, "b2.json", Seq(
        line("lat", "timer", T0 + 20000, Seq(999)),
        line("lat", "timer", T0 + 115000, Seq(400)),
        line("lat", "timer", T0 + 300000, Seq(1))))
      q.processAllAvailable()
    } finally q.stop()

    val raw = spark.read.parquet(si.rawTierPath)
    val buckets = raw.select("bucket_start").collect().map(_.getLong(0)).toSet
    assert(buckets.contains(T0))          // [T0, T0+5s) closed by pusher
    assert(buckets.contains(T0 + 5000))   // second group
    assert(buckets.contains(T0 + 115000)) // flushed by second pusher
    assert(!buckets.contains(T0 + 20000), "late row must be dropped by watermark")

    // cascade: 30s tier must equal a direct regroup of the closed raw buckets
    si.runCascadeIncrement(Seq(30000L))
    val tier30 = si.tier(30000L)
    val expected = raw.where(col("bucket_start") <= (raw.agg(max("bucket_start"))
        .collect()(0).getLong(0) / 30000L) * 30000L - 1)
      .groupBy(col("metric"), graft.rollup.Rollup.bucketOf(col("bucket_start"), 30000L).as("bucket_start"))
      .agg(hdr_merge(col("sketch")).as("sketch"))
    assert(tier30.count() == expected.count())
    val got = tier30.orderBy("metric", "bucket_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
    val want = expected.orderBy("metric", "bucket_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
    assert(got.toSeq == want.toSeq)

    // idempotent: a second increment with no new data adds nothing
    val before = tier30.count()
    si.runCascadeIncrement(Seq(30000L))
    assert(si.tier(30000L).count() == before)

    // query side: influx queries served from the live streaming tiers
    val provider = new graft.streaming.StreamingTierProvider(spark, si,
      Seq(graft.planner.Metric("lat", "timer")))
    val planner = new graft.planner.InfluxPlanner(provider)
    var res: Seq[graft.planner.SeriesResult] = Nil
    val plans = executedPlans {
      res = planner.execute(spark,
        s"""select count, max from "lat" where time between $T0 and ${T0 + 200000} force group by time(30s)""")
    }
    val series = res.map(r => r.id -> r.points.map { case (t, v) => t -> v.asInstanceOf[Double] }.toMap).toMap
    val direct = raw.where(col("bucket_start") < T0 + 90000) // closed 30s buckets only
      .groupBy(graft.rollup.Rollup.bucketOf(col("bucket_start"), 30000L).as("b"))
      .agg(graft.functions.hdr_summary(hdr_merge(col("sketch"))).as("s"))
      .select(col("b"), col("s.count"), col("s.max")).collect()
      .map(r => (r.getLong(0), r.getLong(1).toDouble, r.getLong(2).toDouble))
    assert(direct.nonEmpty)
    direct.foreach { case (b, cnt, mx) =>
      assert(series("lat.count")(b) == cnt)
      assert(series("lat.max")(b) == mx)
    }

    // the streaming-built tier is date-partitioned and the influx read
    // prunes it: PartitionFilters on bucket_date in the physical plan of
    // the query's one source read
    val tierDirs = new java.io.File(si.tierPath(30000L)).listFiles()
      .filter(_.getName.startsWith("bucket_date=")).map(_.getName)
    assert(tierDirs.nonEmpty, "streaming tier must be bucket_date-partitioned")
    assert(plans.size == 1, s"one source read expected:\n${plans.mkString("\n")}")
    val plan = plans.head
    assert(plan.contains("PartitionFilters") && plan.contains("bucket_date"),
      s"streaming-served influx plan must prune partitions:\n$plan")

    // retention works on the streaming tier dir (reference TTL story):
    // everything is older than a 1-day TTL measured 40 days later
    val dropped = si.store.enforceRetention(
      graft.streaming.StreamingIngest.HistKind, 30000L,
      ttlMs = 86400000L, nowMs = T0 + 40L * 86400000L)
    assert(dropped.nonEmpty, "retention must drop closed streaming partitions")
    spark.catalog.refreshByPath(si.tierPath(30000L))
    assert(new java.io.File(si.tierPath(30000L)).listFiles()
      .count(_.getName.startsWith("bucket_date=")) == 0)

    // raw-sink retention on the HISTOGRAM kind: with the cursor at the
    // single ingested day, nothing may drop (cursor guard) even at
    // ttl 0; the cascade still reads the sink cleanly afterwards
    val rawDropped = si.enforceRawRetention(ttlMs = 0L,
      nowMs = T0 + 40L * 86400000L, tiers = Seq(30000L))
    assert(rawDropped(graft.streaming.StreamingIngest.HistKind).isEmpty,
      "cursor-day raw partition dropped")
    si.runCascadeIncrement(Seq(30000L)) // no error, no new data
  }

  test("multi-day soak: ingest → cascade → query → retention; cursors survive restarts") {
    val DAY = 86400000L
    val base = Files.createTempDirectory("graft_soak").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    import graft.streaming.StreamingIngest
    val Counter = StreamingIngest.CounterKind

    val si = new StreamingIngest(spark, base)
    val q = si.startCounterTier(si.readJsonStream(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
    try {
      // three simulated days; each day: two closed 30s buckets of "reqs"
      // (sums 3 and d+1) plus a same-day "push" row advancing the
      // watermark far enough to flush and close them
      for (d <- 0 to 2) {
        val dayT = T0 + d * DAY
        dropFile(in, s"day$d.json", Seq(
          line("reqs", "counter", dayT, Seq(1, 2)),
          line("reqs", "counter", dayT + 30000, Seq(d + 1.0)),
          line("push", "counter", dayT + 120000, Seq(1))))
        q.processAllAvailable()
        // each day's cascade runs in a FRESH instance — a restarted
        // process must pick up the on-disk cursors, not re-roll
        new StreamingIngest(spark, base).runCounterCascadeIncrement(Seq(30000L))
      }
      // day-3 pusher: advances the watermark so day 2's second bucket
      // flushes and its 30s tier bucket closes for the final cascade
      dropFile(in, "day3.json", Seq(line("push", "counter", T0 + 3 * DAY, Seq(1))))
      q.processAllAvailable()
      new StreamingIngest(spark, base).runCounterCascadeIncrement(Seq(30000L))
    } finally q.stop()

    def tierCount(): Long = {
      spark.catalog.refreshByPath(si.counterTierPath(30000L))
      si.store.readAll(Counter, 30000L).where(col("metric") === "reqs").count()
    }
    // 2 closed reqs buckets per day × 3 days, no duplicates from the
    // per-day restarts
    assert(tierCount() == 6L, s"expected 6 tier rows, got ${tierCount()}")

    // an idempotent re-run on yet another fresh instance adds nothing
    new StreamingIngest(spark, base).runCounterCascadeIncrement(Seq(30000L))
    assert(tierCount() == 6L, "cursor did not survive the restart: cascade re-rolled")

    // query across the whole span from the live tiers
    val provider = new graft.streaming.StreamingTierProvider(spark, si,
      Seq(graft.planner.Metric("reqs", "counter")))
    val planner = new graft.planner.InfluxPlanner(provider)
    def points(): Map[Long, Double] = planner.execute(spark,
      s"""select count from "reqs" where time between $T0 and ${T0 + 3 * DAY} force group by time(30s)""")
      .head.points.map { case (t, v) => t -> v.asInstanceOf[Double] }.toMap
    val full = points()
    for (d <- 0 to 2) {
      assert(full(T0 + d * DAY) == 3.0)
      assert(full(T0 + d * DAY + 30000) == (d + 1).toDouble)
    }

    // retention at now = T0+3d with a 1-day TTL keeps only day 2
    val dropped = si.store.enforceRetention(Counter, 30000L,
      ttlMs = DAY, nowMs = T0 + 3 * DAY)
    assert(dropped.sorted ==
      Seq(graft.sources.TierStore.utcDateOf(T0),
        graft.sources.TierStore.utcDateOf(T0 + DAY)).map("bucket_date=" + _))
    spark.catalog.refreshByPath(si.counterTierPath(30000L))

    // dropped partitions never serve again: day-0/1 points vanish from
    // the same query; day-2 points are intact
    val after = points()
    assert(!after.contains(T0) && !after.contains(T0 + DAY),
      s"dropped partitions still serve: $after")
    assert(after(T0 + 2 * DAY) == 3.0 && after(T0 + 2 * DAY + 30000) == 3.0)

    // and cursors still survive retention: no re-roll of the raw tier
    // (which retention did NOT touch) into the now-shorter tier table
    new StreamingIngest(spark, base).runCounterCascadeIncrement(Seq(30000L))
    assert(tierCount() == 2L, "cascade re-rolled dropped days after retention")

    // raw-sink retention: a zero ttl wants every raw partition gone,
    // but the cursor guard keeps the cursor's own day (its tail isn't
    // fully rolled) — only days strictly before it drop
    def rawDate(ms: Long) = "bucket_date=" + graft.sources.TierStore.utcDateOf(ms)
    val rawDropped = si.enforceRawRetention(ttlMs = 0L, nowMs = T0 + 3 * DAY,
      tiers = Seq(30000L))
    assert(rawDropped(Counter).sorted == Seq(rawDate(T0), rawDate(T0 + DAY)))
    val rawLeft = new java.io.File(si.counterRawTierPath).listFiles().map(_.getName)
    assert(rawLeft.contains(rawDate(T0 + 2 * DAY)),
      "cursor-day raw partition must survive retention")
    // the cascade probe and increments prune to >= the cursor day, so
    // the shortened sink still reads cleanly and nothing re-rolls
    new StreamingIngest(spark, base).runCounterCascadeIncrement(Seq(30000L))
    assert(tierCount() == 2L)
  }

  test("streaming cascade equals the batch cascade on every tier; 1 h percentiles equal raw") {
    import graft.rollup.Rollup
    import org.apache.spark.sql.streaming.Trigger
    val H = 3600000L
    val base = Files.createTempDirectory("graft_cascade_eq").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val si = new StreamingIngest(spark, base)
    val stream = si.readJsonStream(in)
    val rnd = new scala.util.Random(42L)
    val metrics = Seq("lat_a" -> "timer", "lat_b" -> "gauge", "req_a" -> "counter", "req_b" -> "counter")
    // every posted (metric, ts, value), for the direct check at 1 h
    val posted = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def batchLine(metric: String, mtype: String, ms: Seq[(Long, Seq[Long])]): String =
      s"""{"metrics":[{"name":"$metric","mtype":"$mtype","measurements":[""" +
        ms.map { case (ts, vs) => s"""{"ts":$ts,"values":[${vs.mkString(",")}]}""" }
          .mkString(",") + "]}]}"
    for (tick <- 0 until 3) {
      val from = T0 + tick * H
      val lines = metrics.map { case (metric, mtype) =>
        def value(): Long = if (mtype == "counter") 1L + rnd.nextInt(5) else rnd.nextInt(2000).toLong
        // one measurement per 15 s of event time, written in shuffled
        // order; from the second tick on, rows up to 25 s behind the
        // previous tick's newest row — inside the 30 s watermark, into
        // 5 s buckets that are still open
        val onTime = (0 until 240).map(k => from + k * 15000L + rnd.nextInt(15000))
        val behind = if (tick == 0) Nil else (0 until 3).map(_ => from - 1 - rnd.nextInt(25000))
        val ms = rnd.shuffle(onTime ++ behind).map(ts => ts -> Seq.fill(1 + rnd.nextInt(3))(value()))
        ms.foreach { case (ts, vs) => vs.foreach(v => posted += ((metric, ts, v))) }
        batchLine(metric, mtype, ms)
      }
      dropFile(in, s"tick$tick.json", lines)
      val sinks = Seq(si.startRawTier(stream, Trigger.AvailableNow()),
        si.startCounterTier(stream, Trigger.AvailableNow()))
      sinks.foreach(_.awaitTermination())
      si.runCascadeIncrement()
      si.runCounterCascadeIncrement()
    }

    // every closed bucket of every tier equals the batch tierUp chain
    // over the same raw sink (sketches compared byte for byte)
    def rows(df: org.apache.spark.sql.DataFrame, column: String): Seq[(String, Long, Any)] =
      df.select("metric", "bucket_start", column).orderBy("metric", "bucket_start").collect()
        .map(r => (r.getString(0), r.getLong(1), r.get(2) match {
          case b: Array[Byte] => b.toSeq
          case x => x
        })).toSeq
    def check(kind: Rollup.Kind, storeKind: String, rawPath: String): Unit = {
      spark.catalog.refreshByPath(rawPath)
      val batch = RollupSpec.plainCascade(kind, spark.read.parquet(rawPath).drop("bucket_date"))
      Rollup.StandardTiers.foreach { d =>
        val cursor = si.readCursor(storeKind, d)
        spark.catalog.refreshByPath(si.store.path(storeKind, d))
        val got = rows(si.store.readAll(storeKind, d), kind.column)
        val want = rows(batch(d).where(col("bucket_start") <= cursor), kind.column)
        assert(got.nonEmpty, s"$storeKind tier $d closed no bucket")
        assert(got == want, s"$storeKind tier $d differs from the batch cascade")
      }
    }
    check(Rollup.Histogram, StreamingIngest.HistKind, si.rawTierPath)
    check(Rollup.Counter, StreamingIngest.CounterKind, si.counterRawTierPath)

    // 1 h summaries equal percentiles taken directly from the posted
    // values (all < 2048, where the sketch has unit resolution)
    def rank(sorted: Seq[Long], p: Double): Long =
      sorted(math.max(1L, (p / 100.0 * sorted.size + 0.5).toLong).toInt - 1)
    val hours = Rollup.histogramSummaries(si.store.readAll(StreamingIngest.HistKind, H))
      .select("metric", "bucket_start", "count", "min", "max", "p50", "p90", "p99").collect()
    assert(hours.map(_.getString(0)).toSet == Set("lat_a", "lat_b") && hours.length == 4,
      hours.mkString(", "))
    hours.foreach { r =>
      val (metric, b) = (r.getString(0), r.getLong(1))
      val vs = posted.collect { case (m, ts, v) if m == metric && ts >= b && ts < b + H => v }
        .toSeq.sorted
      assert(r.getLong(2) == vs.size && r.getLong(3) == vs.head && r.getLong(4) == vs.last)
      assert(r.getLong(5) == rank(vs, 50) && r.getLong(6) == rank(vs, 90) &&
        r.getLong(7) == rank(vs, 99), s"$metric@$b")
    }
    val hourCounts = si.store.readAll(StreamingIngest.CounterKind, H).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hourCounts.size == 4)
    hourCounts.foreach { case ((metric, b), n) =>
      assert(n == posted.collect { case (m, ts, v) if m == metric && ts >= b && ts < b + H => v }.sum)
    }
  }

  test("cursor writes are atomic: a stale temp file from a killed write is ignored") {
    import graft.rollup.Rollup
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cursor").toString
    val si = new StreamingIngest(spark, base)
    def appendRaw(from: Long): Unit =
      Rollup.rawTier(Rollup.Counter,
        (0 until 12).map(i => ("reqs", from + i * 10000L, 1L)).toDF("metric", "ts_ms", "value"))
        .withColumn("bucket_date", graft.sources.TierStore.utcDate(col("bucket_start")))
        .write.mode("append").partitionBy("bucket_date").parquet(si.counterRawTierPath)
    def tierRows(): Long = {
      spark.catalog.refreshByPath(si.counterTierPath(30000L))
      si.store.readAll(StreamingIngest.CounterKind, 30000L).count()
    }
    appendRaw(T0) // 2 min of raw buckets: 3 closed 30 s buckets
    si.runCounterCascadeIncrement(Seq(30000L))
    val cursor = si.readCursor(StreamingIngest.CounterKind, 30000L)
    assert(cursor == T0 + 90000L - 1 && tierRows() == 3L)
    val tmp = Paths.get(s"$base/_commit_${StreamingIngest.CounterKind}.tmp")
    assert(!Files.exists(tmp), "a completed write leaves no temp file")
    // a write killed after a partial temp file: a shorter number that
    // still parses, which would re-roll every bucket were it the cursor
    Files.write(tmp, cursor.toString.take(4).getBytes)
    assert(si.readCursor(StreamingIngest.CounterKind, 30000L) == cursor)
    si.runCounterCascadeIncrement(Seq(30000L))
    assert(tierRows() == 3L, "a stale temp file re-rolled closed buckets")
    // the next increment rolls only the new buckets and replaces the temp file
    appendRaw(T0 + 120000L)
    si.runCounterCascadeIncrement(Seq(30000L))
    assert(si.readCursor(StreamingIngest.CounterKind, 30000L) == T0 + 210000L - 1)
    assert(tierRows() == 7L && !Files.exists(tmp))
  }

  /** Two timers and two counters, one event per 20 s each over
    * `[from, to)`, dropped into `in` as one file and run through both raw
    * streams; returns every (metric, ts, value, counter) posted. */
  private def ingestTick(si: StreamingIngest, stream: org.apache.spark.sql.DataFrame,
                         in: String, name: String, from: Long,
                         to: Long): Seq[(String, Long, Long, Boolean)] = {
    import org.apache.spark.sql.streaming.Trigger
    val posted = Seq("lat_a" -> "timer", "lat_b" -> "gauge", "req_a" -> "counter", "req_b" -> "counter")
      .flatMap { case (m, t) =>
        (from until to by 20000L).map(ts => (m, t, ts + 7, if (t == "counter") 1L + ts / 20000L % 4 else ts / 20000L % 1500))
      }
    dropFile(in, s"$name.json", posted.map { case (m, t, ts, v) => line(m, t, ts, Seq(v.toDouble)) })
    Seq(si.startRawTier(stream, Trigger.AvailableNow()),
      si.startCounterTier(stream, Trigger.AvailableNow())).foreach(_.awaitTermination())
    posted.map { case (m, t, ts, v) => (m, ts, v, t == "counter") }
  }

  test("the tier commit survives a crash after each step: the next increment publishes a committed stage, drops an uncommitted one, rolls nothing twice") {
    val kinds = Seq(StreamingIngest.HistKind, StreamingIngest.CounterKind)
    def stagingDirs(base: String): Seq[String] =
      new java.io.File(base).list().toSeq.filter(_.endsWith(".__stage"))
    /** The increment of `kind` staged and committed, nothing published. */
    def committed(si: StreamingIngest, kind: String): String = {
      val (id, cursors) = si.stage(kind).get
      si.store.commit(kind, id, cursors)
      id
    }
    /** Moves the first `n(files)` of staged increment `id`'s data files
      * into their tables, as the publish step does before a crash. */
    def moveStaged(si: StreamingIngest, base: String, kind: String, id: String)(n: Int => Int): Unit = {
      val staged = for {
        t <- new java.io.File(s"$base/$kind.$id.__stage").listFiles().toSeq.filter(_.getName.startsWith("tier="))
        date <- t.listFiles().toSeq
        f <- date.listFiles().toSeq
      } yield (t.getName.stripPrefix("tier=").toLong, date.getName, f)
      assert(staged.size >= 2, s"$kind staged ${staged.size} files")
      staged.sortBy(_._3.getName).take(n(staged.size)).foreach { case (d, date, f) =>
        val dst = Paths.get(si.store.path(kind, d), date)
        Files.createDirectories(dst)
        Files.move(f.toPath, dst.resolve(f.getName))
      }
    }
    val kills: Seq[(String, (StreamingIngest, String, String) => Unit)] = Seq(
      "staged, no record" -> { (si, _, kind) => si.stage(kind) },
      "record written, no file moved" -> { (si, _, kind) => committed(si, kind) },
      "record written, half the files moved" -> { (si, base, kind) =>
        moveStaged(si, base, kind, committed(si, kind))(_ / 2) },
      "every file moved, staging dir left" -> { (si, base, kind) =>
        moveStaged(si, base, kind, committed(si, kind))(identity) })
    kills.foreach { case (step, kill) =>
      withClue(s"killed at \"$step\": ") {
        val base = Files.createTempDirectory("graft_commit_kill").toString
        val in = s"$base/in"
        Files.createDirectories(Paths.get(in))
        val si = new StreamingIngest(spark, base)
        val stream = si.readJsonStream(in)
        val H = 3600000L
        val posted = ingestTick(si, stream, in, "t0", T0, T0 + 2 * H) ++ {
          si.runCascadeIncrement(); si.runCounterCascadeIncrement()
          ingestTick(si, stream, in, "t1", T0 + 2 * H, T0 + 4 * H)
        }
        kinds.foreach(kill(si, base, _))
        assert(stagingDirs(base).size == 2)
        if (step != "staged, no record")
          assert(StoreDoctor.diagnose(spark, base).map(_.check).count(_ == "pending-commit") == 2)
        val more = ingestTick(si, stream, in, "t2", T0 + 4 * H, T0 + 6 * H)
        si.runCascadeIncrement()
        si.runCounterCascadeIncrement()
        assert(stagingDirs(base).isEmpty, "a staging dir outlived the next increment")
        assert(si.readCursor(StreamingIngest.HistKind, H) == T0 + 5 * H - 1)
        assertTiersEqualBatch(si, posted ++ more)
      }
    }
  }

  test("job-count guard: one cascade increment per kind stays within 5 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = Files.createTempDirectory("graft_cascade_jobs").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val si = new StreamingIngest(spark, base)
    ingestTick(si, si.readJsonStream(in), in, "t0", T0, T0 + 2 * 3600000L)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val (hist, counter) = try {
      si.runCascadeIncrement()
      org.apache.spark.ListenerBusDrain(sc)
      val h = jobs.getAndSet(0)
      si.runCounterCascadeIncrement()
      org.apache.spark.ListenerBusDrain(sc)
      (h, jobs.get)
    } finally sc.removeSparkListener(listener)
    // every standard tier closed a bucket, so each kind wrote six tables
    graft.rollup.Rollup.StandardTiers.foreach { d =>
      assert(si.readCursor(StreamingIngest.HistKind, d) > T0)
      assert(si.readCursor(StreamingIngest.CounterKind, d) > T0)
    }
    assert(hist <= 5 && counter <= 5, s"jobs per increment: hist $hist, counter $counter")
  }

  /** Every tier of both kinds in `si`'s store equals the plain batch
    * chain over the raw sinks up to the tier's cursor, sketches byte for
    * byte, and holds exactly the on-time `posted` values up to its cursor:
    * (metric, ts, value, counter). */
  private def assertTiersEqualBatch(si: StreamingIngest,
                                    posted: Seq[(String, Long, Long, Boolean)]): Unit = {
    import graft.rollup.Rollup
    def rows(df: org.apache.spark.sql.DataFrame, column: String): Seq[(String, Long, Any)] =
      df.select("metric", "bucket_start", column).orderBy("metric", "bucket_start").collect()
        .map(r => (r.getString(0), r.getLong(1), r.get(2) match {
          case b: Array[Byte] => b.toSeq
          case x => x
        })).toSeq
    def check(kind: Rollup.Kind, storeKind: String, rawPath: String, counter: Boolean): Unit = {
      spark.catalog.refreshByPath(rawPath)
      val batch = RollupSpec.plainCascade(kind, spark.read.parquet(rawPath).drop("bucket_date"))
      Rollup.StandardTiers.foreach { d =>
        val cursor = si.readCursor(storeKind, d)
        spark.catalog.refreshByPath(si.store.path(storeKind, d))
        val tier = si.store.readAll(storeKind, d)
        val got = rows(tier, kind.column)
        assert(got.nonEmpty, s"$storeKind tier $d closed no bucket")
        assert(got == rows(batch(d).where(col("bucket_start") <= cursor), kind.column),
          s"$storeKind tier $d differs from the batch cascade")
        val total = (if (counter) tier else Rollup.histogramSummaries(tier))
          .agg(sum(col("count"))).head().getLong(0)
        val want = posted.collect { case (_, ts, v, c) if c == counter && ts <= cursor =>
          if (counter) v else 1L }.sum
        assert(total == want, s"$storeKind tier $d holds $total, posted on time $want")
      }
    }
    check(Rollup.Histogram, StreamingIngest.HistKind, si.rawTierPath, counter = false)
    check(Rollup.Counter, StreamingIngest.CounterKind, si.counterRawTierPath, counter = true)
  }

  test("streaming cascade property: random batch splits over 2-4 ticks equal the batch cascade; late rows reach no tier") {
    import org.apache.spark.sql.streaming.Trigger
    val metrics = Seq("lat_a" -> "timer", "lat_b" -> "gauge", "req_a" -> "counter", "req_b" -> "counter")
    val SpanMs = 9000000L // 2.5 h of event time: the 1 h tier closes two buckets
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val base = Files.createTempDirectory(s"graft_cascade_prop$seed").toString
      val in = s"$base/in"
      Files.createDirectories(Paths.get(in))
      val si = new StreamingIngest(spark, base)
      val stream = si.readJsonStream(in)
      def value(mtype: String): Long =
        if (mtype == "counter") 1L + rnd.nextInt(5) else rnd.nextInt(2000).toLong
      // one event per 20 s per metric, cut into 2-4 ticks at random times
      val events = metrics.flatMap { case (m, t) =>
        (0L until SpanMs by 20000L).map(o => (m, t, T0 + 1 + o + rnd.nextInt(20000))) }
      val nTicks = 2 + rnd.nextInt(3)
      val cuts = (Seq.fill(nTicks - 1)(T0 + 600000L + (rnd.nextDouble() * (SpanMs - 1200000L)).toLong)
        .sorted :+ Long.MaxValue)
      // (metric, ts, value, counter) of every on-time value
      val posted = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Boolean)]
      var late = 0
      cuts.zipWithIndex.foreach { case (cut, tick) =>
        val from = if (tick == 0) Long.MinValue else cuts(tick - 1)
        val onTime = events.filter { case (_, _, ts) => ts >= from && ts < cut }
        // per stream, against the newest event of the ticks before: rows up
        // to 25 s behind it (inside the 30 s watermark, into 5 s buckets
        // still open) and rows 2-10 min behind it (past the watermark)
        val behind = if (tick == 0) Nil else metrics.flatMap { case (m, t) =>
          val newest = posted.collect { case (_, ts, _, c) if c == (t == "counter") => ts }.max
          Seq.fill(2)((m, t, newest - rnd.nextInt(25000), false)) ++
            Seq.fill(2)((m, t, newest - 120000L - rnd.nextInt(480000), true))
        }
        val rows = rnd.shuffle(onTime.map { case (m, t, ts) => (m, t, ts, false) } ++ behind)
          .map { case (m, t, ts, isLate) => (m, t, ts, value(t), isLate) }
        rows.foreach { case (m, t, ts, v, isLate) =>
          if (isLate) late += 1 else posted += ((m, ts, v, t == "counter")) }
        // the tick's rows land as 1-3 files of random sizes
        val files = 1 + rnd.nextInt(3)
        rows.groupBy(_ => rnd.nextInt(files)).foreach { case (f, part) =>
          dropFile(in, s"tick${tick}_$f.json",
            part.map { case (m, t, ts, v, _) => line(m, t, ts, Seq(v.toDouble)) })
        }
        val sinks = Seq(si.startRawTier(stream, Trigger.AvailableNow()),
          si.startCounterTier(stream, Trigger.AvailableNow()))
        sinks.foreach(_.awaitTermination())
        si.runCascadeIncrement()
        si.runCounterCascadeIncrement()
      }
      assert(late > 0)
      withClue(s"seed $seed, $nTicks ticks: ")(assertTiersEqualBatch(si, posted.toSeq))
    }
  }

  test("raw retention keeps the lowest cursor's day: a 1 h cursor lagging across a UTC day boundary still rolls up") {
    import graft.rollup.Rollup
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val DAY = 86400000L
    val H = 3600000L
    val B = T0 + 2 * DAY // the UTC day boundary the 1 h cursor lags across
    val base = Files.createTempDirectory("graft_raw_retention").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val si = new StreamingIngest(spark, base)
    val stream = si.readJsonStream(in)
    val posted = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def tick(name: String, from: Long, to: Long): Unit = {
      val ts = from until to by 15000L
      ts.foreach(t => posted += (("reqs", t, 1L + t / 15000L % 3)))
      dropFile(in, s"$name.json", ts.map(t => line("reqs", "counter", t, Seq(1.0 + t / 15000L % 3))))
      si.startCounterTier(stream, Trigger.AvailableNow()).awaitTermination()
      si.runCounterCascadeIncrement()
    }
    def rawDate(ms: Long) = "bucket_date=" + graft.sources.TierStore.utcDateOf(ms)
    tick("d0", T0 + 12 * H, T0 + 12 * H + 600000L)
    tick("d1", B - 2 * H, B + 600000L)
    // the 30 s tier is past midnight; the 1 h tier's cursor is the
    // previous day's last millisecond
    assert(si.readCursor(StreamingIngest.CounterKind, 30000L) >= B)
    assert(si.readCursor(StreamingIngest.CounterKind, H) == B - 1)
    val dropped = si.enforceRawRetention(ttlMs = 0L, nowMs = B + 10 * DAY)
    assert(dropped(StreamingIngest.CounterKind) == Seq(rawDate(T0)))
    assert(new java.io.File(si.counterRawTierPath).list().contains(rawDate(B - 1)),
      "the 1 h cursor's day was dropped")
    tick("d2", B + 600000L, B + H + 1200000L)
    val cursor = si.readCursor(StreamingIngest.CounterKind, H)
    assert(cursor == B + H - 1)
    val want = RollupSpec.plainCascade(Rollup.Counter,
        Rollup.rawTier(Rollup.Counter, posted.toSeq.toDF("metric", "ts_ms", "value")))(H)
      .where(col("bucket_start") <= cursor)
    spark.catalog.refreshByPath(si.counterTierPath(H))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("metric", "bucket_start", "count").orderBy("bucket_start").collect().toSeq
    assert(rows(si.store.readAll(StreamingIngest.CounterKind, H)) == rows(want))
    assert(rows(want).map(_.getLong(1)) == Seq(T0 + 12 * H, B - 2 * H, B - H, B))
  }

  test("streaming sessions: in-stream gap split, watermark timeout, final emission") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.{Session, SessionEvent}

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[SessionEvent]
    val q = StreamingSessions.sessions(src.toDS(), gapMs = 1800000L, delay = "0 seconds")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // base offset keeps every event strictly above the initial
      // watermark (0) — a row AT the watermark is filtered as late
      val B = 1000000L
      def ev(u: Long, ms: Long) = SessionEvent(u, ms, new java.sql.Timestamp(ms))
      def emitted() = spark.table("sess_out").as[Session].collect().toSet

      // open sessions emit nothing
      src.addData(ev(1, B), ev(1, B + 10000), ev(2, B + 5000))
      q.processAllAvailable()
      assert(emitted() == Set.empty[Session])

      // a far-future event for user 1 splits their session IN-STREAM
      // (emitted in the same batch, no timeout needed)
      src.addData(ev(1, B + 4000000))
      q.processAllAvailable()
      assert(emitted().contains(Session(1, B, B + 10000, 2)))

      // the watermark (now B+4000000) is past user 2's end + gap, so a
      // later trigger fires their event-time timeout — emission is
      // final, nothing is ever revised
      src.addData(ev(3, B + 4100000))
      q.processAllAvailable()
      assert(emitted() == Set(Session(1, B, B + 10000, 2), Session(2, B + 5000, B + 5000, 1)))
    } finally q.stop()
  }

  test("streaming sessions: out-of-order non-late event widens session_start") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.{Session, SessionEvent}

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[SessionEvent]
    // 10-minute allowance: an event can arrive a batch late yet above
    // the watermark
    val q = StreamingSessions.sessions(src.toDS(), gapMs = 1800000L, delay = "10 minutes")
      .writeStream.format("memory").queryName("sess_ooo").outputMode("append").start()
    try {
      val B = 1000000L
      def ev(u: Long, ms: Long) = SessionEvent(u, ms, new java.sql.Timestamp(ms))
      // batch 1 opens the session at B+600000 (watermark ends at B)
      src.addData(ev(9, B + 600000))
      q.processAllAvailable()
      // batch 2: an earlier event, above the watermark — must extend the
      // session BACKWARDS, not vanish inside it
      src.addData(ev(9, B + 100))
      q.processAllAvailable()
      // flush via a far-future event: watermark passes end + gap
      src.addData(ev(9, B + 600000 + 1800000 + 700000))
      q.processAllAvailable()
      val got = spark.table("sess_ooo").as[Session].collect().toSet
      assert(got.contains(Session(9, B + 100, B + 600000, 2)),
        s"expected widened session, got $got")
    } finally q.stop()
  }

  test("streaming sessions: an out-of-order event past the gap forms its own session, never glued in") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.{Session, SessionEvent}

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[SessionEvent]
    // the hazard regime: watermark allowance EXCEEDS the gap, so an
    // event can arrive non-late yet sit more than gapMs before the
    // open session — the old fold's `ts - end <= gap` test was
    // vacuously true for it and merged, diverging from the batch twin
    val q = StreamingSessions.sessions(src.toDS(), gapMs = 60000L, delay = "30 minutes")
      .writeStream.format("memory").queryName("sess_stray").outputMode("append").start()
    try {
      val B = 1000000L
      def ev(u: Long, ms: Long) = SessionEvent(u, ms, new java.sql.Timestamp(ms))
      src.addData(ev(7, B + 2000000)) // opens [B+2000000]
      q.processAllAvailable()
      // 28+ minutes BEFORE the open session (gap is 1 minute), above
      // the watermark: its own (earlier) session, emitted immediately
      src.addData(ev(7, B + 300000))
      q.processAllAvailable()
      val afterStray = spark.table("sess_stray").as[Session].collect().toSet
      assert(afterStray == Set(Session(7, B + 300000, B + 300000, 1)),
        s"stray event must form its own session, got $afterStray")
      // flush the open session via watermark timeout
      src.addData(ev(7, B + 4000000))
      q.processAllAvailable()
      src.addData(ev(8, B + 4100000)) // advance a trigger for the timeout
      q.processAllAvailable()
      val got = spark.table("sess_stray").as[Session].collect().toSet
      assert(got.contains(Session(7, B + 2000000, B + 2000000, 1)),
        s"open session must stay intact (n=1), got $got")
    } finally q.stop()
  }

  test("streaming anomalies: watermark-final judgments equal the batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingAnomalies
    import graft.streaming.StreamingAnomalies.{KeyedEvent, RateAnomaly}

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[KeyedEvent]
    val q = StreamingAnomalies.anomalies(src.toDS(), bucketMs = 1000L,
      lookback = 3, minPeriods = 2, sigmas = 1.0, delay = "0 seconds")
      .writeStream.format("memory").queryName("anom_out").outputMode("append").start()
    try {
      val B = 1000000L // bucket-aligned, strictly above the initial watermark
      def ev(k: String, ms: Long) = KeyedEvent(k, ms, new java.sql.Timestamp(ms))
      def emitted() = spark.table("anom_out").as[RateAnomaly].collect().toSet
      // bucket counts for key a: 2, 2, 4, 3 (the batch spec's fixture)
      val aTs = Seq(B, B + 500, B + 1000, B + 1100,
        B + 2000, B + 2100, B + 2200, B + 2300, B + 3000, B + 3100, B + 3200)
      src.addData(aTs.map(ev("a", _)): _*)
      q.processAllAvailable()
      // the watermark reaches B+3200 via the trailing no-data batch:
      // buckets 0..2 (ends <= B+3200) are judged, bucket 3 still open
      assert(emitted().map(_.bucket_ms) == Set(B, B + 1000, B + 2000))

      // advancing the watermark past bucket 3's end releases it (timeout)
      src.addData(ev("z", B + 100000))
      q.processAllAvailable()
      val strm = emitted().filter(_.key == "a")
      assert(strm.map(_.bucket_ms) == Set(B, B + 1000, B + 2000, B + 3000))

      // judged rows equal the batch operator bit-for-bit
      val batch = graft.ops.EventAnalytics.rateAnomalies(
        aTs.map(("a", _)).toDF("event_type", "ts_ms"),
        bucketMs = 1000L, lookback = 3, minPeriods = 2, sigmas = 1.0)
        .as[(String, Long, Long, Option[Double], Option[Double], Boolean)]
        .collect().toSet
      assert(strm.map(r => (r.key, r.bucket_ms, r.n, r.mean, r.std, r.is_anomaly)) == batch)

      // a late event (behind the watermark) is dropped, never re-judged
      src.addData(ev("a", B + 500))
      q.processAllAvailable()
      assert(emitted().filter(_.key == "a") == strm)
    } finally q.stop()
  }

  test("streaming DSIR: frozen model filters batches; restart serves the persisted model") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdsir").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val target = Seq(
      (100L, "spark table merge spark window"),
      (101L, "spark window merge table scan"),
      (102L, "merge table spark scan window")).toDF("doc_id", "text")
    val rawSample = Seq(
      (200L, "spark table merge window scan"),
      (201L, "zebra quokka lemur wombat okapi"),
      (202L, "banana kiwi mango papaya")).toDF("doc_id", "text")
    def mk() = new graft.streaming.StreamingDsir(spark, base,
      threshold = 0.0, nBuckets = 512)
    // start() before fit() is a loud error, not silent garbage
    val unfit = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = mk().start(mk().readJsonDocs(in),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
      try { dropFile(in, "b0.json", Seq(doc(0, "x y"))); q.processAllAvailable() }
      finally q.stop()
    }
    val unfitMsgs = Iterator.iterate(unfit: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(unfitMsgs.contains("no fitted model"), unfitMsgs)
    val s1 = mk()
    s1.fit(target, rawSample)
    def kept() = {
      spark.catalog.refreshByPath(s1.keptPath)
      spark.read.parquet(s1.keptPath).collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    }
    // fresh checkpoint dir so the fitted stream re-reads b0 too
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/chk"))
    val q1 = s1.start(s1.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b1.json", Seq(
        doc(1, "spark window table merge"),            // target-like → kept
        doc(2, "zebra quokka wombat lemur")))          // off-distribution → dropped
      q1.processAllAvailable()
      val k1 = kept()
      assert(k1.contains(1L) && k1(1L) > 0.0, s"target-like doc dropped: $k1")
      assert(!k1.contains(2L), s"off-distribution doc kept: $k1")
      assert(!k1.contains(0L), s"pre-fit replayed doc 'x y' kept: $k1")
    } finally q1.stop()
    // restart: a NEW instance serves the persisted λ without re-fitting
    val s2 = mk()
    val q2 = s2.start(s2.readJsonDocs(in),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      dropFile(in, "b2.json", Seq(
        doc(10, "merge table spark scan"), doc(11, "banana kiwi papaya")))
      q2.processAllAvailable()
      val k2 = kept()
      assert(k2.contains(10L) && !k2.contains(11L),
        s"restarted model filter wrong: $k2")
    } finally q2.stop()
  }

  test("streaming quality filter: frozen weights filter batches; restart serves the persisted model") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sqf").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val pos = (100L to 119L).map(i => (i, s"good clean prose number $i"))
      .toDF("doc_id", "text")
    val neg = (200L to 219L).map(i => (i, s"spam junk garbage item $i"))
      .toDF("doc_id", "text")
    def mk() = new graft.streaming.StreamingQualityFilter(spark, base)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    // start() before fit() is a loud error, not silent garbage
    val unfit = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = mk().start(mk().readJsonDocs(in), trig)
      try { dropFile(in, "b0.json", Seq(doc(0, "x y"))); q.processAllAvailable() }
      finally q.stop()
    }
    val unfitMsgs = Iterator.iterate(unfit: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(unfitMsgs.contains("no fitted model"), unfitMsgs)
    val s1 = mk()
    s1.fit(pos, neg)
    def kept() = {
      spark.catalog.refreshByPath(s1.keptPath)
      spark.read.parquet(s1.keptPath).collect().map(_.getLong(0)).toSet
    }
    graft.sources.TierStore.deleteTree(new java.io.File(s"$base/chk"))
    val q1 = s1.start(s1.readJsonDocs(in), trig)
    try {
      dropFile(in, "b1.json", Seq(
        doc(1, "good clean prose here"),   // positive-like → kept
        doc(2, "spam junk garbage pile"))) // negative-like → dropped
      q1.processAllAvailable()
      val k1 = kept()
      assert(k1.contains(1L) && !k1.contains(2L), s"classifier filter wrong: $k1")
    } finally q1.stop()
    // restart: a NEW instance serves the persisted weights, no re-fit
    val s2 = mk()
    val q2 = s2.start(s2.readJsonDocs(in), trig)
    try {
      dropFile(in, "b2.json", Seq(
        doc(10, "clean good prose again"), doc(11, "junk spam garbage heap")))
      q2.processAllAvailable()
      val k2 = kept()
      assert(k2.contains(10L) && !k2.contains(11L),
        s"restarted classifier filter wrong: $k2")
    } finally q2.stop()
  }

  test("mid-stream retrain: a RUNNING quality filter swaps model generations atomically (reliable mode)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sqf_soak").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val prose = (100L to 119L).map(i => (i, s"good clean prose number $i"))
      .toDF("doc_id", "text")
    val spam = (200L to 219L).map(i => (i, s"spam junk garbage item $i"))
      .toDF("doc_id", "text")
    val f = new graft.streaming.StreamingQualityFilter(spark, base)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    def kept() = {
      spark.catalog.refreshByPath(f.keptPath)
      spark.read.parquet(f.keptPath).collect().map(_.getLong(0)).toSet
    }
    val ckDir = Files.createTempDirectory("graft_sqf_soak_ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(graft.ops.Checkpoints.ReliableKey, "true")
    try {
      // generation A: prose positive
      f.fit(prose, spam)
      val q = f.start(f.readJsonDocs(in), trig)
      try {
        dropFile(in, "b1.json", Seq(
          doc(1, "good clean prose sample"), doc(2, "spam junk garbage heap")))
        q.processAllAvailable()
        assert(kept() == Set(1L), s"generation A filter wrong: ${kept()}")
        // RETRAIN while the query runs: generation B inverts the labels
        // (spam positive) — the staged-rename commit swaps generations
        // between triggers, the stream never restarts
        f.fit(spam, prose)
        dropFile(in, "b2.json", Seq(
          doc(10, "good clean prose again"), doc(11, "junk spam garbage pile")))
        q.processAllAvailable()
        assert(kept() == Set(1L, 11L),
          s"generation B must score batch 2: ${kept()}")
      } finally q.stop()
      // crashed-retrain window: weights moved aside to __old with no
      // committed successor — a fresh instance serves the fallback
      Files.move(Paths.get(s"$base/weights"), Paths.get(s"$base/weights.__old"))
      val f2 = new graft.streaming.StreamingQualityFilter(spark, base)
      val q2 = f2.start(f2.readJsonDocs(in), trig)
      try {
        dropFile(in, "b3.json", Seq(
          doc(20, "good clean prose once more"), doc(21, "garbage spam junk set")))
        q2.processAllAvailable()
        assert(kept() == Set(1L, 11L, 21L),
          s"__old fallback must keep serving generation B: ${kept()}")
      } finally q2.stop()
    } finally spark.conf.set(graft.ops.Checkpoints.ReliableKey, "false")
  }

  test("streaming curation: all four gates per batch, stores survive a reliable-mode restart") {
    val base = Files.createTempDirectory("graft_scur").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    import spark.implicits._
    val benchmark = Seq((900L, "eval question alpha beta gamma delta"))
      .toDF("doc_id", "text")
    def mk() = new graft.streaming.StreamingCuration(spark, base, benchmark)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    def keptIds() = {
      spark.catalog.refreshByPath(s"$base/kept")
      spark.read.parquet(s"$base/kept").collect().map(_.getLong(0)).sorted.toSeq
    }
    // batch 1: 2 exact-dups 1 (normalized); 3 is punct junk (quality);
    // 5 near-dups 4 (one extra token, J ≈ 0.89); 6 carries two
    // benchmark shingles (decontam)
    val s1 = mk()
    val q1 = s1.start(s1.readJsonDocs(in), trig)
    try {
      dropFile(in, "b1.json", Seq(
        doc(1, "the cat sat on the mat today"),
        doc(2, "THE CAT  SAT ON THE MAT TODAY"),
        doc(3, "$$$ %%% ###"),
        doc(4, "the quick brown fox jumps over the lazy dog friend"),
        doc(5, "the quick brown fox jumps over the lazy dog friend extra"),
        doc(6, "alpha beta gamma delta appears here in the document text")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(keptIds() == Seq(1L, 4L))
    spark.catalog.refreshByPath(s"$base/funnel")
    val f0 = spark.read.parquet(s"$base/funnel")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f0 == Map("1_total" -> 6L, "2_quality" -> 5L, "3_exact_dedup" -> 4L,
      "4_near_dup" -> 3L, "5_decontaminated" -> 2L))
    // restart as a NEW instance under reliable-checkpoint mode: batch 2
    // must dedup against the persisted stores (exact via digests,
    // near-dup via signatures/buckets) while dupClusters' shared()
    // frames upgrade to reliable checkpoints
    val ckDir = Files.createTempDirectory("graft_scur_ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(graft.ops.Checkpoints.ReliableKey, "true")
    try {
      val s2 = mk()
      val q2 = s2.start(s2.readJsonDocs(in), trig)
      try {
        dropFile(in, "b2.json", Seq(
          doc(10, "the cat sat on the mat today"),
          doc(11, "the quick brown fox jumps over the lazy dog friend yes"),
          doc(12, "completely new content about something else worth keeping the end")))
        q2.processAllAvailable()
      } finally q2.stop()
    } finally spark.conf.set(graft.ops.Checkpoints.ReliableKey, "false")
    assert(keptIds() == Seq(1L, 4L, 12L))
  }

  test("streaming curation lexicon gate: flagged docs drop before quality and the stores") {
    val base = Files.createTempDirectory("graft_sclex").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    import spark.implicits._
    val benchmark = Seq((900L, "eval question alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sc = new graft.streaming.StreamingCuration(spark, base, benchmark,
      lexicon = Some(Seq("spamword")), lexiconMaxHitRate = 0.1)
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val q = sc.start(sc.readJsonDocs(in), trig)
    try {
      dropFile(in, "b1.json", Seq(
        doc(1, "a clean document with plenty of ordinary words in it"),
        doc(2, "spamword spamword spamword junk spamword page"), // 4/6 > 10%
        doc(3, "one spamword inside twenty other perfectly ordinary tokens " +
          "that keep the rate of hits well below the ten percent line ok")))
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshByPath(s"$base/kept")
    assert(spark.read.parquet(s"$base/kept").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    spark.catalog.refreshByPath(s"$base/funnel")
    val f = spark.read.parquet(s"$base/funnel")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f("1_total") == 3L && f("1c_lexicon") == 2L && f("2_quality") == 2L)
    // the flagged doc never reached the digest store
    spark.catalog.refreshByPath(s"$base/digests")
    assert(spark.read.parquet(s"$base/digests").count() == 2L)
  }

  test("streaming curation entropy gate: low-entropy docs drop before quality and the stores") {
    val base = Files.createTempDirectory("graft_scent").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    import spark.implicits._
    val benchmark = Seq((900L, "eval question alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val minEnt = 1500000L // 1.5 nats
    val sc = new graft.streaming.StreamingCuration(spark, base, benchmark,
      minEntropyE6 = Some(minEnt))
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val varied = "the quick brown fox jumps over the lazy dog and then " +
      "some more genuinely varied words follow here for good measure today"
    val stuffed = ("buy now " * 12).trim // 2 distinct tokens: ln 2 << 1.5
    val q = sc.start(sc.readJsonDocs(in), trig)
    try {
      dropFile(in, "b1.json", Seq(
        doc(1, varied), doc(2, stuffed),
        doc(3, "an entirely different second document whose words share " +
          "nothing with the first so every dedup stage keeps it intact")))
      q.processAllAvailable()
    } finally q.stop()
    // the engine's own entropy op agrees with the gate's decisions
    val ent = graft.ops.TextAnalysis.tokenEntropy(
      Seq((1L, varied), (2L, stuffed)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ent(1L) >= minEnt && ent(2L) < minEnt, s"fixture lost its teeth: $ent")
    spark.catalog.refreshByPath(s"$base/kept")
    assert(spark.read.parquet(s"$base/kept").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    spark.catalog.refreshByPath(s"$base/funnel")
    val f = spark.read.parquet(s"$base/funnel")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f("1_total") == 3L && f("1d_entropy") == 2L && f("2_quality") == 2L)
    // the stuffed doc never reached the digest store
    spark.catalog.refreshByPath(s"$base/digests")
    assert(spark.read.parquet(s"$base/digests").count() == 2L)
  }

  test("reliable-checkpoint mode: streaming twins hold store integrity across restarts") {
    // The batch pipelines have their block-loss spec (OpsSpec); here
    // each persistent-store streaming twin runs its two-batch +
    // process-restart lifecycle with spark.graft.checkpoint.reliable
    // on, so every Checkpoints.shared the foreachBatch internals reach
    // (the vec twin's pair→cluster path crosses Dedup.dupClusters)
    // upgrades to a reliable checkpoint — and would THROW if a twin
    // hit shared() without the dir. Store integrity must be
    // indistinguishable from the default-mode lifecycles above.
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds")
    val ckDir = Files.createTempDirectory("graft_sck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(graft.ops.Checkpoints.ReliableKey, "true")
    try {
      // --- vec near-dup: batch 1 trains + dedups, RESTARTED instance
      // must drop batch 2's near-dup of a batch-1 survivor
      locally {
        val base = Files.createTempDirectory("graft_svnd_rel").toString
        val in = s"$base/in"
        Files.createDirectories(Paths.get(in))
        def vec(id: Long, v: Seq[Double]) =
          s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
        def mk() = new graft.streaming.StreamingVecNearDup(spark, base,
          threshold = 0.7, nlist = 4, nprobe = 2)
        val s1 = mk()
        val q1 = s1.start(s1.readJsonVecs(in), trig)
        try {
          dropFile(in, "b1.json", Seq(vec(2, Seq(1.0, 0.0, 0.0, 0.0)),
            vec(1, Seq(0.999, 0.04, 0.0, 0.0)), vec(3, Seq(0.0, 1.0, 0.0, 0.0))))
          q1.processAllAvailable()
        } finally q1.stop()
        val s2 = mk()
        val q2 = s2.start(s2.readJsonVecs(in), trig)
        try {
          dropFile(in, "b2.json", Seq(vec(4, Seq(0.998, -0.05, 0.0, 0.0))))
          q2.processAllAvailable()
        } finally q2.stop()
        spark.catalog.refreshByPath(s2.keptPath)
        val kept = spark.read.parquet(s2.keptPath).collect().map(_.getLong(0)).sorted.toSeq
        assert(kept == Seq(1L, 3L), s"reliable-mode vec twin kept $kept")
      }
      // --- span dedup: restarted instance must excise via the
      // persisted gram store
      locally {
        val base = Files.createTempDirectory("graft_sspan_rel").toString
        val in = s"$base/in"
        Files.createDirectories(Paths.get(in))
        def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
        val ss = new graft.streaming.StreamingSpanDedup(spark, base, n = 3)
        val q = ss.start(ss.readJsonDocs(in), trig)
        try {
          dropFile(in, "b1.json", Seq(doc(1, "p q r s t u")))
          q.processAllAvailable()
        } finally q.stop()
        val ss2 = new graft.streaming.StreamingSpanDedup(spark, base, n = 3)
        val q2 = ss2.start(ss2.readJsonDocs(in), trig)
        try {
          dropFile(in, "b2.json", Seq(doc(10, "s t u k1 k2")))
          q2.processAllAvailable()
        } finally q2.stop()
        spark.catalog.refreshByPath(ss2.dedupedPath)
        val o = spark.read.parquet(ss2.dedupedPath).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
        assert(o(10L) == ((5L, 3L, "k1 k2")), s"reliable-mode span twin rows $o")
      }
      // --- heavy hitters: restarted instance must merge onto the
      // swapped summary store
      locally {
        val base = Files.createTempDirectory("graft_stopk_rel").toString
        val in = s"$base/in"
        Files.createDirectories(Paths.get(in))
        def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
        val st = new graft.streaming.StreamingTopK(spark, base, capacity = 4)
        val q = st.start(st.readJsonDocs(in), trig)
        try {
          dropFile(in, "b1.json",
            Seq(doc(1, ("hot " * 8).trim + " warm warm warm rare")))
          q.processAllAvailable()
        } finally q.stop()
        val st2 = new graft.streaming.StreamingTopK(spark, base, capacity = 4)
        val q2 = st2.start(st2.readJsonDocs(in), trig)
        try {
          dropFile(in, "b2.json", Seq(doc(2, "hot hot hot hot x y z")))
          q2.processAllAvailable()
        } finally q2.stop()
        val (s2, n2) = st2.summary()
        assert(n2 == 19L, s"reliable-mode topk twin n $n2")
        val hot = s2.toMap.getOrElse("hot", 0L)
        assert(hot >= 9L && hot <= 12L, s"hot estimate $hot outside [9, 12]")
      }
      // evidence the reliable path ran inside foreachBatch: checkpoint
      // files landed under the configured dir
      val wrote = java.nio.file.Files.walk(Paths.get(ckDir))
        .filter(p => p.toFile.isFile).count()
      assert(wrote > 0, s"no reliable checkpoint files under $ckDir")
    } finally {
      spark.conf.unset(graft.ops.Checkpoints.ReliableKey)
      graft.sources.TierStore.deleteTree(new java.io.File(ckDir))
    }
  }
}
