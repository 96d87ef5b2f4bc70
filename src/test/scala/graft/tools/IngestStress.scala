package graft.tools

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.zip.GZIPOutputStream

/** Ingest throughput + freshness harness — the reference's standalone
  * load generator (khronus-stress/src/main/.../StressTest.scala:41-111,
  * concurrent × runs × nMetrics × nMeasurements against the metrics
  * endpoint) re-expressed against [[graft.server.HttpFacade]] +
  * [[graft.streaming.StreamingIngest]]. Measures the three legs a
  * deployment sizes by (BASELINE.md §H):
  *
  *  1. HTTP accept rate — real sockets, gzip JSON MetricBatch bodies,
  *     fire-and-forget 200s (the facade's at-most-once contract);
  *  2. sink drain rate — the async single-thread ingest pool landing
  *     each parsed batch in the raw measurement store (parquet append:
  *     the role the reference's store write plays per batch);
  *  3. end-to-end freshness — the same payloads dropped into a live
  *     StreamingIngest source; freshness = last-post → every posted 5 s
  *     bucket visible in the raw tier. The reference's envelope for
  *     this is "30 s at production load" (its tick interval); here the
  *     trigger is 5 s and the watermark 30 s, so the structural floor
  *     is trigger + watermark-lag. A closer batch (event time now+60 s)
  *     flushes the final windows, mirroring how a live deployment's
  *     next tick closes the previous buckets.
  *
  * Usage: Test/runMain graft.tools.IngestStress [c] [runs] [nMetrics] [nVals] [sink]
  * Defaults 8×20 batches of 50 metrics × 100 values (800k values);
  * sink = `parquet` (default: per-batch raw-store append — legs 1+2+3)
  * or `count` (per-batch count only: isolates leg 3's freshness from
  * the sink's driver contention — the deployment shape, where ingest
  * IS the streaming path and no per-batch store write exists).
  * One JSON summary line on stdout (last), human detail on stderr.
  */
object IngestStress {

  def main(args: Array[String]): Unit = {
    val c = args.lift(0).map(_.toInt).getOrElse(8)
    val runs = args.lift(1).map(_.toInt).getOrElse(20)
    val nMetrics = args.lift(2).map(_.toInt).getOrElse(50)
    val nVals = args.lift(3).map(_.toInt).getOrElse(100)
    val sinkMode = args.lift(4).getOrElse("parquet") // parquet | count | none

    val spark = graft.GraftSession.builder(16, 16)
      .appName("graft-ingest-stress").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Files.createTempDirectory("graft_stress").toString
    val rawStore = s"$base/raw_measurements"
    val streamIn = s"$base/stream_in"
    Files.createDirectories(Paths.get(streamIn))

    // leg 3: live streaming ingest over the same payloads
    val ingest = new graft.streaming.StreamingIngest(spark, s"$base/tiers")
    val sq = ingest.startRawTier(ingest.readJsonStream(streamIn),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"))

    // leg 2: the facade's async sink — parquet append per parsed batch
    val drained = new AtomicInteger(0)
    val sinkRows = new AtomicLong(0L)
    val allDrained = new CountDownLatch(c * runs)
    val facade = new graft.server.HttpFacade(spark,
      new graft.planner.InfluxPlanner(
        graft.planner.MaterializedTiers.provider(spark, "/root/testdata/sf0.001")),
      new graft.planner.DashboardStore(s"$base/dash"),
      df => {
        // "none" isolates the STREAM leg: the facade sink does zero
        // Spark work, so freshness measures admission + aggregation
        // instead of contention with 800 drain jobs
        if (sinkMode == "parquet") df.write.mode("append").parquet(rawStore)
        else if (sinkMode == "count") sinkRows.addAndGet(df.count())
        drained.incrementAndGet()
        allDrained.countDown()
      })
    val port = facade.start()
    val url = new URL(s"http://localhost:$port/khronus/metrics")

    def batchJson(thread: Int, run: Int, tsBase: Long): String = {
      val rnd = new java.util.Random(thread * 1000003L + run)
      val metrics = (0 until nMetrics).map { m =>
        val vals = (0 until nVals).map(_ => rnd.nextInt(10000)).mkString(",")
        s"""{"name":"stress_t${thread}_m$m","mtype":"timer","measurements":[{"ts":$tsBase,"values":[$vals]}]}"""
      }.mkString(",")
      s"""{"metrics":[$metrics]}"""
    }

    def post(body: Array[Byte]): Int = {
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Encoding", "gzip")
      val out = conn.getOutputStream
      val gz = new GZIPOutputStream(out)
      gz.write(body); gz.finish(); gz.close()
      val code = conn.getResponseCode
      conn.getInputStream.readAllBytes()
      conn.disconnect()
      code
    }

    System.err.println(s"[stress] c=$c runs=$runs nMetrics=$nMetrics nVals=$nVals " +
      s"-> ${c * runs} batches, ${c.toLong * runs * nMetrics} measurements, " +
      s"${c.toLong * runs * nMetrics * nVals} values")
    val ok = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(c)
    val postDone = new CountDownLatch(c)
    val t0 = System.nanoTime()
    val t0Wall = System.currentTimeMillis()
    (0 until c).foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          try {
            var r = 0
            while (r < runs) {
              // event times land in the recent past so 5 s buckets form
              // while the stream is live (measurement ts = now − 2 s)
              val body = batchJson(t, r, System.currentTimeMillis() - 2000)
              if (post(body.getBytes(UTF_8)) == 200) ok.incrementAndGet()
              // leg 3 loopback: the identical payload enters the
              // streaming source (atomic move — the file-source contract)
              val tmp = Files.createTempFile("stress", ".json")
              Files.write(tmp, body.getBytes(UTF_8))
              Files.move(tmp, Paths.get(s"$streamIn/b_${t}_$r.json"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              r += 1
            }
          } finally postDone.countDown()
        }
      })
    }
    postDone.await()
    val postSec = (System.nanoTime() - t0) / 1e9
    val lastPostWall = System.currentTimeMillis()
    System.err.println(f"[stress] HTTP leg: ${ok.get}/${c * runs} accepted in $postSec%.2f s " +
      f"(${c * runs / postSec}%.1f batches/s, ${c.toLong * runs * nMetrics * nVals / postSec}%.0f values/s)")

    // leg 2: wait for the async sink to drain everything it accepted
    allDrained.await(600, TimeUnit.SECONDS)
    val drainSec = (System.nanoTime() - t0) / 1e9
    if (sinkMode == "parquet") {
      spark.catalog.refreshByPath(rawStore)
      sinkRows.set(spark.read.parquet(rawStore).count())
    }
    System.err.println(f"[stress] sink leg: ${drained.get} batches drained in $drainSec%.2f s " +
      f"(${drained.get / drainSec}%.1f batches/s, ${sinkRows.get} measurement rows)")

    // leg 3: closer batch pushes the watermark past every posted bucket,
    // then poll the raw tier until all posted metrics' sketches appear
    val closer = s"""{"metrics":[{"name":"stress_closer","mtype":"timer","measurements":[{"ts":${System.currentTimeMillis() + 60000},"values":[1]}]}]}"""
    val tmp = Files.createTempFile("stress", ".json")
    Files.write(tmp, closer.getBytes(UTF_8))
    Files.move(tmp, Paths.get(s"$streamIn/closer.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val wantMetrics = c.toLong * nMetrics // distinct stress metric names
    var visible = 0L
    val deadline = System.currentTimeMillis() + 300000
    while (visible < wantMetrics && System.currentTimeMillis() < deadline) {
      sq.processAllAvailable()
      spark.catalog.refreshByPath(ingest.rawTierPath)
      visible = scala.util.Try {
        spark.read.parquet(ingest.rawTierPath)
          .where(org.apache.spark.sql.functions.col("metric").startsWith("stress_t"))
          .select("metric").distinct().count()
      }.getOrElse(0L)
      if (visible < wantMetrics) Thread.sleep(500)
    }
    val freshSec = (System.currentTimeMillis() - lastPostWall) / 1e3
    val totalSec = (System.currentTimeMillis() - t0Wall) / 1e3
    System.err.println(f"[stress] stream leg: $visible/$wantMetrics metrics visible in raw tier, " +
      f"freshness (last post -> all visible) $freshSec%.2f s")
    sq.stop(); facade.stop(); pool.shutdown()

    def f2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    println(s"""{"c":$c,"runs":$runs,"n_metrics":$nMetrics,"n_vals":$nVals,""" +
      s""""batches":${c * runs},"accepted":${ok.get},""" +
      s""""post_sec":${f2(postSec)},"post_batches_per_sec":${f2(c * runs / postSec)},""" +
      s""""values_per_sec":${f2(c.toLong * runs * nMetrics * nVals / postSec)},""" +
      s""""drain_sec":${f2(drainSec)},"drain_batches_per_sec":${f2(drained.get / drainSec)},""" +
      s""""sink_rows":${sinkRows.get},""" +
      s""""stream_visible":$visible,"stream_want":$wantMetrics,""" +
      s""""freshness_sec":${f2(freshSec)},"total_sec":${f2(totalSec)}}""")
    spark.stop()
  }
}
