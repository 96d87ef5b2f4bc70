package graft

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import graft.planner.{DashboardStore, InfluxPlanner, MaterializedTiers}
import graft.server.HttpFacade

class HttpFacadeSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val (code, body, _) = getWithType(url)
    (code, body)
  }

  private def getWithType(url: String): (Int, String, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val ct = Option(conn.getContentType).getOrElse("")
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Option(stream).map(s => new String(s.readAllBytes(), UTF_8)).getOrElse("")
    conn.disconnect()
    (code, body, ct)
  }

  private def post(url: String, payload: String): Int = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(payload.getBytes(UTF_8))
    val code = conn.getResponseCode
    conn.disconnect()
    code
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  test("facade serves version, influx series, ingest, and dashboards") {
    val dashDir = java.nio.file.Files.createTempDirectory("graft_dash").toString
    val ingested = new java.util.concurrent.LinkedBlockingQueue[Long]()
    val facade = new HttpFacade(spark,
      new InfluxPlanner(MaterializedTiers.provider(spark, sf)),
      new DashboardStore(dashDir),
      df => ingested.put(df.count()))
    val port = facade.start()
    try {
      val base = s"http://localhost:$port"

      val (vc, vb) = get(s"$base/khronus/version")
      assert(vc == 200 && vb == Version.json)

      val q = """select count from "purchase" where time between 1704067200000 and 1704153599999 force group by time(1h)"""
      val (sc, sb) = get(s"$base/khronus/db/influx/series?q=${enc(q)}")
      assert(sc == 200 && sb.startsWith("""[{"name":"purchase","columns":["time","count"]"""))

      val (lc, lb) = get(s"$base/khronus/db/influx/series?q=${enc("list series /count/")}")
      assert(lc == 200 && lb.contains("purchase_count"))

      val (bc, bb) = get(s"$base/khronus/db/influx/series?q=${enc("select banana from")}")
      assert(bc == 400 && bb.contains("error"))

      // Grafana connection test: no q + credentials → plain-text ack
      // (reference InfluxService.scala:49-61); no q, no creds → 400
      val (ac, ab, act) = getWithType(s"$base/khronus/db/influx/series?u=grafana&p=secret")
      assert(ac == 200 && ab == "Authenticated with username: grafana and password: secret")
      assert(act.startsWith("text/plain"), s"ack content type was $act")
      // query responses stay JSON-typed
      val (_, _, sct) = getWithType(s"$base/khronus/db/influx/series?q=${enc(q)}")
      assert(sct.startsWith("application/json"), s"series content type was $sct")
      val (nc, _) = get(s"$base/khronus/db/influx/series")
      assert(nc == 400)

      // ingest: fire-and-forget 200, parsed rows arrive at the sink
      val batch = """{"metrics":[{"name":"m1","mtype":"timer","measurements":[{"ts":1704067200000,"values":[5, 7]}]}]}"""
      assert(post(s"$base/khronus/metrics", batch) == 200)
      val n = ingested.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(n == 2L)

      // gzip body with Content-Encoding: gzip decodes identically
      val gz = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.GZIPOutputStream(bos)
        z.write(batch.getBytes(UTF_8)); z.close()
        bos.toByteArray
      }
      val conn = new URL(s"$base/khronus/metrics").openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Encoding", "gzip")
      conn.getOutputStream.write(gz)
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      assert(ingested.poll(30, java.util.concurrent.TimeUnit.SECONDS) == 2L)

      // response parity: CORS headers on every response; Accept-Encoding:
      // gzip gets a gzipped body; OPTIONS preflight returns bare 200
      locally {
        val conn = new URL(s"$base/khronus/db/influx/series?q=${enc("list series /count/")}")
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("Accept-Encoding", "gzip")
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Content-Encoding") == "gzip")
        assert(conn.getHeaderField("Access-Control-Allow-Origin") == "*")
        assert(conn.getHeaderField("Access-Control-Allow-Credentials") == "true")
        assert(Option(conn.getHeaderField("Access-Control-Allow-Methods")).exists(_.contains("OPTIONS")))
        val body = new String(
          new java.util.zip.GZIPInputStream(conn.getInputStream).readAllBytes(), UTF_8)
        assert(body.contains("purchase_count"))
        conn.disconnect()
      }
      locally { // no Accept-Encoding → identity body, CORS still present
        val conn = new URL(s"$base/khronus/version").openConnection()
          .asInstanceOf[HttpURLConnection]
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Content-Encoding") == null)
        assert(conn.getHeaderField("Access-Control-Allow-Origin") == "*")
        conn.disconnect()
      }
      locally { // preflight answers before any handler work runs
        val conn = new URL(s"$base/khronus/db/influx/series").openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("OPTIONS")
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Access-Control-Allow-Origin") == "*")
        conn.disconnect()
        // an OPTIONS to /metrics must NOT enqueue an ingest
        val mconn = new URL(s"$base/khronus/metrics").openConnection()
          .asInstanceOf[HttpURLConnection]
        mconn.setRequestMethod("OPTIONS")
        assert(mconn.getResponseCode == 200)
        mconn.disconnect()
        // NOTE: poll on a scala.Long queue unboxes null to 0 — check
        // emptiness, not a null sentinel
        Thread.sleep(1500)
        assert(ingested.isEmpty, "preflight reached the ingest sink")
      }
      locally { // gzip;q=0 is an explicit refusal → identity body
        val conn = new URL(s"$base/khronus/version").openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("Accept-Encoding", "gzip;q=0, identity")
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Content-Encoding") == null)
        conn.disconnect()
      }
      locally { // a wildcard cannot undo an explicit gzip refusal
        val conn = new URL(s"$base/khronus/version").openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("Accept-Encoding", "gzip;q=0, *")
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Content-Encoding") == null)
        conn.disconnect()
      }
      locally { // bare wildcard (gzip unlisted) does enable gzip
        val conn = new URL(s"$base/khronus/version").openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("Accept-Encoding", "*")
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Content-Encoding") == "gzip")
        conn.disconnect()
      }

      // dashboards: store, grafana-style get / list / drop
      e2eDashboards(base, dashDir)
    } finally facade.stop()
  }

  test("a failed POST ingest is counted as ~system.ingest.failures; a division by zero is a 400") {
    val dashDir = java.nio.file.Files.createTempDirectory("graft_dash_fail").toString
    val reached = new java.util.concurrent.CountDownLatch(1)
    val facade = new HttpFacade(spark,
      new InfluxPlanner(MaterializedTiers.provider(spark, sf)),
      new DashboardStore(dashDir),
      _ => { reached.countDown(); throw new IllegalStateException("sink down") })
    val port = facade.start()
    try {
      val base = s"http://localhost:$port"
      val batch = """{"metrics":[{"name":"m1","mtype":"timer","measurements":[{"ts":1704067200000,"values":[5]}]}]}"""
      assert(post(s"$base/khronus/metrics", batch) == 200)
      assert(reached.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // the counter lands right after the sink throws; other suites'
      // samples may share the queue, so collect until it shows up
      val failures = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val deadline = System.currentTimeMillis() + 30000
      while (failures.isEmpty && System.currentTimeMillis() < deadline) {
        failures ++= Monitoring.flushAsMeasurements(spark).collect()
          .filter(_.getString(0) == "~system.ingest.failures")
        if (failures.isEmpty) Thread.sleep(50)
      }
      assert(failures.map(_.getLong(2)).toSeq == Seq(1L))

      val q = """select e.count / 0 as boom from "error" as e where time between 1704067200000 and 1704153599999 force group by time(1h)"""
      val (code, body) = get(s"$base/khronus/db/influx/series?q=${enc(q)}")
      assert(code == 400 && body.contains("Could not divide by zero"), body)
    } finally facade.stop()
  }

  test("storePosted: depth scan survives nested braces and escaped quotes; head wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dash_post").toString
    val store = new DashboardStore(dir)
    val b64 = java.util.Base64.getEncoder.encodeToString("nested".getBytes(UTF_8))
    // dashboard blobs contain nested objects and strings with escaped
    // quotes and braces — the scanner must find the HEAD element's true
    // closing brace, and only the head is stored (reference semantics)
    val head = s"""{"name":"grafana.dashboard_$b64","points":[[0,"{\\"rows\\":[{\\"title\\":\\"a}b\\"}]}"]]}"""
    val name = store.storePosted(s"""[ $head, {"name":"ignored_tail"} ]""")
    assert(name == "nested")
    val got = store.lookup("nested")
    assert(got.size == 1 && new String(got.head.content, UTF_8) == head)
    // rejections: not an array / no object / missing name
    intercept[Exception](store.storePosted("""{"name":"x"}"""))
    intercept[Exception](store.storePosted("[ 42 ]"))
    intercept[Exception](store.storePosted("""[{"title":"anon"}]"""))
  }

  /** The loop a reference user actually runs: POST /metrics batches →
    * rollup cascade → GET /series returns the ingested data. */
  test("end-to-end: HTTP ingest feeds the cascade; influx query serves it back") {
    import graft.planner.{Metric, MetricCatalog, SummaryProvider}
    import graft.rollup.Rollup
    import org.apache.spark.sql.DataFrame
    val T0 = 1704067200000L
    val measurementsDir = java.nio.file.Files.createTempDirectory("graft_e2e_meas").toString
    val arrived = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    // the sink lands parsed measurements in a parquet dir — the role the
    // raw bucket store plays in the reference's ingest path
    val facade = new HttpFacade(spark,
      new InfluxPlanner(MaterializedTiers.provider(spark, sf)),
      new DashboardStore(java.nio.file.Files.createTempDirectory("graft_e2e_dash").toString),
      df => {
        df.write.mode("append").parquet(measurementsDir)
        arrived.put(df.count())
      })
    val port = facade.start()
    try {
      val batch1 =
        s"""{"metrics":[{"name":"lat","mtype":"timer","measurements":[
           |{"ts":$T0,"values":[100,200]},{"ts":${T0 + 31000},"values":[300]}]}]}"""
          .stripMargin.replaceAll("\n", "")
      val batch2 =
        s"""{"metrics":[{"name":"lat","mtype":"timer","measurements":[
           |{"ts":${T0 + 62000},"values":[400]}]}]}""".stripMargin.replaceAll("\n", "")
      assert(post(s"http://localhost:$port/khronus/metrics", batch1) == 200)
      assert(post(s"http://localhost:$port/khronus/metrics", batch2) == 200)
      assert(arrived.poll(30, java.util.concurrent.TimeUnit.SECONDS) == 3L)
      assert(arrived.poll(30, java.util.concurrent.TimeUnit.SECONDS) == 1L)

      // rollup the ingested measurements (the reference's tick job)
      val raw = Rollup.rawTier(Rollup.Histogram, spark.read.parquet(measurementsDir))
      val tiers = RollupSpec.plainCascade(Rollup.Histogram, raw)
        .map { case (w, t) => w -> Rollup.histogramSummaries(t).cache() }
      val provider = new SummaryProvider {
        val catalog = MetricCatalog(Seq(Metric("lat", "timer")))
        def summaries(m: Metric, w: Long, fromMs: Long, toMs: Long): DataFrame =
          tiers(w).where(org.apache.spark.sql.functions.col("metric") === m.name)
            .where(org.apache.spark.sql.functions.col("bucket_start").between(fromMs, toMs))
            .drop("metric")
      }
      val qFacade = new HttpFacade(spark, new InfluxPlanner(provider),
        new DashboardStore(java.nio.file.Files.createTempDirectory("graft_e2e_d2").toString))
      val qPort = qFacade.start()
      try {
        val q = s"""select count, max from "lat" where time between $T0 and ${T0 + 120000} force group by time(30s)"""
        val (code, json) = get(s"http://localhost:$qPort/khronus/db/influx/series?q=${enc(q)}")
        assert(code == 200, json)
        // 30s buckets: [T0: 100,200] → count 2 max 200; [T0+30s: 300] →
        // 1/300; [T0+60s: 400] → 1/400
        assert(json.contains(s"""[$T0,2.0]""") && json.contains(s"""[${T0 + 30000},1.0]"""),
          json)
        assert(json.contains(s"""[$T0,200.0]""") && json.contains(s"""[${T0 + 60000},400.0]"""),
          json)
      } finally qFacade.stop()
    } finally facade.stop()
  }

  private def e2eDashboards(base: String, dashDir: String): Unit = {
    locally {
      val store = new DashboardStore(dashDir)
      store.store("mydash", """{"title":"mydash"}""".getBytes(UTF_8))
      val b64 = java.util.Base64.getEncoder.encodeToString("mydash".getBytes(UTF_8))
      val (gc, gb) = get(s"$base/khronus/db/influx/series?q=${enc(s"""select dashboard from "grafana.dashboard_$b64"&time_precision=s""")}")
      assert(gc == 200 && gb.contains("mydash"))
      val (xc, xb) = get(s"$base/khronus/db/influx/series?q=${enc("""select * from /grafana.dashboard_.*/ where title =~ /.*mydash.*/i&time_precision=s""")}")
      assert(xc == 200 && xb.contains("mydash"))
      val (dc, _) = get(s"$base/khronus/db/influx/series?q=${enc(s"""drop series "grafana.dashboard_$b64"""")}")
      assert(dc == 200)
      assert(new DashboardStore(dashDir).lookup(".*").isEmpty)
    }
    locally { // the DEDICATED dashboards path: POST store → get/list/drop
      val b64 = java.util.Base64.getEncoder.encodeToString("dash2".getBytes(UTF_8))
      val dash = s"""{"name":"grafana.dashboard_$b64","columns":["time","sequence_number","title","tags","dashboard","id"],"points":[[0,0,"dash2","","{}","dash2"]]}"""
      assert(post(s"$base/khronus/db/influx/dashboards/series", s"[$dash]") == 200)
      val (gc, gb) = get(s"$base/khronus/db/influx/dashboards/series?q=${enc(s"""select dashboard from "grafana.dashboard_$b64"&time_precision=s""")}")
      assert(gc == 200 && gb.contains("dash2"), gb)
      val (xc, xb) = get(s"$base/khronus/db/influx/dashboards/series?q=${enc("""select * from /grafana.dashboard_.*/ where title =~ /.*dash2.*/i&time_precision=s""")}")
      assert(xc == 200 && xb.contains("dash2"), xb)
      val (dc, _) = get(s"$base/khronus/db/influx/dashboards/series?q=${enc(s"""drop series "grafana.dashboard_$b64"""")}")
      assert(dc == 200)
      assert(new DashboardStore(dashDir).lookup("dash2").isEmpty)
      // a malformed payload is a 400, not a 500/hang
      val mc = post(s"$base/khronus/db/influx/dashboards/series", "not json")
      assert(mc == 400)
    }
  }

  test("the facade turns Nagle off: TCP_NODELAY is on before its server is created") {
    val facade = new HttpFacade(spark,
      new InfluxPlanner(MaterializedTiers.provider(spark, sf)),
      new DashboardStore(java.nio.file.Files.createTempDirectory("graft_dash_nodelay").toString))
    val port = facade.start()
    try {
      // the JDK server reads this once, when its configuration loads
      assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
      assert(get(s"http://localhost:$port/khronus/version") == (200, Version.json))
    } finally facade.stop()
  }
}
