package graft.server

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Version
import graft.ingest.MetricBatchIngest
import graft.planner.{DashboardStore, InfluxPlanner, InfluxProtocol}

/** Thin HTTP facade over the engine — the reference's spray endpoints
  * re-expressed on the JDK's built-in server (no extra dependencies):
  *
  *  - `GET  /khronus/version`                → version JSON
  *    (reference: service/VersionService.scala:37-47)
  *  - `GET  /khronus/db/influx/series?q=…`   → InfluxSeries JSON envelope;
  *    Grafana dashboard pseudo-queries route to the dashboard store
  *    (reference: influx/service/InfluxService.scala:46-66)
  *  - `GET/POST /khronus/db/influx/dashboards/series` → the dedicated
  *    dashboard path some Grafana builds use: GET ?q=… runs the same
  *    get/list/drop pseudo-queries, POST stores the head of the posted
  *    dashboard array (reference: InfluxService.scala:67-82)
  * Response parity with the reference: every response carries the CORS
  * headers (util/CORSDirective.scala:37-41), OPTIONS preflights get a
  * bare 200, and a client sending `Accept-Encoding: gzip` gets a
  * gzipped body with `Content-Encoding: gzip` — spray's
  * `compressResponse(NoEncoding, Gzip)` re-expressed
  * (influx/service/InfluxService.scala:45-47).
  *
  *  - `POST /khronus/metrics`                → gzip-or-plain JSON
  *    MetricBatch; parsed and handed to the ingest sink asynchronously,
  *    200 returned immediately — at-most-once, matching the reference's
  *    fire-and-forget ingest (reference: service/KhronusEnpoint.scala:34-46);
  *    a failed batch is logged on stderr and counted as the
  *    `~system.ingest.failures` counter
  *
  * The facade is driver-side plumbing: queries are answered by the
  * planner (one Spark read per source, the rest on the driver) and
  * ingest work happens in the sink it delegates to.
  */
class HttpFacade(spark: SparkSession,
                 planner: InfluxPlanner,
                 dashboards: DashboardStore,
                 ingestSink: DataFrame => Unit = _ => (),
                 port: Int = 0) {

  private var server: HttpServer = _
  private var serverPool: java.util.concurrent.ExecutorService = _
  private val ingestPool = Executors.newSingleThreadExecutor()

  /** Start listening; returns the bound port (ephemeral when port=0). */
  def start(): Int = {
    HttpFacade.init()
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/khronus/version", (ex: HttpExchange) =>
      if (!preflight(ex)) respond(ex, 200, Version.json))
    server.createContext("/khronus/db/influx/series", (ex: HttpExchange) =>
      if (!preflight(ex)) try {
        (queryParam(ex, "q"), queryParam(ex, "u"), queryParam(ex, "p")) match {
          case (None, Some(u), Some(p)) =>
            // no q + credentials = Grafana's datasource connection
            // test; the reference answers it with a plain-text ack
            // (influx/service/InfluxService.scala:49-61)
            respond(ex, 200, s"Authenticated with username: $u and password: $p",
              contentType = "text/plain")
          case (None, _, _) =>
            throw new UnsupportedOperationException("missing q parameter")
          case (Some(q), _, _) =>
            val json =
              if (q.contains("grafana.dashboard") || q.trim.toLowerCase.startsWith("drop"))
                dashboardsJson(q)
              else InfluxProtocol.toJson(planner.execute(spark, q))
            respond(ex, 200, json)
        }
      } catch {
        case e: Exception => respond(ex, 400, s"""{"error":${InfluxProtocol.jsonString(e.getMessage)}}""")
      })
    // the reference also exposes dashboards on a DEDICATED path
    // (influx/service/InfluxService.scala:67-82): GET ?q=<pseudo-query>
    // routes the same get/list/drop operations, POST stores the head of
    // the posted dashboard array — some Grafana builds use this path
    // instead of the /series query-string routing above
    server.createContext("/khronus/db/influx/dashboards/series", (ex: HttpExchange) =>
      if (!preflight(ex)) try {
        if (ex.getRequestMethod.equalsIgnoreCase("POST")) {
          val name = dashboards.storePosted(new String(readBody(ex), UTF_8))
          respond(ex, 200, InfluxProtocol.jsonString(name))
        } else queryParam(ex, "q") match {
          case Some(q) => respond(ex, 200, dashboardsJson(q))
          case None => throw new UnsupportedOperationException("missing q parameter")
        }
      } catch {
        case e: Exception => respond(ex, 400, s"""{"error":${InfluxProtocol.jsonString(e.getMessage)}}""")
      })
    server.createContext("/khronus/metrics", (ex: HttpExchange) => if (!preflight(ex)) {
      val body = new String(readBody(ex), UTF_8)
      // 200 first, parse/ingest after — the reference acks before work
      respond(ex, 200, "")
      ingestPool.submit(new Runnable {
        override def run(): Unit =
          try {
            import spark.implicits._
            ingestSink(MetricBatchIngest.parse(Seq(body).toDF("value")))
          } catch {
            case e: Exception =>
              System.err.println(s"[graft] ingest failed: $e")
              graft.Monitoring.incrementCounter("ingest.failures")
          }
      })
      ()
    })
    serverPool = Executors.newFixedThreadPool(4)
    server.setExecutor(serverPool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    // HttpServer.stop does NOT shut down a user-supplied executor; its
    // non-daemon threads would keep the JVM alive after stop()
    if (serverPool != null) serverPool.shutdown()
    ingestPool.shutdown()
  }

  /** Dashboard-operation response: the stored blobs wrapped in the
    * Influx series envelope, shared by the query-string and dedicated
    * routes. */
  private def dashboardsJson(q: String): String =
    dashboards.operation(q).map { d =>
      s"""{"name":${InfluxProtocol.jsonString(d.name)},"columns":["dashboard"],""" +
        s""""points":[[${InfluxProtocol.jsonString(new String(d.content, UTF_8))}]]}"""
    }.mkString("[", ",", "]")

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split("&").collectFirst {
      case kv if kv.takeWhile(_ != '=') == name =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    })

  private def readBody(ex: HttpExchange): Array[Byte] = {
    val raw = ex.getRequestBody
    val in =
      if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.equalsIgnoreCase("gzip"))) new GZIPInputStream(raw)
      else raw
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** Answer a CORS preflight before the handler does any work (the
    * spray routing's `options { complete(OK) }` sits outside the
    * resource routes for the same reason); returns true when the
    * request was an OPTIONS and has been fully answered. */
  private def preflight(ex: HttpExchange): Boolean =
    ex.getRequestMethod.equalsIgnoreCase("OPTIONS") && {
      HttpFacade.CorsHeaders.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.sendResponseHeaders(200, -1)
      ex.close()
      true
    }

  /** gzip acceptable per RFC 9110 §12.5.3. An explicit `gzip` member
    * governs outright (`gzip;q=0` is a refusal no wildcard can undo —
    * `*` covers only codings not otherwise listed); absent one, a `*`
    * member with q > 0 accepts. */
  private def acceptsGzip(header: String): Boolean = {
    val entries = header.toLowerCase.split(",").map { entry =>
      val parts = entry.split(";").map(_.trim)
      val q = parts.tail.collectFirst { case p if p.startsWith("q=") =>
        try p.drop(2).toDouble catch { case _: NumberFormatException => 1.0 }
      }.getOrElse(1.0)
      (parts.head, q)
    }
    entries.collectFirst { case ("gzip", q) => q > 0 }
      .getOrElse(entries.exists { case (c, q) => c == "*" && q > 0 })
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val h = ex.getResponseHeaders
    HttpFacade.CorsHeaders.foreach { case (k, v) => h.set(k, v) }
    val plain = body.getBytes(UTF_8)
    val wantsGzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(acceptsGzip)
    val bytes =
      if (wantsGzip && plain.nonEmpty) {
        h.set("Content-Encoding", "gzip")
        val bos = new ByteArrayOutputStream()
        val gz = new GZIPOutputStream(bos)
        gz.write(plain); gz.close()
        bos.toByteArray
      } else plain
    h.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

}

object HttpFacade {
  /** TCP_NODELAY on every accepted connection. The JDK server writes a
    * response's headers and body separately and leaves Nagle's algorithm
    * on unless this property is set; against the client's delayed ACK
    * that stalls each GET by about 40 ms. The JDK reads the property
    * once per JVM, when its server configuration class loads, so it is
    * set here, before the first `HttpServer.create`. */
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Initializes this object, and so sets the property above; every
    * [[HttpFacade.start]] calls it before creating its server. */
  private[server] def init(): Unit = ()

  /** Reference CORS surface (util/CORSDirective.scala:37-41). */
  val CorsHeaders: Seq[(String, String)] = Seq(
    "Access-Control-Allow-Methods" -> "GET, POST, PUT, DELETE, OPTIONS",
    "Access-Control-Allow-Headers" ->
      ("Origin, X-Requested-With, Content-Type, Accept, Accept-Encoding, " +
        "Accept-Language, Host, Referer, User-Agent"),
    "Access-Control-Allow-Credentials" -> "true",
    "Access-Control-Allow-Origin" -> "*")

}
