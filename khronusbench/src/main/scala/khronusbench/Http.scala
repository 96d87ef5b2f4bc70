package khronusbench

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPInputStream

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Blocking HTTP client over real sockets, shaped like the callers the
  * facade serves: Grafana GETs with `Accept-Encoding: gzip`, agents POST
  * gzip MetricBatch bodies. */
final class Http(port: Int) {
  private val mapper = new ObjectMapper()

  /** GET an InfluxQL query; returns (status, parsed body). The body is
    * read in full and parsed before returning, so a caller's timer
    * around this call covers transfer and decoding. */
  def query(q: String): (Int, JsonNode) = {
    val url = s"http://localhost:$port/khronus/db/influx/series?q=" +
      URLEncoder.encode(q, "UTF-8")
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestProperty("Accept-Encoding", "gzip")
    val code = c.getResponseCode
    val raw = if (code >= 400) c.getErrorStream else c.getInputStream
    val in =
      if ("gzip".equalsIgnoreCase(c.getHeaderField("Content-Encoding"))) new GZIPInputStream(raw)
      else raw
    val body = readAll(in)
    (code, if (body.isEmpty) null else mapper.readTree(body))
  }

  /** POST a gzip MetricBatch; returns the status once the ack is read. */
  def postMetrics(gz: Array[Byte]): Int = {
    val c = URI.create(s"http://localhost:$port/khronus/metrics").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.setRequestProperty("Content-Encoding", "gzip")
    c.setFixedLengthStreamingMode(gz.length)
    val out = c.getOutputStream
    out.write(gz)
    out.close()
    val code = c.getResponseCode
    readAll(if (code >= 400) c.getErrorStream else c.getInputStream)
    code
  }

  private def readAll(in: InputStream): Array[Byte] =
    if (in == null) Array.emptyByteArray
    else {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](16384)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      out.toByteArray
    }
}

object Http {
  /** Decoded Influx envelope: (series name, value column label) → points
    * as (time, value) with `value` kept as a JSON node. */
  final case class Series(name: String, label: String, points: Vector[(Long, JsonNode)])

  def series(body: JsonNode): Vector[Series] = {
    require(body != null && body.isArray, s"response is not a series array: $body")
    (0 until body.size()).map { i =>
      val s = body.get(i)
      val cols = s.get("columns")
      val pts = s.get("points")
      Series(s.get("name").asText(), cols.get(1).asText(),
        (0 until pts.size()).map { j =>
          val p = pts.get(j)
          (p.get(0).asLong(), p.get(1))
        }.toVector)
    }.toVector
  }
}
