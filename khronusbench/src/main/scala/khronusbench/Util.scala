package khronusbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

/** Small helpers shared by the workloads: JSON text, order statistics,
  * gzip, hashing and file-tree accounting. */
object Util {

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision JSON number (no rounding: the value as measured). */
  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")

  /** Quantile of a sample, interpolating linearly between order
    * statistics; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The 90th percentile, or, when fewer than 10 samples lie beyond it,
    * the highest percentile that has 10 beyond it, so the figure rests
    * on at least ten samples. */
  def tail90(xs: Seq[Double]): Double =
    quantile(xs, math.max(0.0, math.min(0.9, (xs.size - 11.0) / (xs.size - 1.0))))

  def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8))
    gz.close()
    bos.toByteArray
  }

  final class Sha256 {
    private val md = MessageDigest.getInstance("SHA-256")
    def bytes(b: Array[Byte]): Unit = md.update(b)
    def long(v: Long): Unit = {
      var i = 0
      while (i < 8) { md.update((v >>> (8 * i)).toByte); i += 1 }
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** (parquet data files, their bytes) under a directory tree. */
  def parquetFiles(dir: File): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.getName.endsWith(".parquet")) { files += 1; bytes += f.length() }
    walk(dir)
    (files, bytes)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Heap in use in this JVM after an explicit full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
