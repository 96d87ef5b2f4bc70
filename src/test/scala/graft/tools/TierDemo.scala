package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Tables
import graft.rollup.Rollup
import graft.sources.TierStore

object TierDemo {
  def main(args: Array[String]): Unit = {
    // deployment surface: extensions conf, no manual registration
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println("DEMO extensions SQL: " + spark.sql(
      "SELECT hdr_summary(hdr_sketch(v)).p99 FROM VALUES (1L),(50L),(100L) t(v)")
      .collect()(0).getLong(0))
    println("DEMO vec_dot SQL: " + spark.sql(
      "SELECT vec_dot(array(1.0D,2.0D), array(3.0D,4.0D))").collect()(0).getDouble(0))

    val base = java.nio.file.Files.createTempDirectory("graft_tierdemo").toString
    val store = new TierStore(spark, base)
    val raw = Rollup.rawTier(Rollup.Histogram,
      Rollup.eventsAsMeasurements(Tables.events(spark, "/root/testdata/sf0.001")))
    store.append("hist", 5000L, raw)
    val parts = new java.io.File(store.path("hist", 5000L)).listFiles()
      .count(_.getName.startsWith("bucket_date="))
    println(s"DEMO day partitions written: $parts")

    val f = 1704067200000L
    val plan = store.slice("hist", 5000L, f, f + 86400000L - 1)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    println("DEMO slice plan partition filter present: " + pf.contains("bucket_date"))
    println("DEMO slice rows day1: " + store.slice("hist", 5000L, f, f + 86400000L - 1).count())

    val dropped = store.enforceRetention("hist", 5000L, ttlMs = 7L * 86400000L,
      nowMs = 1706659200000L)
    println(s"DEMO retention dropped ${dropped.size} partitions")
    println("DEMO read after drop: " + store.slice("hist", 5000L, f, 1706659200000L).count())
    // PROBE: slice entirely within dropped range
    println("DEMO slice of dropped days: " + store.slice("hist", 5000L, f, f + 86400000L).count())
    spark.stop()
  }
}
