package graft.tools

import graft.rollup.Rollup
import graft.Tables
import org.apache.spark.sql.functions._

/** Interleaved A/B of the plain per-step-exchange cascade
  * ([[graft.RollupSpec.plainCascade]]) vs the aligned one-exchange
  * cascade (same box conditions for both arms).
  *
  * Usage: Test/runMain graft.tools.RollupAB [sfDir] [repeat] */
object RollupAB {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val repeat = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.GraftSession.builder(32, 32).appName("rollup-ab").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def meas = Rollup.eventsAsMeasurements(Tables.events(spark, dir))
    def plain(kind: Rollup.Kind, m: org.apache.spark.sql.DataFrame, tiers: Seq[Long]) =
      graft.RollupSpec.plainCascade(kind, Rollup.rawTier(kind, m), tiers)(tiers.last)
    def plain1h =
      Rollup.histogramSummaries(plain(Rollup.Histogram, meas, Rollup.StandardTiers))
        .orderBy("metric", "bucket_start")
    def aligned1h =
      Rollup.histogramSummaries(Rollup.cascadeAlignedTop(Rollup.Histogram, meas))
        .orderBy("metric", "bucket_start")
    def counts = Tables.events(spark, dir).select(
      col("event_type").as("metric"), col("ts_ms"), lit(1L).as("value"))
    def plainC = plain(Rollup.Counter, counts, Seq(30000L, 60000L))
      .orderBy("metric", "bucket_start")
    def alignedC = Rollup.cascadeAlignedTop(Rollup.Counter, counts, Seq(30000L, 60000L))
      .orderBy("metric", "bucket_start")
    def time(f: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime(); graft.Bench.force(f); (System.nanoTime() - t0) / 1e9
    }
    // warm both
    time(plain1h); time(aligned1h); time(plainC); time(alignedC)
    val res = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector())
    for (_ <- 0 until repeat) {
      res("plain1h") :+= time(plain1h)
      res("aligned1h") :+= time(aligned1h)
      res("plainC") :+= time(plainC)
      res("alignedC") :+= time(alignedC)
    }
    def md(v: Vector[Double]) = v.sorted.apply(v.size / 2)
    res.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"[ab] $k%-10s md=${md(v)}%6.3f  all=${v.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
