package graft

import graft.rollup.Rollup
import org.apache.spark.sql.functions._

class MonitoringSpec extends SparkSpec {

  test("self-metrics flow through the rollup cascade as ~system metrics") {
    val T0 = 1704067200000L
    Monitoring.recordTimer("rollup.latency", 120, now = T0)
    Monitoring.recordTimer("rollup.latency", 80, now = T0 + 1000)
    Monitoring.incrementCounter("ticks", now = T0 + 2000)
    val meas = Monitoring.flushAsMeasurements(spark)
    assert(Monitoring.pendingCount == 0)

    val tier = Rollup.rawTier(Rollup.Histogram, meas.where(col("metric") === "~system.rollup.latency"))
    val sums = Rollup.histogramSummaries(tier).collect()
    assert(sums.length == 1)
    val r = sums(0)
    assert(r.getAs[String]("metric") == "~system.rollup.latency")
    assert(r.getAs[Long]("count") == 2 && r.getAs[Long]("max") == 120)

    // catalog flags ~ metrics as system
    assert(graft.planner.Metric("~system.rollup.latency", "timer").isSystem)
  }

  test("query listener captures action durations") {
    Monitoring.instrument(spark)
    Tables.region(spark, sf).count()
    // listeners fire asynchronously; wait briefly
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline && Monitoring.pendingCount == 0)
      Thread.sleep(100)
    assert(Monitoring.pendingCount > 0)
    val m = Monitoring.flushAsMeasurements(spark).collect()
    assert(m.exists(_.getString(0) == "~system.query.duration"))
  }
}
