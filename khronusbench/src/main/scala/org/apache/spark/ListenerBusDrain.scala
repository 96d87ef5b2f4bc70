package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so counters read after a measured phase are complete. The bus is
  * package-private to Spark, hence this accessor's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
