package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so job status read afterwards is current. The bus is package-private
  * to Spark, hence this accessor's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
