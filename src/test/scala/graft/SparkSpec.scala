package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small core count keeps test
  * startup cheap; correctness is partition-count independent).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Executed plans of the Spark actions `body` runs in this session,
    * in completion order. */
  def executedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // events of earlier actions still queued on the bus must not count
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(cores = 4, shufflePartitions = 4)
      .appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
