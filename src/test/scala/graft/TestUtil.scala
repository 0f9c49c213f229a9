package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

object TestUtil {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Runs `body` and returns its result with the executed physical plan of
    * every Dataset action it ran (collects, counts, checkpoints), in the
    * order they finished, and of no action that finished before it. Under
    * AQE a plan is the final adaptive plan.
    */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // actions that finished before `body` may still be queued on the bus
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
