package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed physical plans of the actions a block of code runs (after
  * adaptive execution, the final plans). Listener events arrive
  * asynchronously, so the capture drains the listener bus first — the bus
  * is Spark-internal, hence this package. */
object PlanCapture {
  def plansDuring[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty(60000L)
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        plans.add(qe.executedPlan.toString)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      bus.waitUntilEmpty(60000L)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
