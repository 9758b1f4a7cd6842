package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the physical plans of every Dataset action a piece of code
  * runs on a session: each checkpoint, count and write, including the
  * eager checkpoints a query builder runs before it returns. These are
  * the plans the shipped path executes, so plan checks and plan dumps
  * read them instead of a hand-kept copy of the query. */
object PlanCapture {
  /** One action: its name (`localCheckpoint`, `count`, `command`, …),
    * the physical plan before AQE and the executed (AQE-final) plan. */
  final case class Plan(action: String, sparkPlan: SparkPlan,
                        executedPlan: SparkPlan)

  /** Runs `body` and returns its result with the plans of every action
    * it ran, in completion order. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Plan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(Plan(action, qe.sparkPlan, qe.executedPlan))
      def onFailure(action: String, qe: QueryExecution,
                    e: Exception): Unit = ()
    }
    // events of earlier actions must not reach this listener
    Bridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val out = body
      Bridge.drainListenerBus(spark)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
