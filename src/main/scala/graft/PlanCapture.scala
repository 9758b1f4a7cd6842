package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** What `body` returned, the plans of every action it ran (in
    * completion order), and the number of Spark jobs it started — more
    * than the actions when a job runs outside any action's own plan
    * (range-partition sampling, schema inference, broadcast collects). */
  final case class Captured[T](value: T, plans: Seq[Plan], jobs: Int)

  /** Runs `body` and captures its actions' plans and its job count. */
  def during[T](spark: SparkSession)(body: => T): Captured[T] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val onAction = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(Plan(action, qe.sparkPlan, qe.executedPlan))
      def onFailure(action: String, qe: QueryExecution,
                    e: Exception): Unit = ()
    }
    val onJob = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // events of earlier actions must not reach these listeners
    Bridge.drainListenerBus(spark)
    spark.listenerManager.register(onAction)
    spark.sparkContext.addSparkListener(onJob)
    try {
      val out = body
      Bridge.drainListenerBus(spark)
      Captured(out, plans.asScala.toSeq, jobs.get)
    } finally {
      spark.sparkContext.removeSparkListener(onJob)
      spark.listenerManager.unregister(onAction)
    }
  }
}
