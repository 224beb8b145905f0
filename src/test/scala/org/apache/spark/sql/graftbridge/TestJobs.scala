package org.apache.spark.sql.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code launched: the Spark jobs it started and
  * the executed plans of the actions it ran. Listener events are posted
  * asynchronously, so the bus is drained before and after the block —
  * a count taken without draining can miss a job that already ran.
  */
object TestJobs {

  final case class Launched[T](result: T, jobs: Int, plans: Seq[SparkPlan])

  def launched[T](spark: SparkSession)(body: => T): Launched[T] = {
    val sc = spark.sparkContext
    val manager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    manager.register(planListener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      Launched(result, jobs.get, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      manager.unregister(planListener)
    }
  }
}
