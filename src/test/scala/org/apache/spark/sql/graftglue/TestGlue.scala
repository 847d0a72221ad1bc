package org.apache.spark.sql.graftglue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spec-side access to session internals that are private[spark]/[sql]:
  * the cache manager's entry count and the executed plans of every query
  * a block runs, writes included, and the Spark jobs a block starts.
  */
object TestGlue {

  /** Persisted plans registered in the session's cache manager. */
  def cachedEntries(s: SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** The executed plan of every query `body` runs, in completion order.
    * Listener events are delivered asynchronously, so the bus is drained
    * before the plans are returned.
    */
  def executedPlans(s: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      body
      s.sparkContext.listenerBus.waitUntilEmpty()
    } finally s.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** The number of Spark jobs `body` starts, counted once the listener
    * bus has drained.
    */
  def jobsRun(s: SparkSession)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s.sparkContext.listenerBus.waitUntilEmpty()
    s.sparkContext.addSparkListener(listener)
    try {
      body
      s.sparkContext.listenerBus.waitUntilEmpty()
    } finally s.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}
