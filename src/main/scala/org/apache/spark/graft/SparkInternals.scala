package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Scheduler internals Spark keeps `private[spark]`, bridged from
  * inside the `org.apache.spark` namespace (the ColumnBridge pattern).
  */
object SparkInternals {

  /** Blocks until every listener has seen every event posted so far,
    * so counters kept by a SparkListener are complete for the jobs
    * that already ended. Throws `TimeoutException` after `timeoutMs`.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The running SparkContext, if any; never creates one. */
  def activeContext: Option[SparkContext] = SparkContext.getActive
}
