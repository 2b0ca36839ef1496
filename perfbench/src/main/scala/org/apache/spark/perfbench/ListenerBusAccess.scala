package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous; the tracer drains after each span
  * so the span's jobs, tasks and query executions are all counted before
  * it is read. The bus is private to Spark, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
