package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous, so a listener-counted assertion
  * drains the bus before reading its count instead of sleeping. The bus
  * is private to Spark, hence this package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
