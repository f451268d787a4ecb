package org.apache.spark

/** Waits until every queue of the listener bus, the status store's
  * included, has delivered every posted event. The call is
  * package-private, so this bridge lives in Spark's package. Tests use it
  * to read `statusTracker` without racing the store's own queue. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
