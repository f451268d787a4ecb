package org.apache.spark

/** Waits until every posted listener event has been delivered. The
  * listener bus is asynchronous and its drain call is package-private, so
  * this one-line bridge lives in Spark's package. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
