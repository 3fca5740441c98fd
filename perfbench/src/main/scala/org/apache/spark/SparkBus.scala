package org.apache.spark

/** Waits until the listener bus has delivered every queued event. The
  * bus is private to Spark, hence this file's package. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
