package org.apache.spark

/** Test-scope reach into `SparkContext.listenerBus` (`private[spark]`):
  * block until every event posted so far has reached every listener, so
  * a listener-based count sees all the jobs a block started. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
