package org.apache.spark

/** Waits until every event posted so far has reached every listener; the
  * bus is `private[spark]`, and listeners run on its own thread. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
