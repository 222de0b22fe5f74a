package org.apache.spark

/** Access to the listener bus's `waitUntilEmpty`, which Spark keeps
  * package-private: the traced run reads its span totals only after every
  * task-end event has been delivered. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
