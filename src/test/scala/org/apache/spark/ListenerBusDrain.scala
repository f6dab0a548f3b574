package org.apache.spark

/** Drains Spark's listener bus for tests. `listenerBus` is
  * package-private, so this one call lives in Spark's package. After it
  * returns, every listener has seen every event posted before the call.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
