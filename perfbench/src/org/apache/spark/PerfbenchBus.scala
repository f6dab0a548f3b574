package org.apache.spark

/** Drains Spark's listener bus. `listenerBus` is package-private, so this
  * one call lives in Spark's package. After it returns, every listener has
  * seen every event posted before the call: the traced run reads a span's
  * task counters only once they are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
