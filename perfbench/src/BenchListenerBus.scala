package org.apache.spark

/** The listener bus drain is package-private to Spark: the traced run waits
  * for every posted event before it reads a span's counters.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
