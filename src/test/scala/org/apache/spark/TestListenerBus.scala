package org.apache.spark

/** The listener bus drain is package-private to Spark: specs that read the
  * status tracker wait for every posted job event first.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
