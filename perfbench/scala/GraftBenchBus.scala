package org.apache.spark

/** The listener bus drain the benchmark needs to attribute listener
  * events to the operation that caused them. `listenerBus` is
  * package-private to Spark, hence this one-line bridge.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
