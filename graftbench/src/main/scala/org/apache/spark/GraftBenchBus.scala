package org.apache.spark

/** The listener bus delivers events on its own thread; a report read
  * before the bus drains misses the last jobs. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
