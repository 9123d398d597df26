package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait for
  * it so that every event of an op is counted before the op's totals are
  * read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
