package org.apache.spark

/** The listener bus drain a benchmark needs before it reads listener
  * counters; `SparkContext.listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
