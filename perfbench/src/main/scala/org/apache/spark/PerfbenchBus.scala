package org.apache.spark

/** Listener events arrive asynchronously; the tracer drains the bus before
  * it reads a span's totals. The bus is package-private to Spark, hence
  * this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
