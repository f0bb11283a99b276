package org.apache.spark

/** `SparkContext.listenerBus` is package-private: the tracer needs to wait
  * until every posted event reached its listeners before it closes a span. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
