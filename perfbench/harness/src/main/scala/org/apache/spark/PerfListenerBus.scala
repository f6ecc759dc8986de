package org.apache.spark

/** Access to the SparkContext's listener bus, which Spark keeps
  * package-private: the tracer waits on it before reading its counters.
  */
object PerfListenerBus {
  /** Blocks until every queue of the bus is empty, or `timeoutMs` passes. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
