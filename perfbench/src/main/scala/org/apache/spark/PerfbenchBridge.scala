package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs. */
object PerfbenchBridge {
  /** Blocks until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
