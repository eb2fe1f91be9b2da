package org.apache.spark

/** The listener bus is package-private; the benchmark's tracer needs to
  * wait for queued stage events before it reads them. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
