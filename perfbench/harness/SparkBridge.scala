package org.apache.spark

/** `listenerBus` is package-private; the benchmark must drain it before it
  * reads what its listener collected, or the last jobs of a pass are lost. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
