package org.apache.spark

/** Drains the listener bus so every event of a finished call has been
  * delivered before the benchmark reads its listeners.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
