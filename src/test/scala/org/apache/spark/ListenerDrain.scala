package org.apache.spark

/** Drains the listener bus so every event of a finished call has been
  * delivered before a spec reads its listener.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
