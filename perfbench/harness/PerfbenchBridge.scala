package org.apache.spark

/** The listener bus is private to Spark; the traced run waits on it so
  * every task event of a pass is counted before the pass is summed. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
