package org.apache.spark

/** Lets the benchmark wait for the listener bus: listener events are
  * delivered asynchronously, so counters read right after an action
  * would otherwise miss its last tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
