package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's task, stage and block events are counted before the next
  * op starts. `listenerBus` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
