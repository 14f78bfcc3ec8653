package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * counts a span reads at its end include all of its jobs' task events.
  * Lives in this package because `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
