package org.apache.spark

/** The listener bus is `private[spark]`; this one-line bridge lets the
  * benchmark drain it before reading what its listeners collected, so
  * task-end events still queued on the async bus are not lost.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
