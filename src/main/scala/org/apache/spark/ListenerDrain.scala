package org.apache.spark

/** The listener bus is `private[spark]`; this one-method bridge lets
  * [[graft.obs.JobLog]] drain it before reading what its listener
  * collected, so events still queued on the async bus are not missed.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
