package org.apache.spark

/** The listener bus is `private[spark]`; this bridge lets a spec drain
  * it before reading what its listeners collected, so events still
  * queued on the async bus are not missed.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
