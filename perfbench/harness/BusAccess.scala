package org.apache.spark

/** The listener bus is `private[spark]`; the harness drains it before it
  * reads the counters its listeners keep. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
