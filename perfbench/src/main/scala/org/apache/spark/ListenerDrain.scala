package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read after an action include that action. The listener bus is
  * `private[spark]`, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
