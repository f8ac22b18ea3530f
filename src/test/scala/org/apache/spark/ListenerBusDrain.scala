package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * queued listener event (SparkListener and QueryExecutionListener alike)
  * has been delivered, instead of sleeping and hoping.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
