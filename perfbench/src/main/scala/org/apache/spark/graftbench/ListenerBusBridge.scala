package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced run must
  * wait until every queued listener event has been delivered before it
  * reads the totals its listeners collected.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
