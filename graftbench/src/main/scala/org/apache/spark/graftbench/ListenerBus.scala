package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: the benchmark drains it
  * before it reads what its listeners recorded for a query, so no event of
  * that query is still queued when its numbers are attributed.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
