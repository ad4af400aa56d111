package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus. Visibility shim only. */
object ListenerBridge {
  /** Blocks until every event already posted to the bus has been
    * delivered to its listeners (10 s timeout), so counters a listener
    * keeps are complete for the actions that have returned. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
