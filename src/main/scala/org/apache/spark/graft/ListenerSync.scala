package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: lets graft.QueryTally
  * (and perfbench's counters) drain queued listener events so per-query
  * metric windows don't bleed into the next query. Same extension-point
  * idiom as the `org.apache.spark.sql.graftnative` Catalyst work —
  * public Spark API surface only, no behavior patched.
  */
object ListenerSync {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
