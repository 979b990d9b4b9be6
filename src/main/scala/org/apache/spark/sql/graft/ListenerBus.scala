package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus (see [[RddBlocks]]
  * for why this package). */
object ListenerBus {
  /** Block until every posted listener event has been delivered, so the
    * events of one run are attributed before the next starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
