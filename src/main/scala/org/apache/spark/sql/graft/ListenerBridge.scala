package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps `private[spark]`:
  * [[graft.tools.Profile]] reads its job counters only after every
  * queued event of a finished entry has reached its listener. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
