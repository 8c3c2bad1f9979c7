package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced run reads its counters only after every queued event of a
  * finished job has reached the listener. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
