package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every event posted so far has reached every listener:
    * job, stage and streaming events are delivered asynchronously, so
    * counters read right after an action can miss the last of them. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
