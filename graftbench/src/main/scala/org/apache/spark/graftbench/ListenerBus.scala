package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every event posted so far has reached every listener:
    * task and query-execution events are delivered asynchronously. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
