package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The context's listener bus, which Spark keeps `private[spark]`. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
