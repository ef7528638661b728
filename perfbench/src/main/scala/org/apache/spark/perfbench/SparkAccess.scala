package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two SparkContext internals the benchmark's listener relies on. */
object SparkAccess {
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Block until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
