package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** A pinned frame's size estimate. A checkpoint keeps the estimate of
  * the plan it pinned (the `LogicalRDD`'s origin stats), so a pin over a
  * join carries the join's product of sides; resetting it needs
  * `Dataset.ofRows`, which Spark 4 keeps `private[sql]`. */
object PinnedSize {
  /** `pinned`, a checkpointed frame, estimated at `rows` rows of its
    * columns' default widths; any other frame is returned as it is. */
  def apply(pinned: DataFrame, rows: Long): DataFrame =
    pinned.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val session = pinned.sparkSession.asInstanceOf[classic.SparkSession]
        val stats = Statistics(
          EstimationUtils.getSizePerRow(r.output) * rows, Some(BigInt(rows)))
        classic.Dataset.ofRows(session,
          r.copy()(session, Some(stats), Some(r.constraints)))
      case _ => pinned
    }
}
