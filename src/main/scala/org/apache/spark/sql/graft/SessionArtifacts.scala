package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.artifact.ArtifactManager

/** A session's artifact state, which Spark 4 keeps `private[sql]`. */
object SessionArtifacts {
  // the flag is Scala-protected, so it is read through its accessor,
  // which the bytecode leaves public
  private val addedFlag = classOf[ArtifactManager].getMethod("sessionArtifactAdded")

  /** Whether `spark` holds session-scoped artifacts (classes, jars or
    * files added through `addArtifact`), which its jobs can only load
    * through the session's own class loader. */
  def added(spark: SparkSession): Boolean = addedFlag.invoke(
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].artifactManager)
    .asInstanceOf[AtomicBoolean].get
}
