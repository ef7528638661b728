package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the cluster branch of Caches.pin requires it (MaterializeSpec)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The sf0.01 fixture beside [[sf]], the scale the plan dumps use. */
  val sf01: String = new java.io.File(sf).getParent + "/sf0.01"
}
