package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum

/** `graft.Metrics`, the engine's one Spark listener, and the plan text
  * normalization the explain probe diffs by. */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  /** A frame with a shuffle. Build it before the listener attaches, so
    * that only its action's work is recorded. */
  private def aggregate(): DataFrame =
    Tables.orders(spark, sf).groupBy("o_orderstatus").agg(sum("o_totalprice"))

  /** Runs `df`'s action while the listener's callbacks are held back:
    * they lock the listener, so holding its lock stalls the bus, and
    * every event of the action is still queued when it returns. */
  private def stalled(m: Metrics, df: DataFrame): Unit =
    m.synchronized(df.write.format("noop").mode("overwrite").save())

  test("drain: the totals read right after it are final") {
    val df = aggregate()
    val m = Metrics.attach(spark)
    try {
      stalled(m, df)
      m.drain()
      val (totals, jobs) = (m.totals, m.jobs)
      // a control interval, not a wait: nothing may arrive after drain
      Thread.sleep(1000)
      assert(totals.tasks > 0 && totals.inputBytes > 0 && totals.stages > 0, totals)
      assert(m.totals == totals)
      assert(m.jobs == jobs)
      assert(jobs.forall(j => !j.end.isNaN), jobs)
    } finally m.detach()
  }

  test("every job of one DataFrame action maps to that action's SQL execution") {
    val df = aggregate()
    val m = Metrics.attach(spark)
    try stalled(m, df) finally m.detach()
    val execs = m.executions
    assert(execs.size == 1, execs)
    assert(m.jobs.nonEmpty)
    assert(m.jobs.forall(_.exec == execs.head.id), m.jobs)
    assert(execs.head.end >= execs.head.start)
    // the call-site rule: a job or stage Spark names by its own lambda
    // (an AQE stage job) is named by an engine frame
    def named(site: String) = !site.contains("$anonfun") || site.startsWith("graft.")
    assert(m.jobs.forall(j => named(j.site)), m.jobs.map(_.site))
    assert(m.stages.forall(s => named(s.name)), m.stages.map(_.name))
  }

  test("union: overlapping intervals count once") {
    assert(Metrics.union(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Metrics.union(Seq((5.0, 6.0), (0.0, 4.0), (1.0, 2.0))) == 5.0)
    assert(Metrics.union(Nil) == 0.0)
  }

  test("normalize: run-to-run ids become fixed tokens, plan choices stay") {
    def plan(side: String) =
      s"""(1) ShuffleQueryStage
         |Output [2]: [a#12L, b#345]
         |Arguments: 7
         |
         |(2) BroadcastHashJoin [codegen id : 3]
         |Join type: Inner
         |Arguments: $side
         |
         |(3) Scan parquet
         |Location: InMemoryFileIndex [file:/wh/t]
         |Arguments: 5, plan_id=42, RDD[17], x at Foo.scala:123, graft.X@7f3a2b1c
         |""".stripMargin
    val norm = tools.Probe.normalize(plan("BuildRight"), "file:/wh")
    assert(norm ==
      """(1) ShuffleQueryStage
        |Output [2]: [a#NL, b#N]
        |Arguments: N
        |
        |(2) BroadcastHashJoin [codegen id : N]
        |Join type: Inner
        |Arguments: BuildRight
        |
        |(3) Scan parquet
        |Location: InMemoryFileIndex [<warehouse>/t]
        |Arguments: 5, plan_id=N, RDD[N], x at Foo.scala:N, graft.X@N
        |""".stripMargin)
    assert(tools.Probe.normalize(plan("BuildLeft"), "file:/wh") != norm)
  }
}
