package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Builder-side job profiler: run ONE registered query (warm pass
  * first) and print every Spark job it schedules with wall duration
  * and the first line of its call site — the tool that tells serial
  * construction latency apart from real shuffle work when a query's
  * end-to-end time won't drop (TimeQuery gives the total; this gives
  * the shape of it). Jobs are also grouped by the SQL execution that
  * owns them (the `spark.sql.execution.id` job property): one line per
  * execution with its span, job count and the engine frame that
  * issued it, so a driver gap points at the eager action (a pin, a
  * sizing count, the final write) it sits in.
  *   sbt "runMain graft.tools.JobTrace <sfDir> <query> [warm=1]"
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val warm = if (args.length > 2) args(2).toInt else 1
    require(graft.SparkEntry.queries.contains(name), s"unknown query $name")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def once(): Unit = graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (0 until warm).foreach(_ => once())

    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String, Long)]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, String)]
    // job id -> owning SQL execution id (-1: a job outside any execution)
    val owner = scala.collection.concurrent.TrieMap.empty[Int, Long]
    // execution id -> (start, end, owning engine frame)
    val execs = scala.collection.concurrent.TrieMap.empty[Long, (Double, Double, String)]
    val t0 = System.nanoTime()
    def now: Double = (System.nanoTime() - t0) / 1e9
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // driver-side maintainer/tool calls carry no callSite property;
        // the last stage's name (the action site) is the attribution
        val props = Option(j.properties)
        val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).getOrElse(-1L)
        starts.put(j.jobId, (System.nanoTime(), site, exec))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (s, site, exec) =>
          owner.put(j.jobId, exec)
          rows.synchronized {
            rows += ((j.jobId, (s - t0) / 1e9, (System.nanoTime() - s) / 1e9, site))
          }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          // the long call site is a stack: the first engine frame
          // outside the pin helper names the code that asked
          val frame = x.details.linesIterator.map(_.trim)
            .find(l => l.startsWith("graft.") && !l.startsWith("graft.Caches"))
            .getOrElse(x.description)
          execs.put(x.executionId, (now, Double.NaN, s"${x.description} <- $frame"))
        case x: SparkListenerSQLExecutionEnd =>
          execs.get(x.executionId).foreach { case (st, _, site) =>
            execs.put(x.executionId, (st, now, site))
          }
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // r20 (VERDICT #3): split CONSTRUCTION (the registered builder —
    // for the gram family this includes the two eager pins and their
    // Catalyst passes) from the ACTION (final-plan analysis + AQE
    // stage execution), so the driver gap attributes to one of them
    // instead of reading as one opaque number
    val tq0 = System.nanoTime()
    val frame = graft.SparkEntry.queries(name)(spark, sfDir)
    val tCon = (System.nanoTime() - tq0) / 1e9
    frame.write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - tq0) / 1e9
    // the listener bus is async with no public drain hook: poll until
    // the row count is stable across two 300 ms windows (a fixed sleep
    // silently dropped late job-end events on loaded hosts, and the
    // tool then misattributed scheduled work as driver time — the
    // opposite of its purpose); reads go through the same lock the
    // listener threads append under
    def snapshot(): Seq[(Int, Double, Double, String)] =
      rows.synchronized(rows.toList)
    var last = -1
    var stable = 0
    while (stable < 2) {
      Thread.sleep(300)
      val n = snapshot().length
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(listener)
    val finalRows = snapshot()
    val fmt = java.util.Locale.ROOT
    finalRows.sortBy(_._1).foreach { case (id, at, dur, site) =>
      println(String.format(fmt, "[job] %3d  at %7.2fs  dur %6.2fs  exec %4d  %s",
        Int.box(id), Double.box(at), Double.box(dur),
        Long.box(owner.getOrElse(id, -1L)), site))
    }
    // per execution: its span, its jobs and the time inside its span
    // that no job of it covered (that execution's own driver gap)
    val byExec = finalRows.groupBy(r => owner.getOrElse(r._1, -1L))
    (execs.keySet ++ byExec.keySet).toSeq.sorted.foreach { id =>
      val jobs = byExec.getOrElse(id, Nil)
      val (st, en, site) = execs.getOrElse(id, {
        val s0 = jobs.map(_._2).minOption.getOrElse(0.0)
        (s0, jobs.map(r => r._2 + r._3).maxOption.getOrElse(s0),
          "jobs outside any SQL execution")
      })
      val span = if (en.isNaN) Double.NaN else en - st
      println(String.format(fmt,
        "[exec] %4d  at %7.2fs  span %6.2fs  %3d jobs  gap %6.2fs  %s",
        Long.box(id), Double.box(st), Double.box(span), Int.box(jobs.length),
        Double.box(span - union(jobs.map { case (_, at, dur, _) => (at, at + dur) })),
        site))
    }
    // the gap is total MINUS the union of job [start, end) intervals,
    // not minus the duration sum: Spark schedules broadcast-exchange
    // jobs concurrently with their parents, so the sum can exceed
    // total and a sum-based gap goes negative / misattributes
    // overlapped scheduler time as negative driver time
    val covered = union(finalRows.map { case (_, at, dur, _) => (at, at + dur) })
    println(String.format(fmt,
      "[jobtrace] %s total %.2fs, %d jobs, job-sum %.2fs, " +
        "covered %.2fs (gap %.2fs = driver/plan time)",
      name, Double.box(total), Int.box(finalRows.length),
      Double.box(finalRows.map(_._3).sum), Double.box(covered),
      Double.box(total - covered)))
    // covered time inside the construction window alone: the part of
    // tCon that was scheduled work (the eager pins' jobs), so
    // (tCon - coveredCon) is pure construction-side Catalyst/driver
    val coveredCon = union(finalRows.map { case (_, at, dur, _) => (at, at + dur) }
      .filter(_._1 < tCon).map { case (s, e) => (s, math.min(e, tCon)) })
    println(String.format(fmt,
      "[jobtrace] %s construction %.2fs (scheduled %.2fs, driver %.2fs)" +
        " | action %.2fs (scheduled %.2fs, driver %.2fs)",
      name, Double.box(tCon), Double.box(coveredCon),
      Double.box(tCon - coveredCon), Double.box(total - tCon),
      Double.box(covered - coveredCon),
      Double.box((total - tCon) - (covered - coveredCon))))
    spark.stop()
  }

  /** Length of the union of [start, end) intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var (cov, hi) = (0.0, -1.0)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { cov += e - s; hi = e }
      else if (e > hi) { cov += e - hi; hi = e }
    }
    cov
  }
}
