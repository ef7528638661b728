package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.ListenerBus

/** The engine's Spark listener: what a stretch of driver code asked the
  * cluster to do. Per job its span, owning SQL execution, call site and
  * stages; per stage its name and task totals; per SQL execution its
  * span, the engine frame that asked for it and the janino compiles
  * inside it. Times are seconds since [[Metrics.attach]], taken from the
  * events themselves, so listener-bus lag does not shift them.
  *
  * The bus is asynchronous: read after [[drain]] (or [[detach]], which
  * drains first) and the records hold every event posted so far. */
final class Metrics private (sc: SparkContext) extends SparkListener {
  import Metrics._

  private val epochMs = System.currentTimeMillis()
  private def at(ms: Long): Double = (ms - epochMs) / 1e3
  private val jobMap = mutable.TreeMap.empty[Int, Job]
  private val stageMap = mutable.TreeMap.empty[Int, Stage]
  private val execMap = mutable.TreeMap.empty[Long, Exec]
  // an execution's janino counters at its start, until it ends
  private val compilesAt = mutable.HashMap.empty[Long, (Long, Long)]

  /** Seconds since attach. */
  def now: Double = at(System.currentTimeMillis())

  /** Block until every event posted so far is recorded. */
  def drain(): Unit = ListenerBus.drain(sc)

  /** Drain, then stop listening. Detaching first would drop the events
    * still queued for this listener. */
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  def jobs: Seq[Job] = synchronized(jobMap.values.toSeq)
  def stages: Seq[Stage] = synchronized(stageMap.values.toSeq)
  def executions: Seq[Exec] = synchronized(execMap.values.toSeq)

  /** Task totals of every stage seen, with the job and stage counts. */
  def totals: Totals = synchronized {
    stageMap.values.map(_.totals).foldLeft(Totals(jobs = jobMap.size))(_ + _)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").flatMap(_.toLongOption).getOrElse(-1L)
    val owner = execMap.get(exec)
    e.stageInfos.foreach { si =>
      stageMap.getOrElseUpdate(si.stageId,
        Stage(si.stageId, site(si.name, Seq(si.details), owner), Totals()))
    }
    // driver-side engine calls carry no call-site property; the last
    // stage's name (the action site) names them
    val short = prop("callSite.short")
      .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
      .getOrElse("?")
    val stacks = prop("callSite.long").toSeq ++ e.stageInfos.reverse.map(_.details)
    jobMap(e.jobId) = Job(e.jobId, exec, site(short, stacks, owner), e.stageIds,
      at(e.time), Double.NaN)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(j => jobMap(e.jobId) = j.copy(end = at(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageMap.get(e.stageInfo.stageId).foreach { s =>
      stageMap(s.id) = s.copy(totals = s.totals + Totals(stages = 1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      val s = stageMap.getOrElse(e.stageId, Stage(e.stageId, "?", Totals()))
      stageMap(e.stageId) = s.copy(totals = s.totals + Totals.of(e.taskMetrics))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case x: SparkListenerSQLExecutionStart =>
        execMap(x.executionId) = Exec(x.executionId, x.description,
          engineFrame(x.details).getOrElse(x.description), at(x.time), Double.NaN, 0L, 0L)
        compilesAt(x.executionId) = compiled
      case x: SparkListenerSQLExecutionEnd =>
        val (n0, ns0) = compilesAt.remove(x.executionId).getOrElse(compiled)
        val (n, ns) = compiled
        execMap.get(x.executionId).foreach { s =>
          execMap(x.executionId) = s.copy(end = at(x.time), compiles = n - n0,
            compileNs = ns - ns0)
        }
      case _ =>
    }
  }
}

object Metrics {
  /** Spark task totals, perfbench's field set: executor run, CPU and GC
    * time; bytes read from input, read and written by shuffles, spilled. */
  final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  }

  object Totals {
    def of(m: TaskMetrics): Totals = Totals(tasks = 1,
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead,
      shuffleReadBytes = m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** `exec` is the owning SQL execution, -1 for a job outside any;
    * `end` is NaN while the job runs. */
  final case class Job(id: Int, exec: Long, site: String, stageIds: Seq[Int],
      start: Double, end: Double)

  final case class Stage(id: Int, name: String, totals: Totals)

  /** `frame` is the engine frame that asked for the execution, or its
    * description when none did; `compiles`/`compileNs` count the janino
    * compilations inside it. */
  final case class Exec(id: Long, description: String, frame: String,
      start: Double, end: Double, compiles: Long, compileNs: Long)

  def attach(spark: SparkSession): Metrics = {
    val m = new Metrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** janino compilations in this JVM so far (the driver's and, on a
    * local master, the tasks'): count and total compile nanoseconds. An
    * execution's share is read when the listener sees its events, so a
    * compile running across an edge may count in its neighbour. */
  def compiled: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** The first engine frame of a long call site, past the pin helper and
    * the tools, which only call the code that asked. */
  private def engineFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).find(l => l.startsWith("graft.") &&
      !l.startsWith("graft.Caches") && !l.startsWith("graft.tools"))

  /** A job's or stage's call site: its short form, unless that names a
    * Spark lambda (an AQE stage job or a broadcast), then the first
    * engine frame of `stacks`. An AQE stage job runs on a pool thread,
    * so its stacks often hold none; then the owning execution's frame. */
  private def site(short: String, stacks: Seq[String], owner: Option[Exec]): String =
    if (!short.contains("$anonfun")) short
    else stacks.iterator.flatMap(engineFrame).nextOption()
      .orElse(owner.map(_.frame)).getOrElse(short)

  /** Length of the union of [start, end) intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var (cov, hi) = (0.0, Double.NegativeInfinity)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { cov += e - s; hi = e }
      else if (e > hi) { cov += e - hi; hi = e }
    }
    cov
  }
}
