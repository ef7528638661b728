package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkAccess
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer. `parent` is -1 for a root span; `op` is
  * the timed op the span belongs to (-1 outside the timed loop). */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task totals over a set of jobs. */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    inputBytes += m.inputMetrics.bytesRead
    shuffleReadBytes += m.shuffleReadMetrics.localBytesRead +
      m.shuffleReadMetrics.remoteBytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  def addAll(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }

  /** Bytes the engine put on local disk: shuffle files and spills. */
  def diskWriteBytes: Long = shuffleWriteBytes + spillBytes
}

/** Listener that attributes Spark work to the span that submitted it.
  * Jobs carry their span id as the job group; stages and tasks inherit
  * the group of the job that submitted them. Untraced runs use it only
  * for the run totals (group ""). */
final class SpanListener(keepTaskTimes: Boolean) extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val byGroup = mutable.HashMap.empty[String, TaskTotals]
  /** (group, launch ms, finish ms) of every finished task, traced runs only. */
  val taskTimes = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def totals(g: String) = byGroup.getOrElseUpdate(g, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkAccess.JobGroupKey)))
      .getOrElse("")
    val t = totals(g)
    t.jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val t = totals(stageGroup.getOrElse(e.stageInfo.stageId, ""))
      t.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    if (e.taskMetrics != null) totals(g).add(e.taskMetrics)
    if (keepTaskTimes && e.taskInfo != null)
      taskTimes += ((g, e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  def runTotals: TaskTotals = synchronized {
    val t = new TaskTotals
    byGroup.values.foreach(t.addAll)
    t
  }
}

/** In-memory span recorder. Off in the untraced run: `span` then only
  * evaluates its body. Spans nest per thread (a streaming query's batch
  * thread inherits the span that started the query); each span tags the
  * Spark jobs it submits with its id as the job group. */
object Trace {
  @volatile var on = false
  @volatile var op = -1
  @volatile var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = -1
  }
  private val t0 = System.nanoTime()
  private val epochMs = System.currentTimeMillis()

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = spans.synchronized { spans += null; spans.size - 1 }
    val parent: Int = current.get
    val prevGroup = sc.getLocalProperty(SparkAccess.JobGroupKey)
    current.set(id)
    sc.setJobGroup(id.toString, name)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      spans.synchronized { spans(id) = Span(id, name, op, parent, start, end) }
      current.set(parent)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, "")
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)

  /** Wall-clock ms of a span's nanoTime, to line spans up with task times. */
  def toEpochMs(ns: Long): Double = epochMs + (ns - t0) / 1e6
}
