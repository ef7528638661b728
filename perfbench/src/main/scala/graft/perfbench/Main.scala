package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.perfbench.SparkAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything a workload needs from the harness. */
final class Ctx(val data: String, val work: String, val cores: Int) {
  var spark: SparkSession = _
  /** Extra per-op samples, e.g. the read after each wave. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  /** Facts the workload reports beside its metrics. */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  /** Per-op output records for the checker: op id -> fields. */
  val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]
}

/** One benchmark workload: a closed loop of ops by one client. */
trait Workload {
  /** Everything before the first timed op on a fresh session: warmup,
    * index and memo builds, the base state. */
  def setup(ctx: Ctx): Unit
  /** Untimed step before op `i` (e.g. landing the op's input). Returns
    * false when the workload has no input left for op `i`. */
  def prepare(ctx: Ctx, i: Int): Boolean = true
  /** The timed op; returns the input records it completed and the
    * input bytes it consumed. */
  def op(ctx: Ctx, i: Int): (Long, Long)
  /** Untimed step after op `i` (recording its output for the checker). */
  def after(ctx: Ctx, i: Int): Unit = ()
  /** Ops every run completes, however short `seconds` is. */
  def minOps: Int = 1
  /** Bytes the program wrote to disk so far (its own output dirs). */
  def bytesOnDisk(ctx: Ctx): Long = 0L
  /** After the timed loop: final-state checks and facts. */
  def finish(ctx: Ctx): Unit = ()
}

/** Entry point of the JVM side of the benchmark. Arguments:
  * `<workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores> <maxOps>
  * <outJson>`. Writes one JSON document with the raw timings, Spark
  * totals, spans and per-op outputs; `run.py` checks outputs and turns it
  * into metrics. Set-up runs once, in this fresh JVM, so `setup_s` is
  * the time from entry to the first timed op with no memo or JIT state
  * left by an earlier set-up. */
object Main {
  def newSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, secS, traceS, coresS, maxOpsS, out) = args
    val seconds = secS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val maxOps = maxOpsS.toInt
    val w: Workload = name match {
      case "trip_cycle" => new TripCycle
      case "dict_resolve" => new DictResolve
      case "corpus_curation" => new CorpusCuration
      case "state_waves" => new StateWaves
      case other => sys.error(s"unknown workload $other")
    }
    val ctx = new Ctx(data, work, cores)
    val entry = System.nanoTime()
    ctx.spark = newSession(cores)
    ctx.spark.sparkContext.setCheckpointDir(s"$work/spark-checkpoints")
    Trace.sc = ctx.spark.sparkContext
    val listener = new SpanListener(traced)
    ctx.spark.sparkContext.addSparkListener(listener)
    ctx.spark.range(200000L).selectExpr("sum(id)").collect()
    w.setup(ctx)
    val setupS = (System.nanoTime() - entry) / 1e9
    SparkAccess.drain(ctx.spark.sparkContext)
    val setupTotals = listener.runTotals
    Trace.on = traced

    val lat = mutable.ArrayBuffer.empty[Double]
    val recs = mutable.ArrayBuffer.empty[Long]
    val inBytes = mutable.ArrayBuffer.empty[Long]
    val diskBefore = w.bytesOnDisk(ctx)
    var timed = 0.0
    var i = 0
    val wallStart = System.nanoTime()
    val wallCap = (3 * seconds + 60) * 1e9
    while ((timed < seconds || i < w.minOps) && i < maxOps &&
        System.nanoTime() - wallStart < wallCap && w.prepare(ctx, i)) {
      Trace.op = i
      val t0 = System.nanoTime()
      val (n, b) = Trace.span("op")(w.op(ctx, i))
      val dt = (System.nanoTime() - t0) / 1e9
      Trace.op = -1
      lat += dt; recs += n; inBytes += b
      timed += dt
      w.after(ctx, i)
      i += 1
    }
    Trace.on = false
    SparkAccess.drain(ctx.spark.sparkContext)
    val runTotals = listener.runTotals
    val diskAfter = w.bytesOnDisk(ctx)
    w.finish(ctx)

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "traced" -> traced, "cores" -> cores,
      "setup_s" -> setupS, "op_s" -> lat.toSeq, "op_records" -> recs.toSeq,
      "op_input_bytes" -> inBytes.toSeq,
      "program_disk_bytes" -> (diskAfter - diskBefore),
      "spark_disk_bytes" -> (runTotals.diskWriteBytes - setupTotals.diskWriteBytes),
      "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "facts" -> ctx.facts.toMap,
      "outputs" -> ctx.outputs.toSeq)
    if (traced) res("trace") = traceReport(listener, cores)
    ctx.spark.stop()
    writeJson(out, res)
  }

  /** Per-span records plus the Spark totals of each span's own jobs. */
  private def traceReport(l: SpanListener, cores: Int): Map[String, Any] = {
    val spans = Trace.all
    val tasksBySpan = l.taskTimes.groupBy(_._1)
    val rows = spans.map { s =>
      val t = l.byGroup.getOrElse(s.id.toString, new TaskTotals)
      // task intervals of this span's own jobs, clipped to the span
      val lo = Trace.toEpochMs(s.startNs); val hi = Trace.toEpochMs(s.endNs)
      val iv = tasksBySpan.getOrElse(s.id.toString, Seq.empty)
        .map { case (_, a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curA = -1.0; var curB = -1.0
      var busy = 0.0
      iv.foreach { case (a, b) =>
        busy += b - a
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - spans.head.startNs) / 1e9,
        "dur_s" -> s.seconds,
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "task_busy_s" -> busy / 1e3, "task_covered_s" -> covered / 1e3,
        "executor_cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3,
        "input_bytes" -> t.inputBytes,
        "shuffle_read_bytes" -> t.shuffleReadBytes,
        "shuffle_write_bytes" -> t.shuffleWriteBytes,
        "spill_bytes" -> t.spillBytes)
    }
    Map("cores" -> cores, "spans" -> rows)
  }

  // ---- small helpers shared by the workloads

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally s.close()
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) graft.Fs.deleteRecursively(root)
  }

  /** Order-sensitive digest of collected rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.toSeq.map(cell).mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case a: scala.collection.Seq[_] => a.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  /** Write collected rows back as parquet for the DuckDB checker. */
  def saveRows(spark: SparkSession, rows: Array[Row], df: DataFrame,
      path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  def writeJson(path: String, v: Any): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.write(Paths.get(path), mapper.writeValueAsBytes(toJava(v)))
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: scala.collection.Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case a: Array[_] => toJava(a.toSeq)
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
