package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for registered queries to one file per
  * query — the committed plan evidence for an optimization round.
  *   sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> [names|all] [suffix]"
  * Writes <outDir>/<name><suffix>.txt (suffix e.g. "_after").
  * Plans are built, not executed; with AQE the text is the initial
  * plan (isFinalPlan=false), which is what explain() shows pre-run.
  * The text is [[normalize]]d, so two dumps of one tree match byte for
  * byte and a diff between two trees shows only plan changes.
  */
object ExplainDump {
  /** Replaces what varies between runs of one tree: expression,
    * lambda-variable, RDD, plan, exchange and codegen-stage ids,
    * query-stage ids (the "Arguments: N" of a TableCacheQueryStage,
    * ShuffleQueryStage or BroadcastQueryStage), JVM object and lambda
    * class identities, call-site line numbers and the warehouse path.
    * A plan choice AQE made at run time inside an already executed
    * cached subplan (a join's build side, say) is plan content and
    * stays. */
  def normalize(plan: String, warehouse: String): String = {
    var stage = false
    plan.linesIterator.map { line0 =>
      val line = line0.replace(warehouse, "<warehouse>")
        .replaceAll("#\\d+", "#N")
        .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
        .replaceAll("plan_id=\\d+", "plan_id=N")
        .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : N]")
        .replaceAll("\\.scala:\\d+", ".scala:N")
        .replaceAll("lambda (\\w+)_\\d+", "lambda $1_N")
        .replaceAll("\\$\\$Lambda[$/\\w]*", "\\$\\$Lambda")
        .replaceAll("(?<=[\\w$])@[0-9a-f]{4,}\\b", "@N")
      if (line.matches("^\\(\\d+\\) .*")) stage = line.contains("QueryStage")
      if (stage && line.matches("^Arguments: \\d+$")) "Arguments: N" else line
    }.mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val names =
      if (args.length < 3 || args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val suffix = if (args.length > 3) args(3) else ""
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    names.foreach { n =>
      val txt =
        try normalize(graft.SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode), warehouse)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.write(outDir.resolve(s"$n$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explain] $n -> ${outDir.resolve(s"$n$suffix.txt")}")
    }
    spark.stop()
  }
}
