package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, lit}

import graft.{Bench, Caches, Metrics, SparkEntry, Tables}
import graft.ops.LocationResolve
import graft.streaming.{Streaming, VersionedStore}

/** The builder-side probes, one entry point:
  *   sbt "runMain graft.tools.Probe <mode> <args…>"
  * Arguments are checked before the session starts, so a typo fails at
  * once and not after minutes of set-up; see [[usage]] for the modes. */
object Probe {
  private def usage: String =
    """modes:
      |  query   <sfDir> <q1,q2> [passes=3]
      |  explain <sfDir> <outDir> [names|all] [suffix]
      |  canary  [n=10] [sfDir]
      |  gram    [baseKeys=20000] [gram|cross|both]
      |  stream  <probeDir> [baseDir] [waves=10] [replicasPerWave=10] [dims] [cadence=4]
      |  scale   <dataDir> [names|rel] [light]
      |""".stripMargin +
      s"stream dims: ${StreamDims.keys.mkString(",")}\n" +
      s"  default: ${DefaultDims.mkString(",")}"

  def main(args: Array[String]): Unit = {
    val mode = parse(args.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // a contended host must make a probe slow, not kill it
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark) finally spark.stop()
  }

  /** The run a command line asks for; throws IllegalArgumentException on
    * an unknown mode, query or dim, or a malformed number. */
  def parse(args: Seq[String]): SparkSession => Unit = {
    def int(i: Int, default: Int): Int = args.lift(i).fold(default)(_.toInt)
    args match {
      case Seq("query", sf, names, _*) =>
        val qs = queries(names.split(",").toSeq)
        val passes = int(3, 3)
        require(passes >= 1, s"passes must be at least 1, got $passes")
        spark => query(spark, sf, qs, passes)
      case Seq("explain", sf, out, _*) =>
        val qs = args.lift(3).filter(_ != "all").fold(SparkEntry.queries.keys.toSeq.sorted)(
          s => queries(s.split(",").toSeq))
        val suffix = args.lift(4).getOrElse("")
        spark => explain(spark, sf, Paths.get(out), qs, suffix)
      case Seq("canary", _*) =>
        val n = int(1, 10)
        require(n >= 1, s"n must be at least 1, got $n")
        val sf = args.lift(2).getOrElse("/root/testdata/sf0.1")
        spark => canary(spark, n, sf)
      case Seq("gram", _*) =>
        val base = int(1, 20000)
        val family = args.lift(2).getOrElse("both")
        require(Set("gram", "cross", "both")(family), s"unknown gram family $family")
        spark => gram(spark, base, family)
      case Seq("stream", probeDir, _*) =>
        val baseDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
        val (waves, reps) = (int(3, 10), int(4, 10))
        require(waves >= 1 && reps >= 1, "waves and replicasPerWave must be at least 1")
        val dims = args.lift(5).fold(DefaultDims)(_.split(",").toSeq)
        val unknown = dims.filterNot(StreamDims.contains)
        require(unknown.isEmpty, s"unknown stream dims: ${unknown.mkString(",")}\n$usage")
        val cadence = int(6, 4)
        spark => new StreamRun(spark, probeDir, baseDir, waves, reps, cadence).all(dims)
      case Seq("scale", dir, _*) =>
        val names = args.lift(2) match {
          case Some("rel") => relFamily
          case Some(s) => queries(s.split(",").toSeq)
          case None => DocFamily
        }
        val light = args.lift(3).contains("light")
        spark => scale(spark, dir, names, light)
      case _ => throw new IllegalArgumentException(s"usage: Probe <mode> <args…>\n$usage")
    }
  }

  private def queries(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  // ---------------------------------------------------------------- query

  /** Bench's methodology scoped to a few queries (noop sink, one untimed
    * warm pass, min across passes), then one untimed traced pass: one
    * `[job]` line per Spark job, one `[exec]` line per SQL execution
    * (span, jobs, the gap no job of it covered, compiles, the engine
    * frame that asked) and two `[jobtrace]` totals that split the
    * query's time into construction (the registered builder, with its
    * eager pins) and action, each into scheduled and driver time. The
    * trace is its own pass, so the timed passes run untraced. */
  private def query(spark: SparkSession, sf: String, names: Seq[String],
      passes: Int): Unit = names.foreach { name =>
    def once(): Double = {
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(name)(spark, sf))
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val ts = (1 to passes).map(_ => once())
    println(f"[time] $name min ${ts.min}%.2f s  samples ${
      ts.map(t => f"$t%.2f").mkString(",")}")
    trace(spark, sf, name)
  }

  private def trace(spark: SparkSession, sf: String, name: String): Unit = {
    val m = Metrics.attach(spark)
    val (n0, ns0) = Metrics.compiled
    val start = m.now
    val frame = SparkEntry.queries(name)(spark, sf)
    val built = m.now
    noop(frame)
    val end = m.now
    val (n1, ns1) = Metrics.compiled
    m.detach()
    val jobs = m.jobs
    jobs.foreach { j =>
      println(fmt("[job] %3d  at %7.2fs  dur %6.2fs  exec %4d  %s",
        j.id, j.start, j.end - j.start, j.exec, j.site))
    }
    execLines(jobs, m.executions).foreach(println)
    // the gap is total minus the UNION of job intervals, not minus their
    // sum: broadcast jobs run concurrently with their parents
    val total = end - start
    val covered = Metrics.union(jobs.map(j => (j.start, j.end)))
    println(fmt("[jobtrace] %s total %.2fs, %d jobs, job-sum %.2fs, " +
      "covered %.2fs (gap %.2fs = driver/plan time), %d compiles in %.0f ms",
      name, total, jobs.length, jobs.map(j => j.end - j.start).sum, covered,
      total - covered, n1 - n0, (ns1 - ns0) / 1e6))
    val coveredCon = Metrics.union(jobs.filter(_.start < built)
      .map(j => (j.start, math.min(j.end, built))))
    println(fmt("[jobtrace] %s construction %.2fs (scheduled %.2fs, driver %.2fs)" +
      " | action %.2fs (scheduled %.2fs, driver %.2fs)",
      name, built - start, coveredCon, built - start - coveredCon, end - built,
      covered - coveredCon, (end - built) - (covered - coveredCon)))
  }

  /** One `[exec]` line per SQL execution: start, span, jobs, the gap no
    * job of it covered, compiles and the engine frame that asked. Jobs
    * outside any execution (id -1) share no span: they run wherever the
    * driver asked, between and beside other executions, so their line
    * gives only their count and job-sum. */
  private[graft] def execLines(jobs: Seq[Metrics.Job],
      executions: Seq[Metrics.Exec]): Seq[String] = {
    val execs = executions.map(e => e.id -> e).toMap
    val byExec = jobs.groupBy(_.exec)
    (execs.keySet ++ byExec.keySet).toSeq.sorted.map { id =>
      val js = byExec.getOrElse(id, Nil)
      execs.get(id) match {
        case None =>
          fmt("[exec] %4d  %3d jobs  job-sum %6.2fs  jobs outside any SQL execution",
            id, js.length, js.map(j => j.end - j.start).sum)
        case Some(e) =>
          val site =
            if (e.frame == e.description) e.description else s"${e.description} <- ${e.frame}"
          val span = e.end - e.start
          fmt("[exec] %4d  at %7.2fs  span %6.2fs  %3d jobs  gap %6.2fs  " +
            "%2d compiles %5.0f ms  %s", id, e.start, span, js.length,
            span - Metrics.union(js.map(j => (j.start, j.end))), e.compiles,
            e.compileNs / 1e6, site)
      }
    }
  }

  // -------------------------------------------------------------- explain

  /** `.explain("formatted")` per query to `<outDir>/<name><suffix>.txt`,
    * built, not executed: with AQE it is the initial plan. The text is
    * [[normalize]]d, so two dumps of one tree match byte for byte and a
    * diff between two trees shows only plan changes. */
  private def explain(spark: SparkSession, sf: String, outDir: Path,
      names: Seq[String], suffix: String): Unit = {
    Files.createDirectories(outDir)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    names.foreach { n =>
      val txt =
        try normalize(SparkEntry.queries(n)(spark, sf)
          .queryExecution.explainString(FormattedMode), warehouse)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      val out = outDir.resolve(s"$n$suffix.txt")
      Files.write(out, txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explain] $n -> $out")
    }
  }

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

  // --------------------------------------------------------------- canary

  /** Both Bench canaries, the cpu hash loop and the t01 io scan, `n`
    * times after a warm-up. Bench's clean gate reads both, so a host
    * check must too. Re-run whenever a canary workload changes. */
  private def canary(spark: SparkSession, n: Int, sf: String): Unit = {
    Bench.cpuCanaryOnce(spark)
    Bench.ioCanaryOnce(spark, sf)
    val samples = (1 to n).map { i =>
      val c = Bench.cpuCanaryOnce(spark)
      val io = Bench.ioCanaryOnce(spark, sf)
      println(f"[calibrate] sample $i%2d: cpu $c%.3f s  io $io%.3f s")
      (c, io)
    }
    val (cpus, ios) = (samples.map(_._1), samples.map(_._2))
    def median(xs: Seq[Double]) = xs.sorted.apply(n / 2)
    println(f"[calibrate] cpu min ${cpus.min}%.3f s median " +
      f"${median(cpus)}%.3f s  io min ${ios.min}%.3f s median " +
      f"${median(ios)}%.3f s  n=$n")
    // watcher scripts parse this line by key: keep the names
    println(fmt("CANARY min=%.3f median=%.3f io_min=%.3f io_median=%.3f n=%d",
      cpus.min, median(cpus), ios.min, median(ios), n))
  }

  // ----------------------------------------------------------------- gram

  /** Times `fuzzyResolveDim` forced-blocked over range-generated
    * dictionaries at 1× and 10× on each axis; the sf corpora cannot
    * scale n13's input, which `scale_probe.py` copies as-is.
    *
    * Cost model (PLANS.md r14): scored candidates ≈ |probes| · |dict| ·
    * P(two high-entropy tokens share ≥3 prefix grams), linear on each
    * axis with a small constant. A sweep ratio materially above linear
    * on either axis is a bug. The `cross` family (n14: single-token
    * probes against multi-token variants) follows the same model on the
    * joined lengths. */
  private def gram(spark: SparkSession, base: Int, family: String): Unit = {
    import spark.implicits._
    // the probe families pick their edit class by k % m: a stride
    // sharing a factor with m samples one class only, so round it up to
    // the next integer coprime with m
    def coprimeStride(nKeys: Int, n: Int, m: Int): Int = {
      var s = math.max(1, nKeys / n)
      while (BigInt(s).gcd(BigInt(m)) != 1) s += 1
      s
    }
    def keys(n: Int) = spark.range(n).select($"id".as("p_partkey"))
    def probeKeys(nKeys: Int, n: Int, m: Int) =
      spark.range(0, nKeys.toLong, coprimeStride(nKeys, n, m)).select($"id".as("p_partkey"))
    // (label, dictKeys, probeCount): the probe axis tops out at one
    // probe per key, so the base probe count is base/30 and probes10x
    // is a true 10×
    val configs = Seq(
      ("base",      base,      base / 30),
      ("dict10x",   base * 10, base / 30),
      ("probes10x", base,      base / 3))
    def sweep(fam: String, variantsPerKey: Long, mkDim: DataFrame => DataFrame,
        mkProbes: DataFrame => DataFrame, m: Int): Unit =
      configs.foreach { case (label, nKeys, nProbes) =>
        val dim = mkDim(keys(nKeys)).withColumn("vorder", lit(0L))
        val probes = mkProbes(probeKeys(nKeys, nProbes, m))
          .select($"norm".as("fnorm")).distinct()
        val nP = probes.count()
        def once(): (Double, Long) = {
          val t0 = System.nanoTime()
          val hits = LocationResolve.fuzzyResolveDim(probes, dim, Some(true)).count()
          ((System.nanoTime() - t0) / 1e9, hits)
        }
        once()
        val (t1, h1) = once()
        val (t2, _) = once()
        println(s"""{"probe":"$fam","config":"$label","dict":${nKeys * variantsPerKey},""" +
          s""""probes":$nP,"hits":$h1,"sec":${math.min(t1, t2)}}""")
      }
    if (family != "cross")
      sweep("gram", 5L, LocationResolve.gramScaleDim, LocationResolve.gramProbes, 8)
    if (family != "gram")
      sweep("cross", 1L, LocationResolve.crossScaleDim, LocationResolve.crossProbes, 5)
  }

  // --------------------------------------------------------------- stream

  /** scale_probe.py's per-replica id offset. */
  private val ReplicaOffset = 10000000L

  /** Every stream dim: its input's id column (`doc_id` for documents,
    * `vec_id` for embeddings) and its run. Each run drives one
    * incremental maintainer wave by wave, calling its foreachBatch
    * updater with synthetic batch ids, which is what the stream engine
    * does per micro-batch minus the trigger machinery. The `_c` forms
    * compact every `cadence` waves, and the base forms are their
    * controls. */
  val StreamDims: ListMap[String, (String, StreamRun => Unit)] = ListMap(
    "band" -> doc(s => s.run("band_index",
      Streaming.bandIndexUpdate(s.tmp("band_dim"), s.tmp("band_pairs")), s.docWave)),
    "band_c" -> doc(s => s.run("band_c", Streaming.bandIndexMaintain(
      s.tmp("bandc_dim"), s.tmp("bandc_pairs"), compactEvery = s.cadence), s.docWave)),
    "ledger" -> doc(s => s.run("ledger", Streaming.ledgerUpdate(
      s.tmp("ledger_dim"), s.tmp("ledger_out"), s.weights), s.docWave)),
    "ledger_c" -> doc(s => s.run("ledger_c", Streaming.ledgerMaintain(
      s.tmp("ledgerc_dim"), s.tmp("ledgerc_out"), s.weights,
      compactEvery = s.cadence), s.docWave)),
    "ivfpq" -> emb(s => {
      val (cents, books) = graft.ops.Similarity.frozenIvfPqModel(s.spark, s.baseDir)
      s.run("ivfpq_index", Streaming.ivfPqIndexUpdate(s.tmp("ivfpq_idx"), cents, books),
        s.embWave)
    }),
    // the old snapshot freezes at base scale (the prior crawl) and the
    // waves play the new crawl; the updater never reads prior slices,
    // so flat cost is the design and this checks nothing broke it
    "snapshot" -> doc(s => {
      val (oldD, outD) = (s.tmp("snap_old"), s.tmp("snap_out"))
      Streaming.buildOldSnapshotStore(Tables.documents(s.spark, s.baseDir), oldD)
      s.run("snapshot_diff", Streaming.snapshotDiffUpdate(oldD, outD), s.docWave)
    }),
    // delta-star label merge: per-wave cost ∝ wave pairs + touched
    // members, and each wave writes deltas and drops, so wave_bytes
    // must stay flat ≈ batch + touched
    "keepbest_delta" -> doc(s => {
      val sv = s.tmp("kbd_surv")
      s.run("keepbest_delta", Streaming.keepBestDeltaUpdate(
        s.tmp("kbd_dim"), s.tmp("kbd_pairs"), sv), s.docWave, Some(w => s.duDir(s"$sv/v$w")))
    }),
    "keepbest_delta_c" -> doc(s => s.keepBestMaintain("keepbest_delta_c", "kbdc",
      s.cadence, s.docWave)),
    // match-bearing variants: replica waves have disjoint shingles, so
    // wave w re-lands 10% of wave w-1's documents under fresh ids and
    // every wave carries cross-wave near-dups. The _mc form must read
    // the compacted shingle store at the candidates' buckets only; the
    // _m control re-scans every prior docs slice
    "keepbest_delta_m" -> doc(s => s.keepBestMaintain("keepbest_delta_m", "kbdmm",
      0, s.matchWave)),
    "keepbest_delta_mc" -> doc(s => s.keepBestMaintain("keepbest_delta_mc", "kbdmmc",
      s.cadence, s.matchWave)),
    // merged unigram dim: per wave one batch aggregate merged into the
    // prior dim; the vocabulary saturates, so near-flat after wave 1
    "unigram" -> doc(s => s.run("unigram",
      Streaming.unigramModelUpdate(s.tmp("uni_dim")), s.docWave)),
    "span" -> doc(s => s.run("span_index",
      Streaming.spanIndexUpdate(s.tmp("span_dim"), s.tmp("span_out")), s.docWave)),
    "span_c" -> doc(s => s.run("span_c", Streaming.spanIndexMaintain(
      s.tmp("spanc_dim"), s.tmp("spanc_out"), compactEvery = s.cadence), s.docWave)),
    // the bench store and centroids are frozen base-scale state, read
    // only per wave
    "semdecont" -> emb(s => {
      val benchDir = s.tmp("sd_bench")
      val cents = graft.ops.Similarity.centroids(s.spark, s.baseDir)
      Streaming.buildBenchCellStore(Tables.embeddings(s.spark, s.baseDir), benchDir, cents)
      s.run("semdecont", Streaming.semDecontUpdate(benchDir, s.tmp("sd_out"), cents),
        s.embWave)
    }),
    "datasheet" -> doc(s => s.run("datasheet",
      Streaming.datasheetUpdate(s.tmp("ds_dim")), s.docWave)),
    "datasheet_c" -> doc(s => s.run("datasheet_c",
      Streaming.datasheetMaintain(s.tmp("dsc_dim"), compactEvery = s.cadence), s.docWave)),
    // dictionary updates key only the wave's added variants under the
    // frozen base gram order; waves derive n13-shaped variants from the
    // wave's doc ids
    "gramindex" -> doc(s => {
      val d = s.tmp("gram_idx")
      val gorder = LocationResolve.gramOrderOf(
        LocationResolve.gramScaleDim(Tables.part(s.spark, s.baseDir)), "vkey").localCheckpoint()
      s.run("gramindex", (b, id) => Streaming.gramIndexUpdate(d, gorder)(
        LocationResolve.gramScaleDim(b.select(col("doc_id").as("p_partkey")))
          .withColumn("vorder", lit(0L)).withColumn("op", lit("add")), id),
        s.docWave, Some(w => s.duDir(s"$d/v$w")))
    }))

  private def doc(run: StreamRun => Unit) = ("doc_id", run)
  private def emb(run: StreamRun => Unit) = ("vec_id", run)

  /** The base form of every dim; the variants run when named. */
  private val DefaultDims: Seq[String] =
    StreamDims.keys.filterNot(_.matches(".*_(c|m|mc)")).toSeq

  /** One stream probe run. Each dim prints one JSON line with its
    * per-wave seconds and, per wave, the Spark jobs it ran
    * (`wave_jobs`), the bytes it read (`wave_read_bytes`, split by call
    * site in `wave_read_sites`) and, for the keep-best and gram-index
    * dims, the bytes under its version dir (`wave_bytes`). A
    * maintainer that re-scans or rewrites its
    * accumulated state shows these growing with history; a delta
    * maintainer stays flat. Read bytes count task input, which
    * includes cached-block reads, so levels are not disk bytes but
    * slopes are. */
  final class StreamRun(val spark: SparkSession, probeDir: String,
      val baseDir: String, waves: Int, reps: Int, val cadence: Int) {
    private val docs = Tables.documents(spark, probeDir)
    private val embs = Tables.embeddings(spark, probeDir)
    private def wave(df: DataFrame, idCol: String, w: Int): DataFrame =
      df.filter(col(idCol) >= w.toLong * reps * ReplicaOffset &&
        col(idCol) < (w + 1).toLong * reps * ReplicaOffset)
    def docWave(w: Int): DataFrame = wave(docs, "doc_id", w)
    def embWave(w: Int): DataFrame = wave(embs, "vec_id", w)
    def matchWave(w: Int): DataFrame =
      if (w == 0) docWave(w)
      else docWave(w).unionByName(docWave(w - 1).filter(col("doc_id") % 10 === 0)
        // + one wave span moves w-1's ids into wave w's range; + 2M
        // clears the original id band (base ids ≪ 2M)
        .withColumn("doc_id", col("doc_id") + reps.toLong * ReplicaOffset + 2000000L))
    def weights: Array[Long] = graft.ops.TextAnalysis.classifierWeights(spark, baseDir)
    def tmp(p: String): String = Files.createTempDirectory(s"graft_sprobe_$p").toString
    def duDir(path: String): Long = VersionedStore(path, spark).bytes(path)

    def keepBestMaintain(name: String, tag: String, compactEvery: Int,
        waveOf: Int => DataFrame): Unit = {
      val sv = tmp(s"${tag}_surv")
      run(name, Streaming.keepBestDeltaMaintain(tmp(s"${tag}_dim"), tmp(s"${tag}_pairs"),
        sv, compactEvery), waveOf, Some(w => duDir(s"$sv/v$w")))
    }

    /** A wave whose id range is empty would time a no-op and report a
      * vacuously flat curve: refuse before any timing starts. */
    private def assertCoverage(idCol: String): Unit = {
      val (df, what) = if (idCol == "doc_id") (docs, "documents") else (embs, "embeddings")
      val span = reps.toLong * ReplicaOffset
      val counts = df.groupBy((col(idCol) / span).cast("long").as("w"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val empty = (0 until waves).filter(w => counts.getOrElse(w.toLong, 0L) == 0L)
      require(empty.isEmpty,
        s"$what: wave(s) ${empty.mkString(",")} of $waves have ZERO rows " +
          s"in $probeDir — regenerate with ≥ ${waves * reps} replicas " +
          "(or lower waves/replicasPerWave); refusing to time no-op waves")
    }

    private val metrics = Metrics.attach(spark)

    def all(dims: Seq[String]): Unit = try {
      Seq("doc_id", "vec_id").filter(c => dims.exists(StreamDims(_)._1 == c))
        .foreach(assertCoverage)
      dims.foreach(d => StreamDims(d)._2(this))
    } finally metrics.detach()

    def run(name: String, update: (DataFrame, Long) => Unit, waveOf: Int => DataFrame,
        bytesOf: Option[Int => Long] = None): Unit = {
      val samples = (0 until waves).map { w =>
        System.err.println(s"[stream-probe] $name wave ${w + 1}/$waves")
        metrics.drain()
        val mark = metrics.stages.lastOption.fold(-1)(_.id)
        val jobMark = metrics.jobs.lastOption.fold(-1)(_.id)
        val t0 = System.nanoTime()
        update(waveOf(w), w.toLong)
        val dt = (System.nanoTime() - t0) / 1e9
        metrics.drain()
        val sites = metrics.stages.filter(_.id > mark)
          .groupMapReduce(_.name)(_.totals.inputBytes)(_ + _).filter(_._2 > 0)
          .toSeq.sortBy(-_._2)
        (dt, bytesOf.map(_(w)), sites, metrics.jobs.count(_.id > jobMark))
      }
      val times = samples.map(_._1)
      // the first wave carries codegen and scan warm-up: compare the
      // last wave with the second
      val ratio = if (waves >= 3 && times(1) > 0) times.last / times(1) else -1.0
      val bytesField =
        if (bytesOf.isEmpty) ""
        else samples.flatMap(_._2).mkString(""","wave_bytes":[""", ",", "]")
      def quote(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val readFields =
        samples.map(_._4).mkString(""","wave_jobs":[""", ",", "]") +
          samples.map(_._3.map(_._2).sum).mkString(""","wave_read_bytes":[""", ",", "]") +
          samples.map(_._3.map { case (s, b) => s"${quote(s)}:$b" }.mkString("{", ",", "}"))
            .mkString(""","wave_read_sites":[""", ",", "]")
      println(s"""{"probe":"stream","dim":"$name","waves":$waves,""" +
        s""""wave_sec":${times.map(t => fmt("%.2f", t)).mkString("[", ",", "]")},""" +
        s""""last_over_second":${fmt("%.2f", ratio)}$bytesField$readFields}""")
    }
  }

  // ---------------------------------------------------------------- scale

  /** Queries that read only documents and embeddings, the tables the
    * probe corpus scales. x14 is included although its exact threshold
    * join is O(n²) compute: the probe documents that, it does not hide
    * it. */
  private val DocFamily: Seq[String] = Seq(
    "x10_dedup_exact", "x11_dedup_minhash_lsh", "x12_dedup_simhash",
    "x13_dedup_jaccard", "x15_neardup_survivors", "x16_corpus_curation",
    "x17_dup_clusters", "x18_incremental_dedup", "x19_decontaminate",
    "x47_span_decontaminate", "x60_repeated_spans",
    "x27_bloom_decontaminate", "x28_soft_dedup",
    "x20_ann_bruteforce", "x21_ann_lsh", "x22_ann_ivf", "x25_ann_pq",
    "x26_ann_ivfpq", "x23_semantic_dedup", "x24_semantic_dedup_celled",
    "x29_semantic_dedup_cc", "x59_dedup_keep_best", "x61_prototypicality",
    "x57_bmp_decode", "x58_avi_decode", "x63_png_decode",
    "x64_jpeg_decode", "x65_bmp_pixel_stats", "x67_wav_pcm_stats",
    "x68_png_pixel_stats",
    "x30_text_quality", "x31_lang_id", "x32_fingerprint",
    "x33_fnv_fingerprint", "x34_pii_scrub", "x35_top_ngrams",
    "x36_boilerplate_lines", "x37_tfidf_top_term", "x38_quality_prune",
    "x69_quality_classifier", "x70_substring_rewrite",
    "x71_leakage_free_split", "x72_shuffle_shards",
    "x73_corpus_datasheet", "x74_datasheet_approx", "x75_pipeline_v2",
    "x76_decontam_rewrite", "x77_rejection_ledger",
    "x39_quality_prune_approx", "x40_multimodal_meta", "x41_frame_sample",
    "x48_wav_decode",
    "x42_repetition_filter", "x43_chunk_tokens", "x44_line_dedup",
    "x45_unigram_surprise", "x46_ref_coverage", "x62_bigram_surprise",
    "x49_sequence_pack", "x55_bpe_merges", "x56_bpe_tokenize",
    "x50_split_counts", "x51_source_cap", "x52_mixture_sample",
    "x53_token_budget", "x54_unimax_alloc", "x66_pipeline_e2e",
    "x14_cosine_neardup",
    "x78_semantic_decontaminate", "x79_semantic_decontam_celled",
    "x80_image_ahash_dedup", "x81_audio_fingerprint_dedup",
    "x82_snapshot_diff", "x83_knn_graph", "x84_knn_clusters",
    "x85_knn_density_prune", "x86_delta_reprocess",
    "x87_label_propagation")

  /** Every other registered query: their inputs are the TPC-H facts,
    * events and trips (a function of `orders`), which `scale_probe.py
    * rel` replicates. Derived by exclusion so a new query lands in
    * exactly one family. s04 reads the paged-source landing, which a
    * probe dir lacks. */
  private def relFamily: Seq[String] =
    (SparkEntry.queries.keySet -- DocFamily.toSet - "s04_paged_source").toSeq.sorted

  /** The selected queries against a scaled corpus with Bench's
    * methodology (noop sink, min of 2 timed runs, shared frames built
    * untimed), so sf0.1 → sf1 ratios compare. One `scale_probe` JSON
    * line. `light` skips the doc-family prewarm: at 100× it costs tens
    * of GB of persist and spill a targeted subset never reads, and the
    * probed queries then build their own frames in run 1 of 2. */
  private def scale(spark: SparkSession, dir: String, names: Seq[String],
      light: Boolean): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM warm-up
    val docSet = DocFamily.toSet
    val relFrames =
      if (names.forall(docSet.contains)) Seq.empty
      else Seq[(String, () => DataFrame)](
        "trips_master" -> (() => graft.ops.Transform.master(spark, dir)),
        "bucketed_tables" -> (() => graft.ops.Relational.j05BucketedColocated(spark, dir)))
    val docFrames =
      if (!names.exists(docSet.contains) || light) Seq.empty
      else Bench.docFamilyFrames(spark, dir)
    val (cacheBuildSec, _, _) = Bench.prewarm(spark, relFrames ++ docFrames)
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try noop(SparkEntry.queries(name)(spark, dir))
      catch { case e: Throwable =>
        System.err.println(s"[probe] query failed: $e"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    val results = names.map { name =>
      val (a, b) = (timeOnce(name), timeOnce(name))
      val best = if (a < 0) b else if (b < 0) a else math.min(a, b)
      System.err.println(f"[probe] $name: $best%.3f s")
      name -> best
    }
    val qs = results.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"scale_probe","unit":"sec","dir":"$dir","cache_build_sec":$cacheBuildSec,"queries":$qs,"value":$total}""")
    Caches.clear(spark)
  }
}
