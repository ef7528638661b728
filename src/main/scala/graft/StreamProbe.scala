package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Streaming-at-scale probe: drives the incremental versioned-dim
  * maintainers wave by wave and times EACH wave, so the append-only
  * cost claims ("per-batch cost ∝ batch, never ∝ history" — see
  * bandIndexUpdate / ledgerUpdate / ivfPqIndexUpdate scaladoc) are
  * measured, not extrapolated: W waves of a fixed-size batch (default
  * 10 waves × 10× the sf0.1 corpus each = 100× total history by the
  * last wave) must show flat per-wave wall time. A wave sequence that
  * grows with the accumulated history is a bug to fix, not a note —
  * the same standard as the batch sweeps (PLANS.md).
  *
  * Calls the foreachBatch updater functions directly with synthetic
  * batch ids — exactly what the stream engine does per micro-batch,
  * minus the (constant-cost) trigger machinery, so the timings isolate
  * the maintainers' own scaling behavior.
  *
  * Usage: runMain graft.StreamProbe <probeDir> [baseDir] [waves]
  *        [replicasPerWave] [dims]
  *   probeDir — scale_probe.py output (replica id offset 10M);
  *   baseDir  — where the frozen models train (default sf0.1: the
  *              maintainers freeze their model BEFORE the stream, so a
  *              base-scale model is the honest setup);
  *   dims     — comma list of band,ledger,ivfpq,snapshot,keepbest,
  *              unigram,span,semdecont,datasheet (default all nine).
  */
object StreamProbe {
  /** scale_probe.py's per-replica id offset. */
  val ReplicaOffset = 10000000L

  def main(args: Array[String]): Unit = {
    val probeDir = args(0)
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val waves = if (args.length > 2) args(2).toInt else 10
    val repsPerWave = if (args.length > 3) args(3).toInt else 10
    val dims = (if (args.length > 4) args(4)
      else "band,ledger,ivfpq,snapshot,keepbest,keepbest_delta,unigram," +
        "span,semdecont,datasheet,gramindex")
      .split(",").toSeq
    // cadence of the *_c dims (arg 6, default 4) — e.g. 2 makes an
    // 8-wave run carry 4 triggers, enough for the tiered union-store
    // keep/absorb pattern to surface in the curve
    val cDimCadence = if (args.length > 5) args(5).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, probeDir)
    val embs = Tables.embeddings(spark, probeDir)
    def wave(df: DataFrame, idCol: String, w: Int): DataFrame =
      df.filter(col(idCol) >= w.toLong * repsPerWave * ReplicaOffset &&
        col(idCol) < (w + 1).toLong * repsPerWave * ReplicaOffset)

    // guard against a probeDir generated with fewer than
    // waves×repsPerWave replicas: a wave whose id range is empty would
    // time a no-op update and the per-wave table would report a
    // vacuously flat cost curve — the exact evidence PLANS.md cites.
    // One aggregation pass per table, before any timing starts.
    def assertWaveCoverage(df: DataFrame, idCol: String,
        what: String): Unit = {
      val span = repsPerWave.toLong * ReplicaOffset
      val counts = df.groupBy((col(idCol) / span).cast("long").as("w"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val empty = (0 until waves).filter(w => counts.getOrElse(w.toLong, 0L) == 0L)
      require(empty.isEmpty,
        s"$what: wave(s) ${empty.mkString(",")} of $waves have ZERO rows " +
          s"in $probeDir — regenerate with ≥ ${waves * repsPerWave} " +
          "replicas (or lower waves/replicasPerWave); refusing to time " +
          "no-op waves")
    }
    val docDims = Set("band", "band_c", "ledger", "ledger_c", "snapshot",
      "keepbest", "keepbest_delta", "keepbest_delta_c",
      "keepbest_delta_m", "keepbest_delta_mc", "unigram", "span",
      "span_c", "datasheet", "datasheet_c", "gramindex")
    if (dims.exists(docDims)) assertWaveCoverage(docs, "doc_id", "documents")
    if (dims.exists(Set("ivfpq", "semdecont")))
      assertWaveCoverage(embs, "vec_id", "embeddings")

    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_sprobe_$p").toString

    // bytes under a wave's version dir — the r17 write-side evidence:
    // a maintainer that rewrites an accumulated dim per wave shows
    // wave_bytes growing ∝ history; a delta-slice maintainer stays
    // flat (≈ batch + touched rows)
    def duDir(path: String): Long =
      graft.streaming.VersionedStore(path, spark).bytes(path)

    // bytes READ per wave (r18, the wave_bytes sibling): task input
    // metrics summed by a listener — a maintainer that re-scans an
    // accumulated dim per wave shows wave_read_bytes growing ∝
    // history, contention-independently. `inputMetrics.bytesRead` also
    // counts cached-block reads (r19: a persisted docs frame's memSize
    // equalled a wave's "extra" reads), so per-wave read levels are not
    // disk bytes; growth slopes still are. Listener events post async,
    // so each wave's reading waits for the counter to go quiet.
    val readBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) { readBytes.addAndGet(m.inputMetrics.bytesRead); () }
        }
      })
    def readBytesSettled(): Long = {
      var prev = readBytes.get(); var stable = 0; var iters = 0
      while (stable < 3 && iters < 100) {
        Thread.sleep(50)
        val cur = readBytes.get()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        iters += 1
      }
      prev
    }

    def run(name: String, update: (DataFrame, Long) => Unit,
        waveOf: Int => DataFrame,
        bytesOf: Option[Int => Long] = None,
        trackReads: Boolean = false): Unit = {
      val samples = (0 until waves).map { w =>
        System.err.println(s"[stream-probe] $name wave ${w + 1}/$waves")
        val r0 = if (trackReads) readBytesSettled() else 0L
        val t0 = System.nanoTime()
        update(waveOf(w), w.toLong)
        val dt = (System.nanoTime() - t0) / 1e9
        val rd = if (trackReads) Some(readBytesSettled() - r0) else None
        (dt, bytesOf.map(f => f(w)), rd)
      }
      val times = samples.map(_._1)
      val ts = times.map(t => String.format(java.util.Locale.ROOT,
        "%.2f", Double.box(t))).mkString("[", ",", "]")
      // first wave carries codegen/scan warmup; the trailing/leading
      // ratio the PLANS.md table reads is wave N vs wave 2
      val ratio =
        if (waves >= 3 && times(1) > 0) times.last / times(1) else -1.0
      val bytesField =
        if (bytesOf.isEmpty) ""
        else samples.flatMap(_._2)
          .mkString(""","wave_bytes":[""", ",", "]")
      val readField =
        if (!trackReads) ""
        else samples.flatMap(_._3)
          .mkString(""","wave_read_bytes":[""", ",", "]")
      println(s"""{"probe":"stream","dim":"$name","waves":$waves,""" +
        s""""wave_sec":$ts,"last_over_second":${
          String.format(java.util.Locale.ROOT, "%.2f",
            Double.box(ratio))}$bytesField$readField}""")
    }

    dims.foreach {
      case "band" =>
        val (d, p) = (tmp("band_dim"), tmp("band_pairs"))
        run("band_index",
          graft.streaming.Streaming.bandIndexUpdate(d, p),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "band_c" =>
        // the cadence form: (sh, bands) slices compact (kb-bucketed)
        // every 4 waves; the "band" dim above is the control
        val (d, p) = (tmp("bandc_dim"), tmp("bandc_pairs"))
        run("band_c",
          graft.streaming.Streaming.bandIndexMaintain(d, p,
            compactEvery = cDimCadence),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "ledger" =>
        val (d, o) = (tmp("ledger_dim"), tmp("ledger_out"))
        val weights = graft.ops.TextAnalysis.classifierWeights(spark, baseDir)
        run("ledger",
          graft.streaming.Streaming.ledgerUpdate(d, o, weights),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "ledger_c" =>
        // the cadence form (r19): shas slices compact every 4 waves;
        // the "ledger" dim above is the control
        val (d, o) = (tmp("ledgerc_dim"), tmp("ledgerc_out"))
        val weights = graft.ops.TextAnalysis.classifierWeights(spark, baseDir)
        run("ledger_c",
          graft.streaming.Streaming.ledgerMaintain(d, o, weights,
            compactEvery = cDimCadence),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "ivfpq" =>
        val d = tmp("ivfpq_idx")
        val (cents, books) =
          graft.ops.Similarity.frozenIvfPqModel(spark, baseDir)
        run("ivfpq_index",
          graft.streaming.Streaming.ivfPqIndexUpdate(d, cents, books),
          w => wave(embs, "vec_id", w),
          trackReads = true)
      case "snapshot" =>
        // the old-snapshot store freezes at BASE scale (the honest
        // setup: the prior crawl), waves play the new crawl; the
        // updater never reads prior slices or accumulated state, so
        // flat per-wave cost is the DESIGN — this measures that the
        // implementation didn't accidentally break it
        val (oldD, outD) = (tmp("snap_old"), tmp("snap_out"))
        graft.streaming.Streaming.buildOldSnapshotStore(
          Tables.documents(spark, baseDir), oldD)
        run("snapshot_diff",
          graft.streaming.Streaming.snapshotDiffUpdate(oldD, outD),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "keepbest" =>
        // the rebuild-form maintainer whose per-wave cost grows BY
        // DESIGN (kept as the reference point for keepbest_delta): the
        // survivor dim is rebuilt from the ACCUMULATED pair graph (CC
        // over all committed cross+intra pairs, then per-cluster
        // argmax over all committed doc slices). Expected cost model:
        // wave w pays O(p(w) · ccRounds + D(w)) where p(w) = pairs
        // committed so far and D(w) = docs so far — LINEAR in
        // accumulated history per wave (quadratic total), NOT flat;
        // the probe's job is to measure the slope, not assert
        // flatness. The per-batch band/intra stages stay ∝ batch.
        val (d, p, sv) = (tmp("kb_dim"), tmp("kb_pairs"), tmp("kb_surv"))
        run("keepbest",
          graft.streaming.Streaming.keepBestUpdate(d, p, sv),
          w => wave(docs, "doc_id", w))
      case "keepbest_delta" =>
        // the answer to keepbest's by-design growth: delta-star label
        // merge — per-wave CC cost ∝ wave pairs + touched members,
        // independent of the accumulated pair count. Per-wave slices
        // are deltas + drops, never a whole-dim rewrite, so wave_bytes
        // below must stay flat ≈ batch + touched. Expected: near-flat
        // wave_sec AND wave_bytes.
        val (d, p, sv) =
          (tmp("kbd_dim"), tmp("kbd_pairs"), tmp("kbd_surv"))
        run("keepbest_delta",
          graft.streaming.Streaming.keepBestDeltaUpdate(d, p, sv),
          w => wave(docs, "doc_id", w),
          bytesOf = Some(w => duDir(s"$sv/v$w")),
          trackReads = true)
      case "keepbest_delta_c" =>
        // the cadence form the real builder drives (compactEvery
        // defaults ON since r18): same maintainer, compacting every 4
        // waves — isolates how much of the no-cadence variant's
        // late-wave wave_sec tail is the growing O(waves) slice
        // listing that compaction exists to bound. Wave timing
        // includes the compaction waves themselves (visible as
        // periodic spikes; the signal is the non-compaction waves
        // staying flat).
        val (d, p, sv) =
          (tmp("kbdc_dim"), tmp("kbdc_pairs"), tmp("kbdc_surv"))
        run("keepbest_delta_c",
          graft.streaming.Streaming.keepBestDeltaMaintain(
            d, p, sv, compactEvery = cDimCadence),
          w => wave(docs, "doc_id", w),
          bytesOf = Some(w => duDir(s"$sv/v$w")),
          trackReads = true)
      case matchDim @ ("keepbest_delta_m" | "keepbest_delta_mc") =>
        // MATCH-BEARING variants (r19): the plain replica corpus has
        // disjoint shingle universes across waves, so the band probe's
        // cross-wave candidate set is always empty and the curves
        // never exercise the verify's hist-docs read. Here wave w
        // re-lands 10% of wave w-1's documents under fresh doc_ids
        // (same text → exact cross-wave near-dups), so every wave
        // carries a real candidate load. The _mc (cadence) form must
        // show the verify reading the compacted shingle store at the
        // candidates' buckets only — flat at equal tail depth — while
        // the _m (no cadence) control re-scans every prior docs slice
        // and grows ∝ corpus per wave: the contrast that measures the
        // bandVerifyInputs pruning claim instead of spec-asserting it.
        val cadence = if (matchDim == "keepbest_delta_mc") cDimCadence else 0
        val tag = if (cadence > 0) "mc" else "m"
        val (d, p, sv) =
          (tmp(s"kbdm${tag}_dim"), tmp(s"kbdm${tag}_pairs"),
            tmp(s"kbdm${tag}_surv"))
        def matchWave(w: Int): DataFrame = {
          val own = wave(docs, "doc_id", w)
          if (w == 0) own
          else own.unionByName(
            wave(docs, "doc_id", w - 1)
              .filter(col("doc_id") % 10 === 0)
              // fresh ids inside wave w's range: + one replica span
              // moves w-1 ids into [w·span, …), +2M clears the
              // original id band (base ids ≪ 2M)
              .withColumn("doc_id",
                col("doc_id") + repsPerWave.toLong * ReplicaOffset
                  + 2000000L))
        }
        run(s"keepbest_delta_$tag",
          graft.streaming.Streaming.keepBestDeltaMaintain(
            d, p, sv, compactEvery = cadence),
          matchWave,
          bytesOf = Some(w => duDir(s"$sv/v$w")),
          trackReads = true)
      case "gramindex" =>
        // the r15 tenth maintainer: dictionary updates key ONLY the
        // wave's added variants under the frozen base gram order —
        // per-wave cost ∝ batch, never ∝ accumulated dictionary.
        // Waves derive n13-shaped variants from the wave's doc ids.
        val d = tmp("gram_idx")
        val gorder = graft.ops.LocationResolve.gramOrderOf(
          graft.ops.LocationResolve.gramScaleDim(
            Tables.part(spark, baseDir)), "vkey").localCheckpoint()
        run("gramindex",
          (b, id) => graft.streaming.Streaming.gramIndexUpdate(d, gorder)(
            graft.ops.LocationResolve.gramScaleDim(
                b.select(col("doc_id").as("p_partkey")))
              .withColumn("vorder",
                org.apache.spark.sql.functions.lit(0L))
              .withColumn("op",
                org.apache.spark.sql.functions.lit("add")), id),
          w => wave(docs, "doc_id", w),
          bytesOf = Some(w => duDir(s"$d/v$w")),
          trackReads = true)
      case "unigram" =>
        // merged unigram dim: per wave one batch-sized agg + a merge
        // against the prior MERGED dim — cost ∝ batch + |vocab|;
        // vocab saturates (fixture text reuses a bounded word set),
        // so expected near-flat after wave 1
        val d = tmp("uni_dim")
        run("unigram",
          graft.streaming.Streaming.unigramModelUpdate(d),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "span" =>
        // span index: append-only versioned slices, probe ∝ batch —
        // expected flat (the band-index pattern)
        val (d, o) = (tmp("span_dim"), tmp("span_out"))
        run("span_index",
          graft.streaming.Streaming.spanIndexUpdate(d, o),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "semdecont" =>
        // streamed semantic decontamination: the bench store and
        // centroids are FROZEN base-scale state (read-only per wave),
        // the batch is cell-assigned and flagged against it — cost
        // ∝ batch, expected flat
        val benchDir = tmp("sd_bench")
        val cents = graft.ops.Similarity.centroids(spark, baseDir)
        graft.streaming.Streaming.buildBenchCellStore(
          Tables.embeddings(spark, baseDir), benchDir, cents)
        val o = tmp("sd_out")
        run("semdecont",
          graft.streaming.Streaming.semDecontUpdate(benchDir, o, cents),
          w => wave(embs, "vec_id", w),
          trackReads = true)
      case "datasheet" =>
        // datasheet maintainer: per wave one batch aggregate merged
        // into a CONSTANT-size stats dim — expected flat
        val d = tmp("ds_dim")
        run("datasheet",
          graft.streaming.Streaming.datasheetUpdate(d),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "datasheet_c" =>
        // the cadence form (r19): the embedded dup engine's (sh,
        // bands) slices compact every 4 waves — the no-cadence dim
        // above is the control whose ~100 KB/wave slice-read slope
        // this bounds
        val d = tmp("dsc_dim")
        run("datasheet_c",
          graft.streaming.Streaming.datasheetMaintain(d, compactEvery = cDimCadence),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case "span_c" =>
        // the cadence form (r19): span slices compact (distinct-union)
        // every 4 waves; the "span" dim above is the control
        val (d, o) = (tmp("spanc_dim"), tmp("spanc_out"))
        run("span_c",
          graft.streaming.Streaming.spanIndexMaintain(d, o,
            compactEvery = cDimCadence),
          w => wave(docs, "doc_id", w),
          trackReads = true)
      case other =>
        System.err.println(s"[stream-probe] unknown dim '$other' (want " +
          "band|ledger|ivfpq|snapshot|keepbest|keepbest_delta|" +
          "keepbest_delta_c|unigram|span|semdecont|datasheet|gramindex)" +
          " — skipped")
    }
    spark.stop()
  }
}
