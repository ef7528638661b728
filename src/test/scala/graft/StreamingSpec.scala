package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Events
import graft.streaming.Streaming

/** Streaming plans replayed over the finite events fixture must agree
  * with their batch siblings. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  private def keyed(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Set equality PLUS a row-count check: .toSet alone would collapse a
    * duplicate emission (the classic append-mode replay hazard) into a
    * passing comparison. */
  private def assertSameRows(streamed: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): Unit = {
    val s = streamed.collect().map(_.toSeq)
    val b = batch.collect().map(_.toSeq)
    assert(s.toSet == b.toSet)
    assert(s.length == b.length,
      s"row counts diverge (${s.length} vs ${b.length}) — duplicate emission")
  }

  test("streaming windowed agg (complete mode) == batch e01") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.windowedAgg(Streaming.eventsStream(spark, sf)),
      "win_complete", outputMode = "complete")
    assertSameRows(streamed, Events.windowAgg(spark, sf))
  }

  test("streaming session windows (complete) == batch e02") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.sessionAgg(Streaming.eventsStream(spark, sf)),
      "sess_complete", outputMode = "complete")
    assertSameRows(streamed, Events.sessionize(spark, sf))
  }

  test("append mode with watermark emits only watermark-closed windows") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.windowedAgg(Streaming.eventsStream(spark, sf)),
      "win_append", outputMode = "append")
    val batch = keyed(Events.windowAgg(spark, sf))
    val got = keyed(streamed)
    assert(got.subsetOf(batch))
    // every window strictly before (max ts - watermark) must be emitted
    val maxTs = Tables.events(spark, sf).agg(max(col("ts"))).collect()(0)
      .getTimestamp(0).getTime
    val cutoff = maxTs - 10 * 60 * 1000
    val expected = batch.filter(r =>
      r.head.asInstanceOf[java.sql.Timestamp].getTime + 3600 * 1000 < cutoff)
    assert(expected.subsetOf(got))
  }

  test("stream-stream interval join (append) == batch e07") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.intervalJoin(Streaming.eventsStream(spark, sf)),
      "interval_join", outputMode = "append")
    val batch = Events.intervalJoin(spark, sf)
      .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    assertSameRows(streamed, batch)
  }

  test("flatMapGroupsWithState running user stats match batch counts") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.userStats(Streaming.eventsStream(spark, sf)).toDF(),
      "user_stats", outputMode = "append")
    // last emit per user carries the final running count
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("userId")).orderBy(col("nEvents").desc)
    val finals = streamed
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("userId"), col("nEvents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf).groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finals == batch)
  }

  test("dropDuplicatesWithinWatermark bounds the emitted duplicates") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.dedupWithinWatermark(Streaming.eventsStream(spark, sf)),
      "dedup_wm", outputMode = "append")
    val total = Tables.events(spark, sf).count()
    val distinctKeys = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    val n = streamed.count()
    assert(n >= distinctKeys && n <= total)
  }

  test("streaming document dedup == batch x10: one survivor per content hash") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.docDedup(Streaming.documentsStream(spark, sf)),
      "doc_dedup", outputMode = "append")
    val batch = graft.ops.Dedup.exactDedup(spark, sf)
      .select("content_hash").collect().map(_.getString(0)).toSet
    val got = streamed.select("content_hash").collect().map(_.getString(0))
    assert(got.toSet == batch, "kept hash set must equal the batch dedup's")
    assert(got.length == batch.size, "exactly one survivor per hash")
  }

  test("streaming mixture admission == batch x52 (stateless hash admit)") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.mixtureAdmit(Streaming.documentsStream(spark, sf)),
      "mix_admit", outputMode = "append")
    val batch = graft.ops.Sampling.mixtureSample(spark, sf)
      .select("doc_id", "weight_permille").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = streamed.select("doc_id", "weight_permille").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, "stream must admit exactly the batch x52 set")
    assert(got.nonEmpty)
  }

  test("streaming classifier admission == batch x69 kept set (stateless)") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.classifierAdmit(Streaming.documentsStream(spark, sf),
        graft.ops.TextAnalysis.classifierWeights(spark, sf)),
      "clf_admit", outputMode = "append")
    val batch = graft.ops.TextAnalysis.qualityClassifier(spark, sf)
      .filter("kept").select("doc_id", "feat_sum_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = streamed.select("doc_id", "feat_sum_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, "stream must admit exactly the batch x69 kept set")
    assert(got.nonEmpty)
  }

  /** (file name -> mtime) of a committed slice dir — the shared probe
    * every replay-no-op discipline test compares before/after a
    * re-invoked updater (a rewritten file changes its mtime). */
  private def snapshot(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(f => f.getName -> f.lastModified()).toMap

  private def deleteRec(path: String): Unit = {
    val d = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  /** Stage frames as N single parquet files in a fresh landing dir so
    * AvailableNow + maxFilesPerTrigger=1 replays them as N micro-batches,
    * in order. */
  private def stageLanding(prefix: String,
      parts: Seq[org.apache.spark.sql.DataFrame]): String = {
    val landing = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_landing")
    val mtime0 = System.currentTimeMillis() - parts.size * 1000L
    parts.zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = landing.resolve(s"part$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // the file source orders a landing by modification time: space
      // the parts a second apart so part i is always micro-batch i
      dst.toFile.setLastModified(mtime0 + i * 1000L)
    }
    landing.toString
  }

  test("stream-static broadcast enrichment == batch join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = Tables.customer(spark, sf)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    val streamed = Streaming.runToMemory(spark,
      Streaming.staticEnrich(Streaming.eventsStream(spark, sf), dim)
        .select($"event_id", $"user_id", $"c_mktsegment"),
      "static_enrich")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = Tables.events(spark, sf)
      .join(dim, Seq("user_id"), "left")
      .select($"event_id", $"user_id", $"c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the dim must actually enrich (not all-null) or the test is vacuous
    assert(streamed.exists(_._3 != null), "no event matched the dimension")
  }

  test("incremental unigram LM: 2-batch streamed model == batch model, scores == x45") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val landing = java.nio.file.Paths.get(stageLanding("ulm", Seq(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0))))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_ulm_dim").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ulm_ckpt").toString
    Streaming.trainUnigramModel(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing.toString),
      dimDir, ckpt)
    // it really ran incrementally: two committed model versions
    val versions = new java.io.File(dimDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 micro-batches, got ${versions.toSeq}")
    // final model ≡ the batch-trained model, word for word
    val words = graft.ops.TextAnalysis.unigramWords(Tables.spread(docs))
    val batchModel = graft.ops.TextAnalysis.unigramCounts(words)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamedModel = Streaming.unigramModel(spark, dimDir).get
    val streamed = streamedModel
      .collect().map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toMap
    assert(streamed == batchModel, "incremental model drifted from batch model")
    // scoring against the streamed model reproduces batch x45 bit-exactly
    val scored = graft.ops.TextAnalysis.surpriseScores(words, streamedModel)
      .collect().map(_.toSeq)
    val batch = graft.ops.TextAnalysis.unigramSurprise(spark, sf)
      .collect().map(_.toSeq)
    assert(scored.toSeq == batch.toSeq)
  }

  test("incremental keep-best survivors: 2-wave replay == batch x59") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // wave 1 then wave 2 covers the whole corpus, so the incrementally
    // maintained survivor dim must converge to batch x59's output —
    // same clusters (cross + intra pairs = the full LSH pair set), same
    // quality formula, same rank tiebreak
    val landing = stageLanding("kb", Seq(
      docs.filter($"doc_id" % 5 =!= 0), docs.filter($"doc_id" % 5 === 0)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_kb_dim").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft_kb_pairs").toString
    val survDir = java.nio.file.Files.createTempDirectory("graft_kb_surv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kb_ckpt").toString
    Streaming.buildKeepBestDelta(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, pairsDir, survDir, ckpt)
    // it really ran incrementally: two committed survivor versions
    val versions = new java.io.File(survDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 versions, got ${versions.toSeq}")
    // a committed version holds the four delta slices and its marker,
    // nothing else
    val entries = new java.io.File(s"$survDir/v1").list().toSet
      .filterNot(_.startsWith("."))
    assert(entries == Set("attrs_delta", "drops", "labels_delta",
        "survivors_delta", "_SUCCESS"),
      s"unexpected slices in a committed keep-best version: $entries")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val streamed = rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
    val batch = rows(graft.ops.Dedup.dedupKeepBest(spark, sf))
    assert(streamed.nonEmpty)
    // the fixture must exercise real clusters, not just singletons
    assert(streamed.exists { case (d, c, _, _) => d != c },
      "no multi-doc cluster reached the streamed survivor dim")
    assert(streamed == batch,
      s"streamed keep-best diverged from batch x59: " +
        s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")

    // replay of the committed final batch is a no-op (marker discipline)
    val before = snapshot(s"$survDir/v1/survivors_delta")
    assert(before.nonEmpty)
    Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(
      docs.filter($"doc_id" % 7 === 0), 1L)
    assert(snapshot(s"$survDir/v1/survivors_delta") == before,
      "replay of a committed batch rewrote the survivor slices")
  }

  test("delta-star keep-best: 3-wave delta maintainer == batch x59 " +
      "(labels merged in place, never CC over the full pair graph)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // three waves so wave 3 exercises a merge of clusters formed in
    // DIFFERENT earlier waves (the delta-star case the 2-wave split
    // can't reach: both touched components already relabeled once)
    val waves = Seq(docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1), docs.filter($"doc_id" % 3 === 2))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbd_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(w, i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val streamed = rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
    val batch = rows(graft.ops.Dedup.dedupKeepBest(spark, sf))
    assert(streamed.exists { case (d, c, _, _) => d != c },
      "no multi-doc cluster reached the delta survivor dim")
    assert(streamed == batch,
      s"delta keep-best diverged from batch x59: " +
        s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    // replay of the committed final batch is a no-op
    val before = snapshot(s"$survDir/v2/survivors_delta")
    assert(before.nonEmpty)
    Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(
      docs.filter($"doc_id" % 7 === 0), 2L)
    assert(snapshot(s"$survDir/v2/survivors_delta") == before,
      "replay of a committed batch rewrote the delta survivor slices")
  }

  test("delta keep-best compaction cadence (r17): the lineage compacts " +
      "itself, a janitor deletes every pre-compaction version dir, the " +
      "next wave still commits, and the reader == batch x59") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val waves = (0 until 5).map(i => docs.filter($"doc_id" % 5 === i))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbc_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    waves.take(4).zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
        compactEvery = 2)(w, i.toLong)
    }
    Seq(1, 3).foreach { v =>
      assert(java.nio.file.Files.isRegularFile(
          java.nio.file.Paths.get(s"$survDir/v$v/_CUMULATIVE")),
        s"no _CUMULATIVE at v$v — the cadence did not fire")
    }
    // janitor: version dirs below the newest compaction go entirely
    (0 until 3).foreach(v => deleteRec(s"$survDir/v$v"))
    assert(new java.io.File(survDir).listFiles()
        .count(f => f.isDirectory && f.getName.matches("v\\d+")) == 1,
      "janitor left pre-compaction versions behind")
    // a wave AFTER the janitor must still commit (reads stand on the
    // compaction alone) and the assembled reader must equal batch x59
    Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
      compactEvery = 2)(waves(4), 4L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val streamed = rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
    val batch = rows(graft.ops.Dedup.dedupKeepBest(spark, sf))
    assert(streamed == batch,
      s"post-janitor delta keep-best diverged from batch x59: " +
        s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    // the write-side point of the delta form: the wave's label slice
    // is touched-clusters-sized, strictly smaller than the dim
    val deltaRows = spark.read
      .parquet(s"$survDir/v4/labels_delta").count()
    val dimRows = Streaming.assembledKeepBestDims(
      spark, survDir, Seq(3L, 4L))._2.count()
    assert(deltaRows < dimRows,
      s"wave 4 labels_delta ($deltaRows rows) is not smaller than the " +
        s"assembled dim ($dimRows rows) — the rewrite term is back")
  }

  test("keep-best compaction crash-retry (r18): a torn compact/ dir " +
      "without the marker is invisible to readers, the retried " +
      "compaction overwrites it whole, and the janitor-swept reader " +
      "== batch x59") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val waves = (0 until 3).map(i => docs.filter($"doc_id" % 3 === i))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbt_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(w, i.toLong)
    }
    // simulate a compaction that crashed mid-write at the top version:
    // a compact/ namespace holding WRONG (empty) artifacts and no
    // _CUMULATIVE marker — trusting any of it would corrupt the reader
    def emptyDim = spark.emptyDataFrame.select(lit(0L).as("doc_id"),
      lit(0L).as("cluster_id"), lit(0.0).as("quality_score"),
      lit("").as("lang")).limit(0)
    emptyDim.select($"doc_id", $"quality_score", $"lang")
      .write.mode("overwrite").parquet(s"$survDir/v2/compact/attrs")
    emptyDim.write.mode("overwrite").parquet(s"$survDir/v2/compact/labels")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val batch = rows(graft.ops.Dedup.dedupKeepBest(spark, sf))
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == batch,
      "reader trusted a torn compact/ dir (no _CUMULATIVE marker)")
    // the retry: idempotent compaction overwrites the torn namespace
    Streaming.compactKeepBest(spark, survDir)
    assert(java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$survDir/v2/_CUMULATIVE")),
      "retried compaction did not commit its marker")
    assert(spark.read.parquet(s"$survDir/v2/compact/attrs").count() > 0,
      "retried compaction left the torn empty attrs in place")
    // the membership probe artifact: doc_id-only rows, laid out since
    // r19 under kb_bucket= partition directories (the range-bucketed
    // store the wave's anti-join prunes) with the BUCKETS meta
    // committed before the marker
    val members = spark.read.parquet(s"$survDir/v2/compact/members")
    assert(members.columns.toSeq.sorted == Seq("doc_id", "kb_bucket"),
      s"members artifact must be doc_id rows under kb_bucket " +
        s"partitions: ${members.columns.toSeq}")
    assert(java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$survDir/v2/compact/BUCKETS")),
      "bucketed compaction did not commit its BUCKETS meta")
    assert(members.count() == docs.count(),
      "members must carry every streamed doc exactly once")
    // janitor sweep below the compaction; the reader must stand on the
    // compact/ namespace alone
    (0 until 2).foreach(v => deleteRec(s"$survDir/v$v"))
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == batch,
      "post-janitor reader diverged — compact/ is not the read base")
  }

  test("r19 bucketed keep-best stores: the membership probe reads only " +
      "the probe's kb_bucket partitions and equals the full-scan " +
      "anti-join; labels carry a by-cluster and a by-doc copy") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val waves = (0 until 3).map(i => docs.filter($"doc_id" % 3 === i))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbb_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(w, i.toLong)
    }
    // small target rows/bucket so the fixture yields many buckets —
    // the pruning must be visible as files-not-read, not asserted
    Streaming.compactKeepBest(spark, survDir, targetRowsPerBucket = 32L)
    val vs = Seq(0L, 1L, 2L)
    def bucketDirs(part: String) =
      new java.io.File(s"$survDir/v2/compact/$part").listFiles()
        .filter(_.getName.startsWith("kb_bucket=")).map(_.getName).toSeq
    for (part <- Seq("attrs", "members", "labels", "labels_by_doc"))
      assert(bucketDirs(part).size > 4,
        s"$part: expected a multi-bucket layout, got ${bucketDirs(part)}")
    // a narrow probe (one id range) must touch strictly fewer member
    // files than there are buckets — partition-directory pruning, the
    // same files-∝-probes gate as the IVF index (PlanAuditSpec x26)
    val probe = docs.orderBy($"doc_id").limit(7).select($"doc_id")
      .localCheckpoint()
    val touched = Streaming.keepBestMembersProbe(spark, survDir, vs, probe)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .filter(_.contains("/compact/members/"))
    val allBuckets = bucketDirs("members").size
    assert(touched.nonEmpty && touched.length < allBuckets / 2,
      s"probe touched ${touched.length} member files of $allBuckets " +
        "buckets — partition pruning is not happening")
    // soundness: the pruned membership drives the SAME first-time
    // anti-join result as the full-scan membership, for a probe that
    // mixes members and genuinely-new doc_ids
    val mixed = probe.union(spark.range(9000000L, 9000005L)
      .select($"id".as("doc_id"))).localCheckpoint()
    def antiWith(members: org.apache.spark.sql.DataFrame) =
      mixed.join(members, Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
    assert(
      antiWith(Streaming.keepBestMembersProbe(spark, survDir, vs, mixed))
        == antiWith(Streaming.assembledKeepBestMembers(spark, survDir, vs)),
      "pruned membership anti-join diverged from the full scan")
    // a wave AFTER the bucketed compaction (probing bucketed attrs,
    // labels and labels_by_doc on the hot path) must leave the reader
    // ≡ batch x59 — same gate as the cadence test, on this lineage
    Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(
      docs.filter($"doc_id" % 3 === 0), 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(_.toSeq).toSet
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == rows(graft.ops.Dedup.dedupKeepBest(spark, sf)),
      "post-compaction wave over the bucketed stores diverged from batch")
  }

  test("tiered keep-best compaction (r19): small late waves keep the " +
      "big tier (manifest, not a full rewrite); drops recorded AFTER " +
      "the kept tier retire its rows via the cumulative drop store; " +
      "manifest-aware janitor; reader == batch x59 throughout") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // late arrivals = min-id members of multi-doc clusters (a survivor
    // row with doc_id != cluster_id names one): when they land, cross
    // pairs against their tier-A cluster mates force drops + relabels
    // of clusters whose rows live in the KEPT tier — the cross-tier
    // precedence case the cumulative drop store exists for
    val late = graft.ops.Dedup.dedupKeepBest(spark, sf)
      .filter($"doc_id" =!= $"cluster_id")
      .select($"cluster_id").distinct().orderBy($"cluster_id")
      .limit(8).as[Long].collect().toSeq
    assert(late.size >= 2, "fixture must carry multi-doc clusters")
    val (lateA, lateB) = late.splitAt(late.size / 2)
    val early = docs.filter(!$"doc_id".isin(late: _*))
    val waves = Seq(
      early.filter($"doc_id" % 7 =!= 0),
      early.filter($"doc_id" % 7 === 0),
      docs.filter($"doc_id".isin(lateA: _*)),
      docs.filter($"doc_id".isin(lateB: _*)))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbtier_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(_.toSeq).toSet
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
        compactEvery = 2)(w, i.toLong)
    }
    // the v3 trigger must KEEP the big v1 tier (corpus-scale rows vs
    // two tiny tails) and write only a late-docs-sized second tier —
    // the amortized-work property; pre-tiering this was a full rewrite
    val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$survDir/v3/_CUMULATIVE")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(manifest == Seq("v1/compact", "v3/compact"),
      s"expected the kept big tier + the small new tier, got: $manifest")
    val smallRows = spark.read.parquet(s"$survDir/v3/compact/attrs").count()
    val lateRows = spark.read
      .parquet(s"$survDir/v2/attrs_delta", s"$survDir/v3/attrs_delta")
      .count()
    assert(smallRows == lateRows,
      s"second tier rewrote more than the tails ($smallRows vs $lateRows)")
    // whole-corpus equivalence: stale tier-A rows of the relabeled
    // clusters must be retired across the tier boundary
    val batch = rows(graft.ops.Dedup.dedupKeepBest(spark, sf))
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == batch,
      "tiered lineage diverged from batch x59 before the janitor")
    // manifest-aware janitor: below the v3 base, SLICES go (including
    // the v2/v3 drops slices — after this the cumulative drop store
    // alone must keep retiring the kept tier's stale rows) and
    // unreferenced compact roots go; manifest-referenced roots and
    // version markers survive
    deleteRec(s"$survDir/v0")
    deleteRec(s"$survDir/v2")
    Option(new java.io.File(s"$survDir/v1").listFiles()).toSeq.flatten
      .filter(f => f.getName != "compact" && f.getName != "_CUMULATIVE" &&
        f.getName != "_SUCCESS")
      .foreach(f => deleteRec(f.getPath))
    Seq("labels_delta", "survivors_delta", "attrs_delta", "drops")
      .foreach(p => deleteRec(s"$survDir/v3/$p"))
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == batch,
      "post-janitor tiered reader diverged — a kept-tier read or the " +
        "cumulative drop store is broken")
    // a wave after the sweep probes BOTH tiers' bucketed stores (two
    // roots, two bucket widths) on the hot path and must stay == batch
    Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
      compactEvery = 2)(docs.filter($"doc_id" % 7 === 0), 4L)
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == batch,
      "post-sweep wave over the two-tier stores diverged from batch x59")
  }

  test("attrs are deterministic first-wins: a doc_id recurring across " +
      "waves with CHANGED attributes keeps its first wave's row") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // wave 2 re-submits a slice of wave-1 doc_ids with mutated text
    // (changed quality_score); the incremental attrs dim is
    // explicitly first-wins
    val recur = docs.filter($"doc_id" % 3 === 0 && $"doc_id" % 5 === 0)
      .withColumn("text", concat($"text",
        lit(" zq zq zq zq zq zq zq zq zq zq zq zq")))
    val waves = Seq(docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1).unionByName(recur),
      docs.filter($"doc_id" % 3 === 2))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbfw_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(w, i.toLong)
    }
    val incremental = Streaming.streamedKeepBestAttrs(spark, survDir)
      .select($"doc_id", $"quality_score", $"lang").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    // non-vacuity + the semantics pin: the recurring ids' mutated
    // wave-2 scores must actually differ from their wave-1 scores, and
    // the lineage must carry the wave-1 (first-wins) row for them
    val wave1Attrs = waves(0)
      .select($"doc_id",
        graft.ops.TextAnalysis.qualityScore($"text").as("q"), $"lang")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet
    val recurAttrs = recur
      .select($"doc_id",
        graft.ops.TextAnalysis.qualityScore($"text").as("q"), $"lang")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(recurAttrs.exists(t => !wave1Attrs.contains(t)),
      "mutation changed no recurring doc's attributes — vacuous")
    val recurIds = recurAttrs.map(_._1).toSet
    assert(incremental.filter(t => recurIds.contains(t._1)) ==
        wave1Attrs.filter(t => recurIds.contains(t._1)),
      "recurring doc_ids do not carry their first wave's attributes")
  }

  test("incremental gram dictionary index: adds + tombstones across " +
      "2 waves == cold blocked rebuild over the surviving dictionary") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    import graft.ops.LocationResolve
    // the n13 dictionary shape split into two update waves, plus a
    // wave-2 tombstone set removing some wave-1 variants
    val part = spark.range(1200).select($"id".as("p_partkey"))
    val dict = LocationResolve.gramScaleDim(part)
      .withColumn("vorder", lit(0L)).localCheckpoint()
    val wave1 = dict.filter(xxhash64($"vkey") % 2 === 0)
    val wave2Adds = dict.filter(xxhash64($"vkey") % 2 =!= 0)
    val dels = wave1.filter(xxhash64($"vkey", lit(7)) % 5 === 0)
      .select($"vkey").localCheckpoint()
    // frozen order from the wave-1 base dictionary (the honest setup:
    // the order predates the updates it survives)
    val gorder = LocationResolve.gramOrderOf(wave1, "vkey").localCheckpoint()
    val idxDir =
      java.nio.file.Files.createTempDirectory("graft_gidx").toString
    // the two waves land as two files of an update stream, one
    // micro-batch each
    val updates = Seq(wave1.withColumn("op", lit("add")),
      wave2Adds.withColumn("op", lit("add"))
        .unionByName(dels.withColumn("canon", lit("")).withColumn("vorder",
          lit(0L)).withColumn("op", lit("del"))
          .select($"vkey", $"canon", $"vorder", $"op")))
    val landing = stageLanding("gidx", updates)
    Streaming.buildGramIndex(
      spark.readStream.schema(updates.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      idxDir, gorder,
      java.nio.file.Files.createTempDirectory("graft_gidx_ckpt").toString)
    val versions = new java.io.File(idxDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 versions, got ${versions.toSeq}")
    val probes = LocationResolve.gramProbes(
        spark.range(0, 1200, 3).select($"id".as("p_partkey")))
      .select($"norm".as("fnorm")).distinct().localCheckpoint()
    val streamed = Streaming.streamedGramResolve(spark, idxDir, gorder, probes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the cold rebuild over the SURVIVING dictionary, forced blocked —
    // different df order (current, not frozen), identical resolution
    val surviving = dict.join(dels, Seq("vkey"), "left_anti")
    val cold = LocationResolve.fuzzyResolveDim(probes, surviving, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed == cold, {
      val diff = (streamed.keySet ++ cold.keySet)
        .filter(k => streamed.get(k) != cold.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3).map(k =>
        s"'$k' streamed=${streamed.get(k)} cold=${cold.get(k)}").mkString("; ")}"
    })
    assert(streamed.nonEmpty && streamed.size < probes.count(),
      s"degenerate: ${streamed.size} hits")
    // the tombstones must have bitten: some probe whose wave-1 target
    // was removed resolves differently than against the full dict
    val full = LocationResolve.fuzzyResolveDim(probes, dict, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(full != streamed,
      "tombstone set removed nothing any probe cared about — vacuous")
    // r17 (VERDICT #2): the reader's probe broadcast is size-gated
    // by the batch path's Broadcasts rule — the forced
    // shuffle form must be row-identical, and its bkey join must
    // physically leave the broadcast (auto-broadcast disabled so
    // Catalyst's size estimate can't re-broadcast the tiny fixture
    // keys and vacuously pass; the gorder hint survives, as intended)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val shuffledForm =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = Broadcasts.forcing(false)(
          Streaming.streamedGramResolve(spark, idxDir, gorder, probes))
        val plan = df.queryExecution.executedPlan.toString
        assert("(?:SortMergeJoin|ShuffledHashJoin)".r
            .findFirstIn(plan).isDefined,
          s"no shuffle key join in the forced form\n${plan.take(1500)}")
        df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    assert(shuffledForm == streamed, {
      val diff = (shuffledForm.keySet ++ streamed.keySet)
        .filter(k => shuffledForm.get(k) != streamed.get(k))
      s"${diff.size} diverging probes through the shuffle form, e.g. " +
        diff.take(3).map(k => s"'$k' shuffle=${shuffledForm.get(k)} " +
          s"broadcast=${streamed.get(k)}").mkString("; ")
    })
  }

  test("gram index re-add lineage (r16): add → del → re-add in ONE " +
      "lineage == cold rebuild over the surviving dictionary") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    import graft.ops.LocationResolve
    val part = spark.range(900).select($"id".as("p_partkey"))
    val dict = LocationResolve.gramScaleDim(part)
      .withColumn("vorder", lit(0L)).localCheckpoint()
    // wave 0: everything added; wave 1: a slice tombstoned; wave 2:
    // HALF the tombstoned slice re-added — under the r15 global-
    // tombstone rule the re-adds stayed dead (new-lineage-required),
    // the r16 versioned reader must resurrect exactly them
    val dels = dict.filter(xxhash64($"vkey", lit(7)) % 4 === 0)
      .select($"vkey").localCheckpoint()
    val readds = dict.join(
        dels.filter(xxhash64($"vkey", lit(11)) % 2 === 0), Seq("vkey"))
      .localCheckpoint()
    val gorder = LocationResolve.gramOrderOf(dict, "vkey").localCheckpoint()
    val idxDir =
      java.nio.file.Files.createTempDirectory("graft_gidx_readd").toString
    Streaming.gramIndexUpdate(idxDir, gorder)(
      dict.withColumn("op", lit("add")), 0L)
    Streaming.gramIndexUpdate(idxDir, gorder)(
      dels.withColumn("canon", lit("")).withColumn("vorder", lit(0L))
        .withColumn("op", lit("del"))
        .select($"vkey", $"canon", $"vorder", $"op"), 1L)
    Streaming.gramIndexUpdate(idxDir, gorder)(
      readds.withColumn("op", lit("add")), 2L)
    val probes = LocationResolve.gramProbes(
        spark.range(0, 900, 3).select($"id".as("p_partkey")))
      .select($"norm".as("fnorm")).distinct().localCheckpoint()
    val streamed = Streaming.streamedGramResolve(spark, idxDir, gorder, probes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val surviving = dict.join(
      dels.join(readds.select($"vkey"), Seq("vkey"), "left_anti"),
      Seq("vkey"), "left_anti")
    val cold = LocationResolve.fuzzyResolveDim(probes, surviving, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed == cold, {
      val diff = (streamed.keySet ++ cold.keySet)
        .filter(k => streamed.get(k) != cold.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3).map(k =>
        s"'$k' streamed=${streamed.get(k)} cold=${cold.get(k)}").mkString("; ")}"
    })
    // non-vacuity both ways: some probe must RESOLVE only because of
    // the re-add (differs from the del-only index), and some tombstone
    // must still bite (differs from the never-deleted index)
    val delOnly = {
      val d2 = java.nio.file.Files.createTempDirectory("graft_gidx_d2").toString
      Streaming.gramIndexUpdate(d2, gorder)(dict.withColumn("op", lit("add")), 0L)
      Streaming.gramIndexUpdate(d2, gorder)(
        dels.withColumn("canon", lit("")).withColumn("vorder", lit(0L))
          .withColumn("op", lit("del"))
          .select($"vkey", $"canon", $"vorder", $"op"), 1L)
      Streaming.streamedGramResolve(spark, d2, gorder, probes)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(streamed != delOnly,
      "re-adds resurrected nothing any probe cared about — vacuous")
    val full = LocationResolve.fuzzyResolveDim(probes, dict, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed != full,
      "surviving tombstones removed nothing any probe cared about — vacuous")

    // ---- compaction (r16): consolidate the lineage, then PROVE the
    // reader no longer depends on pre-compaction slices by deleting
    // them outright; results must stay identical, and a post-
    // compaction update wave must keep composing
    Streaming.compactGramIndex(spark, idxDir)
    def resolveNow() =
      Streaming.streamedGramResolve(spark, idxDir, gorder, probes)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(resolveNow() == streamed, "compaction changed resolution")
    // r17 (ADVICE): compacted tombstones are inert — the artifact's
    // dels must be pruned to EMPTY (this lineage has real deletes, so
    // an unpruned artifact would carry rows here), while resolution
    // above already proved the read path doesn't need them
    assert(spark.read.parquet(s"$idxDir/v2/compact/dels").isEmpty,
      "compaction artifact carries inert per-vkey tombstones")
    Seq("v0/keys", "v0/dels", "v1/keys", "v1/dels", "v2/keys", "v2/dels")
      .foreach { p =>
        val d = java.nio.file.Paths.get(s"$idxDir/$p")
        if (java.nio.file.Files.exists(d)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.delete)
        }
      }
    assert(resolveNow() == streamed,
      "reader still touched pre-compaction slices — compaction is not " +
        "the read base")
    // a wave AFTER compaction: new adds + a tombstone on a compacted
    // survivor, read as compact-base + one tail slice
    val wave3Adds = LocationResolve.gramScaleDim(
        spark.range(900, 1100).select($"id".as("p_partkey")))
      .withColumn("vorder", lit(0L))
    val wave3Dels = dict.join(dels, Seq("vkey"), "left_anti")
      .filter(xxhash64($"vkey", lit(13)) % 6 === 0).select($"vkey")
      .localCheckpoint()
    Streaming.gramIndexUpdate(idxDir, gorder)(
      wave3Adds.withColumn("op", lit("add"))
        .unionByName(wave3Dels.withColumn("canon", lit(""))
          .withColumn("vorder", lit(0L)).withColumn("op", lit("del"))
          .select($"vkey", $"canon", $"vorder", $"op")), 3L)
    val probes3 = LocationResolve.gramProbes(
        spark.range(0, 1100, 3).select($"id".as("p_partkey")))
      .select($"norm".as("fnorm")).distinct().localCheckpoint()
    val streamed3 = Streaming.streamedGramResolve(
        spark, idxDir, gorder, probes3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val surviving3 = dict.unionByName(wave3Adds)
      .join(dels.join(readds.select($"vkey"), Seq("vkey"), "left_anti"),
        Seq("vkey"), "left_anti")
      .join(wave3Dels, Seq("vkey"), "left_anti")
    val cold3 = LocationResolve.fuzzyResolveDim(probes3, surviving3, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed3 == cold3, {
      val diff = (streamed3.keySet ++ cold3.keySet)
        .filter(k => streamed3.get(k) != cold3.get(k))
      s"${diff.size} diverging probes post-compaction, e.g. " +
        diff.take(3).map(k =>
          s"'$k' streamed=${streamed3.get(k)} cold=${cold3.get(k)}").mkString("; ")
    })
    assert(streamed3 != streamed, "wave-3 update changed nothing — vacuous")
  }

  test("gram-index auto-compaction cadence (r17): a 22-wave lineage " +
      "with interleaved dels and a re-add compacts ITSELF every 4 " +
      "waves; a janitor deletes every pre-compaction version dir and " +
      "resolution still == cold rebuild over the surviving dictionary") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    import graft.ops.LocationResolve
    val part = spark.range(1100).select($"id".as("p_partkey"))
    val dict = LocationResolve.gramScaleDim(part)
      .withColumn("vorder", lit(0L)).localCheckpoint()
    val gorder = LocationResolve.gramOrderOf(dict, "vkey").localCheckpoint()
    val idxDir =
      java.nio.file.Files.createTempDirectory("graft_gidx_cadence").toString
    def slice(i: Int) = dict.filter(pmod(xxhash64($"vkey"), lit(22)) === i)
    def delSet(i: Int) = slice(i - 2)
      .filter(pmod(xxhash64($"vkey", lit(7)), lit(3)) === 0)
      .select($"vkey")
    val delWaves = Set(5, 9, 13, 17, 21)
    val readds = dict.join(delSet(17), Seq("vkey"))
      .filter(pmod(xxhash64($"vkey", lit(11)), lit(2)) === 0)
      .localCheckpoint()
    (0 until 22).foreach { i =>
      val adds0 = slice(i)
      val adds = if (i == 19) adds0.unionByName(readds) else adds0
      val wave = adds.withColumn("op", lit("add"))
        .unionByName(
          if (delWaves(i))
            delSet(i).withColumn("canon", lit(""))
              .withColumn("vorder", lit(0L)).withColumn("op", lit("del"))
              .select($"vkey", $"canon", $"vorder", $"op")
          else adds0.limit(0).withColumn("op", lit("add")))
      // the cadence form buildGramIndex's foreachBatch drives
      Streaming.gramIndexMaintain(idxDir, gorder, compactEvery = 4)(
        wave, i.toLong)
    }
    // the cadence must have fired INSIDE the lineage: markers at every
    // 4th committed version, newest at v19
    Seq(3, 7, 11, 15, 19).foreach { v =>
      assert(java.nio.file.Files.isRegularFile(
          java.nio.file.Paths.get(s"$idxDir/v$v/_CUMULATIVE")),
        s"no _CUMULATIVE at v$v — the cadence did not fire")
    }
    val probes = LocationResolve.gramProbes(
        spark.range(0, 1100, 3).select($"id".as("p_partkey")))
      .select($"norm".as("fnorm")).distinct().localCheckpoint()
    def resolveNow() =
      Streaming.streamedGramResolve(spark, idxDir, gorder, probes)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val streamed = resolveNow()
    // the janitor contract: the offered set holds the v0–v18 slices and
    // no manifest root, and deleting exactly it changes no resolution
    val roots = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$idxDir/v19/_CUMULATIVE")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).map(r => s"$idxDir/$r")
      .toSeq
    val offered = Streaming.janitorDeletablePaths(idxDir)
    for (v <- 0 until 19; p <- Seq("keys", "dels"))
      assert(offered.contains(s"$idxDir/v$v/$p"),
        s"janitor does not offer v$v/$p: $offered")
    assert(roots.nonEmpty && !offered.exists(p =>
        roots.exists(r => p == r || p.startsWith(s"$r/"))),
      s"janitor offers a manifest root ($roots): $offered")
    offered.foreach(deleteRec)
    assert(resolveNow() == streamed,
      "resolution changed after deleting the janitor's offered set")
    // janitor: every version dir BELOW the newest compaction goes —
    // whole dirs, _SUCCESS included; the reader must stand on
    // v19/compact + the v20/v21 tail alone (O(K) listings by
    // construction)
    (0 until 19).foreach { v =>
      val d = java.nio.file.Paths.get(s"$idxDir/v$v")
      if (java.nio.file.Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    assert(new java.io.File(idxDir).listFiles()
        .count(f => f.isDirectory && f.getName.matches("v\\d+")) == 3,
      "janitor left more than compaction + tail on disk")
    assert(resolveNow() == streamed,
      "resolution changed after deleting pre-compaction version dirs")
    val deleted = Seq(5, 9, 13, 17, 21).map(delSet)
      .reduce(_ unionByName _)
      .join(readds.select($"vkey"), Seq("vkey"), "left_anti")
    val surviving = dict.join(deleted, Seq("vkey"), "left_anti")
    val cold = LocationResolve.fuzzyResolveDim(probes, surviving, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed == cold, {
      val diff = (streamed.keySet ++ cold.keySet)
        .filter(k => streamed.get(k) != cold.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3).map(k =>
        s"'$k' streamed=${streamed.get(k)} cold=${cold.get(k)}").mkString("; ")}"
    })
    assert(streamed.nonEmpty, "degenerate universe")
    // non-vacuity: the dels must have bitten through the compactions
    val full = LocationResolve.fuzzyResolveDim(probes, dict, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(full != streamed,
      "no tombstone survived to resolution — vacuous")
  }

  test("incremental substring dedup: 2-wave rewrites == batch x70") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // RANGE-split waves (arrival order = doc_id order): the regime in
    // which the streamed keep-first (history wins) coincides with batch
    // x70's keep-first (min doc_id, pos) — see spanIndexUpdate scaladoc
    val mid = docs.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    val landing = stageLanding("spn", Seq(
      docs.filter($"doc_id" <= mid), docs.filter($"doc_id" > mid)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_spn_dim").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_spn_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_spn_ckpt").toString
    Streaming.buildSpanIndex(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, outDir, ckpt)
    val versions = new java.io.File(dimDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 micro-batches, got ${versions.toSeq}")
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_words", "n_dup_occurrences", "n_removed",
        "clean_text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
    val streamed = rowSet(Streaming.streamedRewrites(spark, dimDir, outDir))
    val batch = rowSet(graft.ops.Dedup.substringDedupRewrite(spark, sf))
    assert(streamed.exists(_._4 > 0), "fixture must produce cross-wave cuts")
    assert(streamed == batch,
      "streamed substring rewrite diverged from batch x70")

    // an output slice whose batch never committed must be invisible
    Streaming.streamedRewrites(spark, dimDir, outDir)
      .limit(1).write.mode("overwrite").parquet(s"$outDir/b99")
    assert(rowSet(Streaming.streamedRewrites(spark, dimDir, outDir)) == batch,
      "uncommitted rewrite slice leaked into the union")

    // committed replay is a no-op even with a different frame
    val before = snapshot(s"$outDir/b1")
    assert(before.nonEmpty)
    Streaming.spanIndexUpdate(dimDir, outDir)(
      docs.filter($"doc_id" % 7 === 0), 1L)
    assert(snapshot(s"$outDir/b1") == before,
      "replayed committed batch rewrote its output slice")
  }

  test("incremental decontamination rewrite: 2-wave streamed == batch x76") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // the SAME train/bench split as batch x76 (bench = doc_id % 17 == 0);
    // an arbitrary mid-split of the train slice — equality must hold on
    // ANY wave split because the bench dim is static (no cross-batch
    // keep-first coupling, unlike x70's sibling)
    val bench = docs.filter($"doc_id" % 17 === 0)
    val train = docs.filter($"doc_id" % 17 =!= 0)
    val mid = train.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    val landing = stageLanding("dcr", Seq(
      train.filter($"doc_id" <= mid), train.filter($"doc_id" > mid)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dcr_dim").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_dcr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dcr_ckpt").toString
    Streaming.benchSpanDim(bench, dimDir)
    Streaming.buildDecontamRewrites(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, outDir, ckpt)
    // it really ran incrementally: two committed output slices
    val slices = new java.io.File(outDir).listFiles()
      .filter(_.getName.matches("b\\d+"))
    assert(slices.length == 2, s"expected 2 slices, got ${slices.toSeq}")
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_words", "n_contam_occurrences", "n_removed",
        "clean_text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
    val streamed = rowSet(Streaming.streamedDecontamRewrites(spark, outDir))
    val batch = rowSet(graft.ops.Dedup.decontaminateRewrite(spark, sf))
    assert(streamed.exists(_._3 > 0), "fixture must produce real contam cuts")
    assert(streamed == batch,
      s"streamed decontam rewrite diverged from batch x76: " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")

    // a slice without its _SUCCESS marker (torn write) must be invisible
    Streaming.streamedDecontamRewrites(spark, outDir)
      .limit(1).write.mode("overwrite").parquet(s"$outDir/b99")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$outDir/b99/_SUCCESS"))
    assert(rowSet(Streaming.streamedDecontamRewrites(spark, outDir)) == batch,
      "torn rewrite slice leaked into the union")

    // committed replay is a no-op even with a different frame
    val before = snapshot(s"$outDir/b1")
    assert(before.nonEmpty)
    Streaming.decontamRewriteUpdate(dimDir, outDir)(
      docs.filter($"doc_id" % 7 === 0), 1L)
    assert(snapshot(s"$outDir/b1") == before,
      "replayed committed batch rewrote its output slice")
  }

  test("incremental rejection ledger: 2-wave streamed == batch x77") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // RANGE-split waves: the regime where streamed keep-first (history
    // wins) coincides with batch x77's global min-id keeper
    val mid = docs.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    val landing = stageLanding("ldg", Seq(
      docs.filter($"doc_id" <= mid), docs.filter($"doc_id" > mid)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_ldg_dim").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ldg_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ldg_ckpt").toString
    Streaming.buildLedger(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, outDir, ckpt, graft.ops.TextAnalysis.classifierWeights(spark, sf))
    val versions = new java.io.File(dimDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 micro-batches, got ${versions.toSeq}")
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "feat_sum_micro", "stage", "keeper_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val streamed = rowSet(Streaming.streamedLedger(spark, dimDir, outDir))
    val batch = rowSet(graft.ops.Pipeline.rejectionLedger(spark, sf))
    assert(streamed == batch,
      s"streamed ledger diverged from batch x77: " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")

    // an output slice whose batch never committed must be invisible
    Streaming.streamedLedger(spark, dimDir, outDir)
      .limit(1).write.mode("overwrite").parquet(s"$outDir/b99")
    assert(rowSet(Streaming.streamedLedger(spark, dimDir, outDir)) == batch,
      "uncommitted ledger slice leaked into the union")

    // committed replay is a no-op even with a different frame
    val before = snapshot(s"$outDir/b1")
    assert(before.nonEmpty)
    Streaming.ledgerUpdate(dimDir, outDir,
        graft.ops.TextAnalysis.classifierWeights(spark, sf))(
      docs.filter($"doc_id" % 7 === 0), 1L)
    assert(snapshot(s"$outDir/b1") == before,
      "replayed committed batch rewrote its ledger slice")
  }

  test("incremental datasheet: 2-wave streamed report == batch x73 exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // parity split, NOT a range split: the datasheet's merge/probe
    // design claims exactness on ANY wave boundary (unlike the
    // ledger's keep-first regime) — near-dup pairs land both within
    // and across these waves
    val landing = stageLanding("dsh", Seq(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dsh_dim").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsh_ckpt").toString
    Streaming.buildDatasheet(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, ckpt)
    val versions = new java.io.File(dimDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 micro-batches, got ${versions.toSeq}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7))).toSet
    val streamed = rows(Streaming.streamedDatasheet(spark, dimDir))
    val batch = rows(graft.ops.Pipeline.corpusDatasheet(spark, sf))
    // EXACT equality on every column — counters, sources, dup counts,
    // and the interpolated median (recomputed from the merged
    // histogram, not a sketch); x74's tolerance gate is subsumed
    assert(streamed == batch,
      s"streamed datasheet diverged from batch x73: " +
        s"missing=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    // the dup counters must be exercised, or the cross-wave probe is
    // untested — the fixture corpus carries near-dup pairs
    assert(streamed.exists(_._5 > 0), "no dup members in fixture")
    // committed replay is a no-op even with a different frame
    val before = snapshot(s"$dimDir/v1/hist")
    assert(before.nonEmpty)
    Streaming.datasheetUpdate(dimDir)(docs.filter($"doc_id" % 7 === 0), 1L)
    assert(snapshot(s"$dimDir/v1/hist") == before,
      "replayed committed batch rewrote its datasheet state")
  }

  test("streamed datasheet follows batch x73's banded dup engine on mid-band pairs") {
    import spark.implicits._
    // 40 planted pairs at J = 11/29 ≈ 0.38 — inside the dedup family's
    // J ≥ 0.3 gate but MID-BAND for 8×4 MinHash banding (per-band match
    // probability J⁴ ≈ 0.02, all-miss ≈ 0.85), so the deterministic
    // xxhash64 family provably misses most of them. This is the corpus
    // where batch x73's LSH-derived dup counter and an exact
    // inverted-index counter DIVERGE: the streamed sibling must follow
    // batch (the banded engine), and equality here would be impossible
    // for the exact-index form this replaced. Pair tails use unique
    // per-pair words, so no cross-pair similarity exists.
    val planted = (0 until 40).flatMap { p =>
      val common = (0 until 13).map(i => s"p${p}c$i")
      val ta = (0 until 9).map(i => s"p${p}a$i")
      val tb = (0 until 9).map(i => s"p${p}b$i")
      // p < 20: ids share parity → the pair lands WITHIN one wave of the
      // parity split below; p ≥ 20: opposite parity → CROSS-wave. Both
      // probe paths face mid-band pairs and must decide like batch.
      val (ia, ib) =
        if (p < 20) (200000L + 4 * p, 200000L + 4 * p + 2)
        else (200000L + 4 * p, 200000L + 4 * p + 1)
      val la = if (p % 2 == 0) "en" else "de"
      Seq((ia, (common ++ ta).mkString(" "), la, "planted"),
          (ib, (common ++ tb).mkString(" "), la, "planted"))
    }
    val corpus = planted.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val sfTmp = java.nio.file.Files.createTempDirectory("graft_dsh_mid").toString
    corpus.write.mode("overwrite").parquet(s"$sfTmp/documents.parquet")
    // precondition: the banding genuinely misses pairs the exact index
    // finds — otherwise this corpus cannot discriminate the engines
    val exact = graft.ops.Dedup.jaccardPairsOf(
      graft.ops.Dedup.shingledOf(Tables.documents(spark, sfTmp)),
      Long.MaxValue).count()
    val lsh = graft.ops.Dedup.minhashLshPairs(spark, sfTmp).count()
    assert(exact == 40L, s"planted corpus should carry 40 exact pairs, got $exact")
    assert(lsh < exact,
      "banding caught every mid-band pair — corpus cannot discriminate engines")
    // …but the banding must also CATCH some pairs: lsh == 0 would make
    // the allDup == 2·lsh teeth below vacuously pass on a corpus that
    // never exercises the dup counters at all
    assert(lsh > 0,
      "banding missed every planted pair — dup counters never exercised")
    val landing = stageLanding("dshmid", Seq(
      corpus.filter($"doc_id" % 2 === 0), corpus.filter($"doc_id" % 2 === 1)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dshmid_dim").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dshmid_ckpt").toString
    Streaming.buildDatasheet(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, ckpt)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val streamed = Streaming.streamedDatasheet(spark, dimDir)
    assert(rows(streamed) == rows(graft.ops.Pipeline.corpusDatasheet(spark, sfTmp)),
      "streamed datasheet diverged from batch x73 on the mid-band corpus")
    // teeth: pairs are mutually disjoint, so the banded engine counts
    // 2·lsh dup docs in the ALL row where the exact engine would say 80
    val allDup = streamed.filter($"lang" === "ALL")
      .select($"n_dup_docs").as[Long].head()
    assert(allDup == 2 * lsh && allDup < 2 * exact,
      s"ALL-row dup count $allDup is not the banded engine's 2·$lsh")
  }

  test("datasheet soak: 4-wave version chain, streamed == batch at EVERY prefix") {
    import spark.implicits._
    // the 2-wave stream test proves the wiring; this drives the update
    // unit through a deeper chain (3 hist/src merges, cross-probes
    // against 1..3 accumulated slices) and checks the mergeability
    // claim where it actually bites: after EVERY prefix, the composed
    // report equals batch x73 run on exactly the docs ingested so far
    val docs = Tables.documents(spark, sf)
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dsoak_dim").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    for (k <- 0 until 4) {
      Streaming.datasheetUpdate(dimDir)(docs.filter($"doc_id" % 4 === k), k.toLong)
      val prefixDir =
        java.nio.file.Files.createTempDirectory(s"graft_dsoak_p$k").toString
      docs.filter($"doc_id" % 4 <= k).write.mode("overwrite")
        .parquet(s"$prefixDir/documents.parquet")
      assert(rows(Streaming.streamedDatasheet(spark, dimDir)) ==
        rows(graft.ops.Pipeline.corpusDatasheet(spark, prefixDir)),
        s"streamed datasheet diverged from batch at prefix ${k + 1}/4")
    }
  }

  test("datasheet dup-engine compaction (r19): maintained lineage == " +
      "batch x73 at every prefix across compaction boundaries; a torn " +
      "compact/ is invisible") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dimDir =
      java.nio.file.Files.createTempDirectory("graft_dsc_dim").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def prefixCheck(k: Int): Unit = {
      val prefixDir =
        java.nio.file.Files.createTempDirectory(s"graft_dsc_p$k").toString
      docs.filter($"doc_id" % 5 <= k).write.mode("overwrite")
        .parquet(s"$prefixDir/documents.parquet")
      assert(rows(Streaming.streamedDatasheet(spark, dimDir)) ==
        rows(graft.ops.Pipeline.corpusDatasheet(spark, prefixDir)),
        s"streamed datasheet diverged from batch at prefix ${k + 1}/5")
    }
    // waves 0-1 plain, then a TORN compaction at v1 (garbage compact/
    // artifacts, NO marker — newer than any committed store): wave 2
    // must ignore it (cumulativeBaseAt trusts only marker-committed
    // stores) and still equal batch
    for (k <- 0 until 2) {
      Streaming.datasheetUpdate(dimDir)(
        docs.filter($"doc_id" % 5 === k), k.toLong)
      prefixCheck(k)
    }
    spark.emptyDataFrame.select(lit(0).as("band"), lit(0L).as("bh"),
        lit(0L).as("doc_id")).limit(0)
      .write.mode("overwrite").parquet(s"$dimDir/v1/compact/bands")
    spark.emptyDataFrame.select(lit(0L).as("doc_id"),
        lit(Array.empty[Long]).as("sh"), lit(0L).as("nsh"),
        lit("").as("lang")).limit(0)
      .write.mode("overwrite").parquet(s"$dimDir/v1/compact/sh")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dimDir/v1/compact/BUCKETS"),
      "24".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // cadence=2 fires after batchIds 1, 3 — wave 2 probes with the
    // torn v1 namespace present, wave 3 commits a REAL compaction at
    // v3, wave 4 probes the compacted (sh, bands) stores on the hot
    // path; batch equality must hold at every prefix
    for (k <- 2 until 5) {
      Streaming.datasheetMaintain(dimDir, compactEvery = 2)(
        docs.filter($"doc_id" % 5 === k), k.toLong)
      prefixCheck(k)
    }
    assert(java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$dimDir/v3/_CUMULATIVE")),
      "datasheet cadence did not compact at v3")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dimDir/v3/compact/sh")),
      "datasheet compaction wrote no sh store")
    assert(!java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$dimDir/v1/_CUMULATIVE")),
      "test setup: the torn v1 namespace must stay unmarked")
  }

  test("span-index compaction (r19): maintained lineage == plain " +
      "updates at every prefix; compacted store is deduplicated") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val waves = (0 until 4).map(k => docs.filter($"doc_id" % 4 === k))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_spc_$p").toString
    val (dA, oA) = (tmp("dimA"), tmp("outA"))
    val (dB, oB) = (tmp("dimB"), tmp("outB"))
    def rewrites(d: String, o: String) =
      Streaming.streamedRewrites(spark, d, o)
        .collect().map(_.toSeq).toSet
    waves.zipWithIndex.foreach { case (w, k) =>
      Streaming.spanIndexUpdate(dA, oA)(w, k.toLong)
      Streaming.spanIndexMaintain(dB, oB, compactEvery = 2)(w, k.toLong)
      assert(rewrites(dA, oA) == rewrites(dB, oB),
        s"maintained span rewrites diverged from plain at wave ${k + 1}")
    }
    assert(java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$dB/v3/_CUMULATIVE")),
      "span cadence did not compact at v3")
    // the compacted store is the DISTINCT union: re-landing the same
    // corpus must not grow it
    val storeRows =
      spark.read.parquet(s"$dB/v3/compact/spans").count()
    val sliceRows = (0 until 4).map(k =>
      spark.read.parquet(s"$dB/v$k/spans").count()).sum
    assert(storeRows <= sliceRows,
      "compacted span store exceeds the slice union")
    assert(storeRows ==
      spark.read.parquet((0 until 4).map(k => s"$dB/v$k/spans"): _*)
        .select("ng").distinct().count(),
      "compacted span store is not the distinct slice union")
  }

  test("ledger-index compaction (r19): maintained lineage == plain " +
      "updates at every prefix; compacted store == slice union") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val weights = graft.ops.TextAnalysis.classifierWeights(spark, sf)
    val waves = (0 until 4).map(k => docs.filter($"doc_id" % 4 === k))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_ldc_$p").toString
    val (dA, oA) = (tmp("dimA"), tmp("outA"))
    val (dB, oB) = (tmp("dimB"), tmp("outB"))
    def ledger(d: String, o: String) =
      Streaming.streamedLedger(spark, d, o)
        .collect().map(_.toSeq).toSet
    waves.zipWithIndex.foreach { case (w, k) =>
      Streaming.ledgerUpdate(dA, oA, weights)(w, k.toLong)
      Streaming.ledgerMaintain(dB, oB, weights, compactEvery = 2)(
        w, k.toLong)
      assert(ledger(dA, oA) == ledger(dB, oB),
        s"maintained ledger diverged from plain at wave ${k + 1}")
      if (k == 0) {
        // plant a TORN compaction at v0: a plausible-looking
        // compact/shas dir with no _CUMULATIVE marker. Every later
        // wave's history read and the real v3 compaction must ignore
        // it (marker-last protocol), or the ≡-plain checks above fail
        val torn = java.nio.file.Paths.get(s"$dB/v0/compact/shas")
        java.nio.file.Files.createDirectories(torn)
        spark.read.parquet(s"$dB/v0/shas").limit(1)
          .write.mode("overwrite").parquet(torn.toString)
      }
    }
    assert(!java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$dB/v0/_CUMULATIVE")),
      "test setup: the torn v0 namespace must stay unmarked")
    assert(java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$dB/v3/_CUMULATIVE")),
      "ledger cadence did not compact at v3")
    // slices are disjoint by construction (anti-joined at write), so
    // the compacted store must equal their plain union exactly (at
    // this shape every earlier tier is absorbed, so the v3 manifest
    // is the single full store)
    val store = spark.read.parquet(s"$dB/v3/compact/shas")
      .select("h", "keeper").collect().map(_.toSeq).toSet
    val slices = spark.read
      .parquet((0 until 4).map(k => s"$dB/v$k/shas"): _*)
      .select("h", "keeper").collect().map(_.toSeq).toSet
    assert(store == slices,
      "compacted sha store is not the exact slice union")
  }

  test("tiered union-store compaction (r19): small late waves are NOT " +
      "absorbed into the big tier; manifest union == slice union; " +
      "maintained == plain at every prefix") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val weights = graft.ops.TextAnalysis.classifierWeights(spark, sf)
    // two corpus-scale waves, then two tiny ones: the w3 trigger must
    // KEEP the big w1 store (rows > 2x the tiny tails) and write only
    // a small second tier — the amortized-work property the tiering
    // exists for, vs the pre-tiering full rewrite of every trigger
    val tiny = docs.filter($"doc_id" % 2 === 1).orderBy($"doc_id")
      .limit(8).select($"doc_id").as[Long].collect().toSeq.sorted
    val (tinyA, tinyB) = tiny.splitAt(4)
    val waves = Seq(
      docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1 && !$"doc_id".isin(tiny: _*)),
      docs.filter($"doc_id".isin(tinyA: _*)),
      docs.filter($"doc_id".isin(tinyB: _*)))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_tier_$p").toString
    val (dA, oA) = (tmp("dimA"), tmp("outA"))
    val (dB, oB) = (tmp("dimB"), tmp("outB"))
    def ledger(d: String, o: String) =
      Streaming.streamedLedger(spark, d, o)
        .collect().map(_.toSeq).toSet
    waves.zipWithIndex.foreach { case (w, k) =>
      Streaming.ledgerUpdate(dA, oA, weights)(w, k.toLong)
      Streaming.ledgerMaintain(dB, oB, weights, compactEvery = 2)(
        w, k.toLong)
      assert(ledger(dA, oA) == ledger(dB, oB),
        s"maintained ledger diverged from plain at wave ${k + 1}")
    }
    val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dB/v3/_CUMULATIVE")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(manifest.size == 2,
      s"expected a 2-tier manifest (kept big store + small new " +
        s"store), got: $manifest")
    assert(manifest.contains("v1/compact/shas") &&
        manifest.contains("v3/compact/shas"),
      s"manifest does not carry the expected tiers: $manifest")
    val storeUnion = spark.read
      .parquet(manifest.map(rel => s"$dB/$rel"): _*)
      .select("h", "keeper").collect().map(_.toSeq).toSet
    val slices = spark.read
      .parquet((0 until 4).map(k => s"$dB/v$k/shas"): _*)
      .select("h", "keeper").collect().map(_.toSeq).toSet
    assert(storeUnion == slices,
      "tiered manifest union is not the exact slice union")
    // the small tier must really be small: only the tiny waves' rows
    val smallRows = spark.read.parquet(s"$dB/v3/compact/shas").count()
    val tinySliceRows = spark.read
      .parquet(s"$dB/v2/shas", s"$dB/v3/shas").count()
    assert(smallRows == tinySliceRows,
      s"second tier rewrote more than the tails " +
        s"($smallRows vs $tinySliceRows)")
  }

  test("union-store janitor (r19): dead slices and unreferenced tiers " +
      "below the base are deletable; the reader and later waves " +
      "(including the next recompaction) stand on the swept tiers") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val weights = graft.ops.TextAnalysis.classifierWeights(spark, sf)
    val waves = (0 until 8).map(k => docs.filter($"doc_id" % 8 === k))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_ujan_$p").toString
    val (dA, oA) = (tmp("dimA"), tmp("outA"))
    val (dB, oB) = (tmp("dimB"), tmp("outB"))
    def ledger(d: String, o: String) =
      Streaming.streamedLedger(spark, d, o)
        .collect().map(_.toSeq).toSet
    (0 until 6).foreach { k =>
      Streaming.ledgerUpdate(dA, oA, weights)(waves(k), k.toLong)
      Streaming.ledgerMaintain(dB, oB, weights, compactEvery = 2)(
        waves(k), k.toLong)
    }
    // janitor sweep on the maintained lineage: below the newest base,
    // slices are subsumed by the tiers and unreferenced compact
    // stores by later merges — only manifest-referenced store dirs
    // (and the version markers, which carry the lineage's committed
    // set) must survive
    val referenced = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dB/v5/_CUMULATIVE")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSet
    def rmTree(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    var swept = 0
    (0 to 5).foreach { v =>
      rmTree(java.nio.file.Paths.get(s"$dB/v$v/shas")); swept += 1
      if (!referenced.contains(s"v$v/compact/shas")) {
        rmTree(java.nio.file.Paths.get(s"$dB/v$v/compact/shas"))
      }
    }
    assert(swept == 6, "test setup: expected to sweep all 6 slices")
    assert(ledger(dA, oA) == ledger(dB, oB),
      "swept ledger reader diverged from the unswept lineage")
    // later waves, including the w7 recompaction trigger standing on
    // the swept tiers, must still commit and stay equivalent
    (6 until 8).foreach { k =>
      Streaming.ledgerUpdate(dA, oA, weights)(waves(k), k.toLong)
      Streaming.ledgerMaintain(dB, oB, weights, compactEvery = 2)(
        waves(k), k.toLong)
      assert(ledger(dA, oA) == ledger(dB, oB),
        s"post-sweep maintained ledger diverged at wave ${k + 1}")
    }
    assert(java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$dB/v7/_CUMULATIVE")),
      "post-sweep recompaction did not commit its manifest")
  }

  test("incremental IVF-PQ index: streamed slices == batch index; probe == x26") {
    import spark.implicits._
    val embs = Tables.embeddings(spark, sf)
    // the model is FROZEN before any slice lands — the maintainer never
    // retrains (retraining would shift every previously stored code)
    val (cents, books) = graft.ops.Similarity.frozenIvfPqModel(spark, sf)
    val landing = stageLanding("ivfpq", Seq(
      embs.filter($"vec_id" % 2 === 0), embs.filter($"vec_id" % 2 === 1)))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfpq_ckpt").toString
    Streaming.buildIvfPqIndexStream(
      spark.readStream.schema(Streaming.embeddingsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      idxDir, ckpt, cents, books)
    val versions = new java.io.File(idxDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 slices, got ${versions.toSeq}")
    // slice content: the union of committed slices IS the batch index
    def idxRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell".cast("int"), $"codes")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Byte](2).toList)).toSet
    val streamedIdx = Seq(0, 1)
      .map(v => spark.read.parquet(s"$idxDir/v$v/index"))
      .map(idxRows).reduce(_ ++ _)
    assert(streamedIdx == idxRows(graft.ops.Similarity.ivfPqIndex(spark, sf)),
      "streamed slice union diverged from the batch IVF-PQ index")
    // each slice is genuinely cell-partitioned (file-level pruning works)
    assert(new java.io.File(s"$idxDir/v0/index").listFiles()
      .exists(_.getName.startsWith("cell=")), "slice not cell-partitioned")
    // probe over the slices == in-session x26, row for row
    val streamedTop = Streaming.streamedIvfPqTopK(spark, idxDir, cents, books)
      .collect().map(_.toSeq).toSet
    val batchTop = graft.ops.Similarity.ivfPqTopK(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamedTop == batchTop,
      "probe over streamed slices diverged from in-session x26")
    // committed replay is a no-op even with a different frame
    val before = snapshot(s"$idxDir/v1/index")
    assert(before.nonEmpty)
    Streaming.ivfPqIndexUpdate(idxDir, cents, books)(
      embs.filter($"vec_id" % 7 === 0), 1L)
    assert(snapshot(s"$idxDir/v1/index") == before,
      "replayed committed batch rewrote its index slice")
    // ADD-ONLINE teeth: a vector that exists ONLY in the stream — an
    // exact clone of query 0 under a fresh id — lands as slice v2 and
    // must surface as query 0's rank-1 neighbor (cos = 1.0). This is
    // precisely the case a batch-corpus-backed rescore would silently
    // drop: the clone has codes in the index but no row in sfDir's
    // embeddings table.
    val clone = embs.filter($"vec_id" === 0)
      .select(lit(50000000L).as("vec_id"), $"embedding", $"label")
    Streaming.ivfPqIndexUpdate(idxDir, cents, books)(clone, 2L)
    val afterAdd = Streaming.streamedIvfPqTopK(spark, idxDir, cents, books)
      .filter($"query_id" === 0 && $"rank" === 1)
      .select($"neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(afterAdd == Seq(50000000L),
      s"stream-only clone not rank-1 for its query: got $afterAdd")
    // pruning survives the slice UNION: every slice's code scan carries
    // the pushed cell IN-list (one PartitionFilters per committed slice)
    val plan = Streaming.streamedIvfPqTopK(spark, idxDir, cents, books)
      .queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cell".r.findAllIn(plan).size
    assert(pruned == 3,
      s"expected 3 pruned slice scans (one per committed version), got $pruned")
  }

  test("streamed semantic decontamination: 2-wave clean union == batch " +
      "x79; planted stream-only leak flagged, clean plant survives") {
    import spark.implicits._
    val embs = Tables.embeddings(spark, sf)
    // model side frozen BEFORE the stream: centroids + bench cell store
    val cents = graft.ops.Similarity.centroids(spark, sf)
    val benchDir =
      java.nio.file.Files.createTempDirectory("graft_sd_bench").toString
    Streaming.buildBenchCellStore(embs, benchDir, cents)
    // two stream-only vectors: a LEAK (exact clone of bench vec 0 under
    // a train id — must be flagged and absent from clean) and a CLEAN
    // plant (clone of train vec 1, cos ≤ 0.6 to every bench vector —
    // must survive; its presence proves wave 2's plants were really
    // processed, not dropped by the landing)
    val leak = embs.filter($"vec_id" === 0)
      .select(lit(50000001L).as("vec_id"), $"embedding", $"label")
    val clean = embs.filter($"vec_id" === 1)
      .select(lit(50000002L).as("vec_id"), $"embedding", $"label")
    val landing = stageLanding("semdecont", Seq(
      embs.filter($"vec_id" % 2 === 0),
      embs.filter($"vec_id" % 2 === 1).unionByName(leak).unionByName(clean)))
    val outDir =
      java.nio.file.Files.createTempDirectory("graft_sd_out").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft_sd_ckpt").toString
    Streaming.buildSemDecontStream(
      spark.readStream.schema(Streaming.embeddingsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      benchDir, outDir, ckpt, cents)
    val streamed = Streaming.streamedSemDecontClean(spark, outDir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = graft.ops.Similarity.semanticDecontaminateCelled(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val cleanPlant = clean.collect()
      .map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(!streamed.exists(_._1 == 50000001L),
      "planted benchmark clone leaked into the streamed clean slice")
    assert(streamed == batch ++ cleanPlant,
      s"streamed clean diverged from batch x79 + clean plant: " +
        s"missing=${(batch ++ cleanPlant) -- streamed take 3} " +
        s"extra=${streamed -- (batch ++ cleanPlant) take 3}")
  }

  test("streamed snapshot reconciliation: 2-wave deltas + stream-close " +
      "removed pass == batch x82") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // model side frozen BEFORE the stream: the old-snapshot hash store
    val oldDir =
      java.nio.file.Files.createTempDirectory("graft_snap_old").toString
    Streaming.buildOldSnapshotStore(docs, oldDir)
    // the NEW crawl arrives in two waves; added/changed land per batch,
    // removed is only knowable at stream close
    val landing = stageLanding("snap", Seq(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1)))
    val outDir =
      java.nio.file.Files.createTempDirectory("graft_snap_out").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft_snap_ckpt").toString
    Streaming.buildSnapshotDiffStream(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      oldDir, outDir, ckpt)
    // it really ran incrementally: one committed slice per wave
    val versions = new java.io.File(outDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2,
      s"expected 2 micro-batches, got ${versions.toSeq}")
    val streamed = Streaming.streamedSnapshotDiff(spark, oldDir, outDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.ops.Pipeline.snapshotDiff(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch,
      s"streamed reconciliation diverged from batch x82: " +
        s"missing=${(batch -- streamed).take(3)} " +
        s"extra=${(streamed -- batch).take(3)}")
    // non-vacuity: all three statuses crossed the stream boundary
    assert(streamed.map(_._2) == Set("added", "removed", "changed"))
  }

  test("incremental near-dup dedup: 2-wave streamed pairs == batch x18") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // wave 1 lands x18's history slice, wave 2 its increment slice —
    // the streamed probe of wave 2 against wave 1's committed index
    // must reproduce the batch increment-vs-history join exactly
    val landing = stageLanding("bnd", Seq(
      docs.filter($"doc_id" % 5 =!= 0), docs.filter($"doc_id" % 5 === 0)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_bnd_dim").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft_bnd_pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bnd_ckpt").toString
    Streaming.buildBandIndex(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, pairsDir, ckpt)
    // it really ran incrementally: two committed index slices, two pair
    // slices (batch 0's empty by construction)
    val versions = new java.io.File(dimDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 micro-batches, got ${versions.toSeq}")
    val streamed = Streaming.streamedNearDupPairs(spark, dimDir, pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.ops.Dedup.incrementalDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty, "fixture must produce cross-wave pairs")
    assert(streamed == batch,
      "streamed incremental pairs diverged from batch x18")

    // a pair slice whose batch never committed (crash between the pair
    // write and the version marker) must be invisible to readers: plant
    // an orphan b99 with no v99/_SUCCESS and prove the union ignores it
    Streaming.streamedNearDupPairs(spark, dimDir, pairsDir)
      .limit(1).write.mode("overwrite").parquet(s"$pairsDir/b99")
    val gated = Streaming.streamedNearDupPairs(spark, dimDir, pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gated == batch, "uncommitted pair slice leaked into the union")

    // replay of an already-committed batch is a NO-OP: the marker stands,
    // so the update must not tear down and rewrite the version (the
    // half-committed-read hazard) — even when handed a DIFFERENT batch
    // frame, whose recompute would visibly change the pair slice
    val beforeV1 = snapshot(s"$dimDir/v1/docs")
    val beforeB1 = snapshot(s"$pairsDir/b1")
    assert(beforeV1.nonEmpty && beforeB1.nonEmpty)
    Streaming.bandIndexUpdate(dimDir, pairsDir)(
      docs.filter($"doc_id" % 7 === 0), 1L)
    assert(snapshot(s"$dimDir/v1/docs") == beforeV1,
      "replayed committed batch rewrote its version dir")
    assert(snapshot(s"$pairsDir/b1") == beforeB1,
      "replayed committed batch rewrote its pair slice")

    // the pairs dir shares the dim/checkpoint lifecycle: a fresh
    // checkpoint + fresh dim over a pairs dir holding a dead lineage's
    // slices must be refused, not silently unioned
    val dim2 = java.nio.file.Files.createTempDirectory("graft_bnd_dim2").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_bnd_ck2").toString
    val ex = intercept[IllegalArgumentException] {
      Streaming.buildBandIndex(
        spark.readStream.schema(Streaming.documentsRawSchema)
          .option("maxFilesPerTrigger", 1).parquet(landing),
        dim2, pairsDir, ckpt2)
    }
    assert(ex.getMessage.contains("another stream lineage"))
  }

  test("band-index compaction (r19): maintained lineage ≡ plain updates " +
      "across the compaction boundary, the verify probe prunes to " +
      "candidate buckets, a torn compact/ is invisible, and a janitor " +
      "sweep below the base keeps the pair union and the next wave") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val waves = (0 until 5).map(i => docs.filter($"doc_id" % 5 === i))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_bic_$p").toString
    def pairSet(d: String, p: String) =
      Streaming.streamedNearDupPairs(spark, d, p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet

    // control: plain updates, never compacted
    val (dA, pA) = (tmp("dimA"), tmp("pairsA"))
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.bandIndexUpdate(dA, pA)(w, i.toLong)
    }
    val control = pairSet(dA, pA)
    assert(control.nonEmpty, "fixture must produce cross-wave pairs")

    // maintained lineage: compactions at v1 and v3; small bucket
    // target so the docs-store pruning is visible as files-not-read
    val (dB, pB) = (tmp("dimB"), tmp("pairsB"))
    (0 until 4).foreach { i =>
      Streaming.bandIndexUpdate(dB, pB)(waves(i), i.toLong)
      if ((i + 1) % 2 == 0)
        Streaming.compactBandIndex(spark, dB, targetRowsPerBucket = 32L)
    }
    for (v <- Seq(1L, 3L))
      assert(java.nio.file.Files.isRegularFile(
          java.nio.file.Paths.get(s"$dB/v$v/_CUMULATIVE")),
        s"no _CUMULATIVE at v$v — compaction did not commit")
    val docBuckets = new java.io.File(s"$dB/v3/compact/docs").listFiles()
      .count(_.getName.startsWith("kb_bucket="))
    assert(docBuckets > 4,
      s"expected a multi-bucket docs store, got $docBuckets buckets")

    // the verify's hist side for a narrow candidate set touches
    // strictly fewer docs-store files than there are buckets — the
    // same files-∝-probes gate as the keep-best membership store
    val narrowCand = docs.orderBy($"doc_id").limit(5)
      .select($"doc_id".as("id_a"), $"doc_id".as("id_b"))
    val (_, histNarrow) =
      Streaming.bandVerifyInputs(spark, dB, Seq(0L, 1L, 2L, 3L), narrowCand)
    val touched = histNarrow
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
      .filter(_.contains("/compact/docs/"))
    assert(touched.nonEmpty && touched.length < docBuckets / 2,
      s"narrow candidates touched ${touched.length} docs files of " +
        s"$docBuckets buckets — partition pruning is not happening")

    // wave 5 probes the v3 compaction + v4 tail on the hot path; the
    // accumulated pair union must equal the never-compacted control
    Streaming.bandIndexUpdate(dB, pB)(waves(4), 4L)
    assert(pairSet(dB, pB) == control,
      "maintained lineage's pairs diverged from plain updates")

    // janitor: version dirs strictly below the v3 base go entirely —
    // pair slices b0..b2 stay committed (gated on the base), and a
    // fresh reader + another wave still work. Wave 5 re-lands wave 0's
    // doc ids, so its cross pairs against history are nonempty too.
    (0 until 3).foreach(v => deleteRec(s"$dB/v$v"))
    assert(new java.io.File(dB).listFiles()
        .count(f => f.isDirectory && f.getName.matches("v\\d+")) == 2,
      "janitor left pre-compaction versions behind")
    assert(pairSet(dB, pB) == control,
      "post-janitor pair union lost slices below the compaction base")
    Streaming.bandIndexUpdate(dB, pB)(waves(0), 5L)
    val withReplay = pairSet(dB, pB)
    assert(withReplay.size > control.size,
      "post-janitor wave over the compacted base emitted no new pairs")

    // torn compaction: garbage compact/ artifacts without the marker
    // must be invisible — the next wave falls back to the all-slices
    // scan and the pair union matches a never-compacted lineage
    val (dC, pC) = (tmp("dimC"), tmp("pairsC"))
    val (dD, pD) = (tmp("dimD"), tmp("pairsD"))
    (0 until 2).foreach { i =>
      Streaming.bandIndexUpdate(dC, pC)(waves(i), i.toLong)
      Streaming.bandIndexUpdate(dD, pD)(waves(i), i.toLong)
    }
    spark.emptyDataFrame.select(lit(0).as("band"), lit(0L).as("bh"),
        lit(0L).as("doc_id")).limit(0)
      .write.mode("overwrite").parquet(s"$dC/v1/compact/bands")
    spark.emptyDataFrame.select(lit(0L).as("doc_id"),
        lit(Array.empty[Long]).as("sh"), lit(0L).as("nsh")).limit(0)
      .write.mode("overwrite").parquet(s"$dC/v1/compact/docs")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dC/v1/compact/BUCKETS"),
      "24".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Streaming.bandIndexUpdate(dC, pC)(waves(2), 2L)
    Streaming.bandIndexUpdate(dD, pD)(waves(2), 2L)
    assert(pairSet(dC, pC) == pairSet(dD, pD),
      "a torn compact/ dir (no _CUMULATIVE) changed the probe's result")
    // a later compaction commits fresh at the top; the torn v1
    // namespace stays on disk, permanently untrusted
    Streaming.compactBandIndex(spark, dC)
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$dC/v2/_CUMULATIVE")))
    assert(spark.read.parquet(s"$dC/v2/compact/bands").count() > 0,
      "retried compaction left no band rows")
    Streaming.bandIndexUpdate(dC, pC)(waves(3), 3L)
    Streaming.bandIndexUpdate(dD, pD)(waves(3), 3L)
    assert(pairSet(dC, pC) == pairSet(dD, pD),
      "post-retry compacted probe diverged from the plain lineage")
  }

  test("tiered band-index compaction (r19): small late waves keep the " +
      "big tier unabsorbed; probes and the verify span BOTH tiers' " +
      "bucket widths; maintained == plain at every prefix") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val tiny = docs.filter($"doc_id" % 2 === 1).orderBy($"doc_id")
      .limit(8).select($"doc_id").as[Long].collect().toSeq.sorted
    val (tinyA, tinyB) = tiny.splitAt(4)
    // w4 re-lands wave 0's docs so the final probe carries real
    // cross-tier candidates (id_b rows living in BOTH tiers)
    val waves = Seq(
      docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1 && !$"doc_id".isin(tiny: _*)),
      docs.filter($"doc_id".isin(tinyA: _*)),
      docs.filter($"doc_id".isin(tinyB: _*)),
      docs.filter($"doc_id" % 2 === 0))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_btl_$p").toString
    def pairSet(d: String, p: String) =
      Streaming.streamedNearDupPairs(spark, d, p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val (dA, pA) = (tmp("dimA"), tmp("pairsA"))
    val (dB, pB) = (tmp("dimB"), tmp("pairsB"))
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.bandIndexUpdate(dA, pA)(w, i.toLong)
      Streaming.bandIndexMaintain(dB, pB, compactEvery = 2)(w, i.toLong)
      assert(pairSet(dA, pA) == pairSet(dB, pB),
        s"tiered band lineage diverged from plain at wave ${i + 1}")
    }
    val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dB/v3/_CUMULATIVE")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(manifest == Seq("v1/compact", "v3/compact"),
      s"expected the big tier kept beside the small one, got: $manifest")
    val smallRows = spark.read.parquet(s"$dB/v3/compact/docs")
      .count()
    val tinySliceRows = spark.read
      .parquet(s"$dB/v2/docs", s"$dB/v3/docs").count()
    assert(smallRows == tinySliceRows,
      s"second band tier rewrote more than the tails " +
        s"($smallRows vs $tinySliceRows)")
    // the wave-5 probe (re-landed wave-0 ids) found its pairs THROUGH
    // the 2-tier manifest: cross pairs against tier-1 history exist
    assert(pairSet(dB, pB).exists { case (_, hist, _) =>
        hist % 2 == 0 },
      "no cross pairs against the big tier's docs — the multi-tier " +
        "probe read is not reaching tier 1")
  }

  /** One torn-write case: a versioned dim's updater, the commit marker
    * whose absence defines the torn state, a canonical reader snapshot,
    * and the two waves to drive it with. The registry below enumerates
    * EVERY versioned dim in Streaming.scala, so adding an updater
    * without a torn-write entry fails the enumeration check. */
  private case class TornDim(name: String,
      update: (org.apache.spark.sql.DataFrame, Long) => Unit,
      marker: Long => java.nio.file.Path,
      state: () => Any,
      waves: Seq[org.apache.spark.sql.DataFrame])

  test("torn write between slice and marker: invisible, then healed — every versioned dim") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val mid = docs.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    val rangeWaves = Seq(docs.filter($"doc_id" <= mid),
      docs.filter($"doc_id" > mid))
    val fifthWaves = Seq(docs.filter($"doc_id" % 5 =!= 0),
      docs.filter($"doc_id" % 5 === 0))
    val embs = Tables.embeddings(spark, sf)
    val (cents, books) = graft.ops.Similarity.frozenIvfPqModel(spark, sf)
    val weights = graft.ops.TextAnalysis.classifierWeights(spark, sf)
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_torn_$p").toString
    def rows(df: org.apache.spark.sql.DataFrame): Any = {
      val r = df.collect().map(_.toSeq)
      (r.length, r.toSet) // count + set: a duplicate emission must differ
    }
    def vMark(dir: String)(id: Long) =
      java.nio.file.Paths.get(s"$dir/v$id/_SUCCESS")

    val registry: Seq[TornDim] = {
      val uDim = tmp("ulm")
      val bDim = tmp("blk")
      val (nDim, nPairs) = (tmp("bnd_dim"), tmp("bnd_pairs"))
      val (sDim, sOut) = (tmp("spn_dim"), tmp("spn_out"))
      val (dDim, dOut) = (tmp("dcr_dim"), tmp("dcr_out"))
      Streaming.benchSpanDim(docs.filter($"doc_id" % 17 === 0), dDim)
      val (lDim, lOut) = (tmp("ldg_dim"), tmp("ldg_out"))
      val dsDim = tmp("dsh")
      val iDir = tmp("ivfpq")
      val (k2Dim, k2Pairs, k2Surv) =
        (tmp("kbd_dim"), tmp("kbd_pairs"), tmp("kbd_surv"))
      // gram-index waves: the dictionary UPDATE stream (adds derived
      // from each wave's doc ids); frozen order from the full universe
      val gIdx = tmp("gram_idx")
      val gramWaves = fifthWaves.map(w =>
        graft.ops.LocationResolve.gramScaleDim(
            w.select($"doc_id".as("p_partkey")))
          .withColumn("vorder", lit(0L)).withColumn("op", lit("add")))
      val gOrder = graft.ops.LocationResolve.gramOrderOf(
        graft.ops.LocationResolve.gramScaleDim(
          docs.select($"doc_id".as("p_partkey"))), "vkey").localCheckpoint()
      val gProbes = graft.ops.LocationResolve.gramProbes(
          docs.select($"doc_id".as("p_partkey")))
        .select($"norm".as("fnorm"))
      val (sdBench, sdOut) = (tmp("sd_bench"), tmp("sd_out"))
      Streaming.buildBenchCellStore(embs, sdBench, cents)
      val (snapOld, snapOut) = (tmp("snap_old"), tmp("snap_out"))
      Streaming.buildOldSnapshotStore(docs, snapOld)
      Seq(
        TornDim("unigram model", Streaming.unigramModelUpdate(uDim),
          vMark(uDim),
          () => Streaming.unigramModel(spark, uDim).map(rows), rangeWaves),
        TornDim("bloom blocklist", Streaming.blocklistUpdate(bDim),
          vMark(bDim),
          () => Streaming.blocklist(bDim).map(_.toSeq), rangeWaves),
        TornDim("band index", Streaming.bandIndexUpdate(nDim, nPairs),
          vMark(nDim),
          () => rows(Streaming.streamedNearDupPairs(spark, nDim, nPairs)),
          fifthWaves),
        TornDim("span index", Streaming.spanIndexUpdate(sDim, sOut),
          vMark(sDim),
          () => rows(Streaming.streamedRewrites(spark, sDim, sOut)),
          rangeWaves),
        TornDim("decontam rewrite", Streaming.decontamRewriteUpdate(dDim, dOut),
          id => java.nio.file.Paths.get(s"$dOut/b$id/_SUCCESS"),
          () => rows(Streaming.streamedDecontamRewrites(spark, dOut)),
          rangeWaves),
        TornDim("rejection ledger", Streaming.ledgerUpdate(lDim, lOut, weights),
          vMark(lDim),
          () => rows(Streaming.streamedLedger(spark, lDim, lOut)),
          rangeWaves),
        TornDim("datasheet", Streaming.datasheetUpdate(dsDim),
          vMark(dsDim),
          () => rows(Streaming.streamedDatasheet(spark, dsDim)), rangeWaves),
        TornDim("ivf-pq index", Streaming.ivfPqIndexUpdate(iDir, cents, books),
          vMark(iDir),
          () => rows(Streaming.streamedIvfPqTopK(spark, iDir, cents, books)),
          Seq(embs.filter($"vec_id" % 2 === 0), embs.filter($"vec_id" % 2 === 1))),
        TornDim("keep-best delta survivors",
          Streaming.keepBestDeltaUpdate(k2Dim, k2Pairs, k2Surv),
          vMark(k2Surv),
          () => rows(Streaming.streamedKeepBestDeltaSurvivors(spark, k2Surv)),
          fifthWaves),
        TornDim("gram dictionary index",
          Streaming.gramIndexUpdate(gIdx, gOrder),
          vMark(gIdx),
          () => rows(Streaming.streamedGramResolve(spark, gIdx, gOrder,
            gProbes)),
          gramWaves),
        TornDim("semantic decontamination",
          Streaming.semDecontUpdate(sdBench, sdOut, cents),
          vMark(sdOut),
          () => rows(Streaming.streamedSemDecontClean(spark, sdOut)),
          Seq(embs.filter($"vec_id" % 2 === 0),
            embs.filter($"vec_id" % 2 === 1))),
        TornDim("snapshot diff",
          Streaming.snapshotDiffUpdate(snapOld, snapOut),
          vMark(snapOut),
          () => rows(Streaming.streamedSnapshotDiff(spark, snapOld, snapOut)),
          rangeWaves))
    }

    // enumeration check: the registry must name every versioned-dim
    // updater in Streaming.scala — a new `fooUpdate` without a torn
    // entry here fails loudly instead of shipping unexercised
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/Streaming.scala")))
    val updaters = "def (\\w+Update)\\(".r.findAllMatchIn(src)
      .map(_.group(1)).toSet
    val covered = Set("unigramModelUpdate", "blocklistUpdate",
      "bandIndexUpdate", "spanIndexUpdate", "decontamRewriteUpdate",
      "ledgerUpdate", "datasheetUpdate", "ivfPqIndexUpdate",
      "keepBestDeltaUpdate", "gramIndexUpdate",
      "semDecontUpdate", "snapshotDiffUpdate")
    assert(updaters == covered,
      s"torn-write registry out of sync with Streaming.scala: " +
        s"unexercised=${(updaters -- covered).mkString(", ")} " +
        s"stale=${(covered -- updaters).mkString(", ")}")

    registry.foreach { dim =>
      withClue(s"[${dim.name}] ") {
        // wave 0 commits; wave 1 commits; capture both states
        dim.update(dim.waves(0), 0L)
        val s0 = dim.state()
        dim.update(dim.waves(1), 1L)
        val sFull = dim.state()
        assert(sFull != s0,
          "wave 2 left the reader state unchanged — vacuous fixture")
        // TORN: kill between the slice writes and the marker — the
        // marker is the batch's single commit point, so deleting it
        // reproduces the crash state exactly (slices on disk, commit
        // absent). Readers must serve the pre-crash state.
        java.nio.file.Files.delete(dim.marker(1L))
        assert(dim.state() == s0,
          "a torn (marker-less) slice leaked into the reader")
        // HEAL: the stream engine replays batch 1 after the crash
        // (offsets were logged, the epoch was not). The updater must
        // overwrite the partial slices and re-commit — converging on
        // exactly the unbroken run's state, no duplicates.
        dim.update(dim.waves(1), 1L)
        assert(dim.state() == sFull,
          "replaying the torn batch did not converge on the unbroken state")
      }
    }
  }

  test("incremental bloom blocklist: streamed sketch byte-identical to batch") {
    import spark.implicits._
    // benchmark docs arrive in two waves (two eval suites landing)
    val bench = Tables.documents(spark, sf).filter($"doc_id" % 17 === 0)
    val landing = stageLanding("blk", Seq(
      bench.filter($"doc_id" % 2 === 0), bench.filter($"doc_id" % 2 =!= 0)))
    val dimDir = java.nio.file.Files.createTempDirectory("graft_blk_dim").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_blk_ckpt").toString
    Streaming.buildBlocklist(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      dimDir, ckpt)
    val versions = new java.io.File(dimDir).listFiles()
      .filter(_.getName.matches("v\\d+"))
    assert(versions.length == 2, s"expected 2 micro-batches, got ${versions.toSeq}")
    // bit-OR merge ⇒ the accumulated sketch equals the batch-built one
    // BYTE for byte (stronger than flagged-set equality: every future
    // probe of either sketch gives identical answers by construction)
    val streamed = Streaming.blocklist(dimDir).get
    val batchSketch = graft.ops.Dedup.bloomSketchOf(bench)
    assert(java.util.Arrays.equals(streamed, batchSketch),
      "streamed blocklist diverged from the batch-built sketch")
  }

  test("tiered keep-best (r20, VERDICT #4): the bucket-dir bound " +
      "forces a major merge — one manifest root — and the reader " +
      "stays == batch x59; a single-root manifest's cumulative drop " +
      "store is pruned empty") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
    val waves = (0 until 4).map(i => docs.filter($"doc_id" % 4 === i))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbdir_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(_.toSeq).toSet
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
        compactEvery = 2, maxKeptBucketDirs = 0L)(w, i.toLong)
    }
    val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$survDir/v3/_CUMULATIVE")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(manifest == Seq("v3/compact"),
      s"bucket-dir bound 0 must force a single-root manifest: $manifest")
    // single-root manifest => minKeptVer == top => every cumulative
    // drop entry is <= it and must be pruned (r20, ADVICE: the store
    // applyKbDrops broadcasts every wave must not grow forever)
    assert(spark.read.parquet(s"$survDir/v3/compact/drops").count() == 0,
      "single-root manifest must prune the cumulative drop store empty")
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == rows(graft.ops.Dedup.dedupKeepBest(spark, sf)),
      "major-merged lineage diverged from batch x59")
  }

  test("janitorDeletablePaths (r20, ADVICE) IS the janitor contract: " +
      "deleting exactly that set leaves the tiered keep-best reader, " +
      "the next wave and the next recompaction unchanged") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
    // the late-arrival shape of the tiered test: the v3 manifest keeps
    // the big v1 tier, so kept roots live under an OLD version dir —
    // exactly what the pre-r19 "delete old version dirs" rule destroys
    val late = graft.ops.Dedup.dedupKeepBest(spark, sf)
      .filter($"doc_id" =!= $"cluster_id")
      .select($"cluster_id").distinct().orderBy($"cluster_id")
      .limit(8).as[Long].collect().toSeq
    val early = docs.filter(!$"doc_id".isin(late: _*))
    val waves = Seq(
      early.filter($"doc_id" % 7 =!= 0),
      early.filter($"doc_id" % 7 === 0),
      docs.filter($"doc_id".isin(late.take(late.size / 2): _*)),
      docs.filter($"doc_id".isin(late.drop(late.size / 2): _*)))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_kbjan_$p").toString
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(_.toSeq).toSet
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
        compactEvery = 2)(w, i.toLong)
    }
    val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$survDir/v3/_CUMULATIVE")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(manifest.contains("v1/compact") && manifest.size > 1,
      s"fixture must keep an old-version tier for the sweep test: $manifest")
    // the footer-count helper the tier metrics stand on must agree
    // with a real count on a bucketed store — also with a stray part
    // file under a `_temporary` attempt dir, which Spark's file index
    // skips
    val store = s"$survDir/v3/compact/attrs"
    val stray = java.nio.file.Paths.get(s"$store/_temporary/0")
    java.nio.file.Files.createDirectories(stray)
    val part = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    java.nio.file.Files.copy(part, stray.resolve(part.getFileName))
    assert(graft.streaming.VersionedStore(store, spark).rowCount(store)
        == spark.read.parquet(store).count(),
      "rowCount diverged from count() on a bucketed store")
    deleteRec(s"$store/_temporary")
    val deletable = Streaming.janitorDeletablePaths(survDir)
    // the contract's safety half: nothing protected is offered — also
    // when the lineage dir is spelled with a `.` segment
    for (offered <- Seq(deletable,
        Streaming.janitorDeletablePaths(s"$survDir/./")))
      assert(!offered.exists(p => manifest.exists(r => p.contains(r)) ||
          p.endsWith("_CUMULATIVE") || p.endsWith("_SUCCESS")),
        s"deletable set offers a protected path: $offered")
    // its usefulness half: the raw slices below the base ARE offered
    assert(deletable.exists(_.contains("/v0/")),
      s"deletable set misses pre-compaction slices: $deletable")
    deletable.foreach(deleteRec)
    val batch = rows(graft.ops.Dedup.dedupKeepBest(spark, sf))
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == batch,
      "post-janitor reader diverged — the deletable set broke a tier")
    // the next wave (probes) and its cadence trigger (recompaction
    // over swept history) must both stand
    Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
      compactEvery = 1)(docs.filter($"doc_id" % 7 === 0), 4L)
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
        == batch,
      "post-janitor wave + recompaction diverged from batch x59")
  }
}
