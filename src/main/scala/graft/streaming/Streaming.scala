package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import scala.util.chaining._

/** Structured Streaming surface — the engine's answer to the reference's
  * periodic 6-hour fetch loop with checkpoint resume (Main.py:103,
  * 109-163, 466-518): `readStream → transforms → writeStream` with
  * watermarks, windowed/session aggregations, stateful processing and
  * built-in checkpointing. Each streaming plan is the SAME logical shape
  * as its batch sibling in ops.Events; StreamingSpec asserts equality of
  * results when the parquet fixture is replayed as a stream.
  */
object Streaming {

  /** events schema as stored, with `ts` typed to match the fixture
    * generation at hand (see [[graft.Tables.events]]): TIMESTAMP(NANOS)
    * fixtures read `ts` as a nanos long via nanosAsLong; TIMESTAMP(MICROS,
    * NTZ) fixtures read it as TimestampNTZ. The file stream source needs
    * the schema up front, so probe the footer once through the batch
    * reader (driver-side, metadata only — no data scan). */
  private def eventsRawSchema(spark: SparkSession, sfDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType), // nanos-long or µs-NTZ, per fixture
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** Stage a single fixture file into a deterministic per-source /tmp
    * directory via symlink (the file-stream source requires a directory —
    * this is what a real deployment's landing directory is). The dir is
    * reused across calls: a fresh createTempDirectory per call leaked a
    * dir+symlink each invocation. */
  private def stagedStreamDir(prefix: String, sfDir: String,
      fileName: String): String = {
    val src = java.nio.file.Paths.get(s"$sfDir/$fileName")
    val dir = java.nio.file.Paths.get(
      s"/tmp/graft_${prefix}_stream_" + sfDir.replaceAll("[^a-zA-Z0-9.]", "_"))
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve(fileName)
    if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      java.nio.file.Files.createSymbolicLink(link, src)
    dir.toString
  }

  /** S3-equivalent source: replay the events parquet as a file stream.
    * The `ts` normalization mirrors [[graft.Tables.events]] so the
    * streamed and batch frames are column-identical. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(eventsRawSchema(spark, sfDir))
      .parquet(stagedStreamDir("events", sfDir, "events.parquet"))
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", raw("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** e01 streaming sibling: watermarked tumbling-window aggregation. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"),
        col("total_value"))

  /** e02 streaming sibling: watermarked session windows per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  /** Streaming dedup with bounded state (first event per user+type). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  val documentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents corpus replayed as a file stream (same landing-dir
    * staging as [[eventsStream]]). Documents carry no event time, so
    * arrival time is synthesized deterministically from doc_id — exactly
    * what an ingest pipeline's landing timestamp is. */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(documentsRawSchema)
      .parquet(stagedStreamDir("docs", sfDir, "documents.parquet"))
      // offset away from the epoch: a ts exactly AT the initial watermark
      // (doc_id 0 → 1970-01-01T00:00:00) is judged late and dropped
      .withColumn("ts", expr("timestamp_micros(doc_id + 86400000000)"))

  /** Streaming exact dedup over a document stream — the curation analog
    * of the reference's periodic re-run: each micro-batch keeps only
    * content hashes not already seen within the watermark, so the
    * batch-x10 exact dedup becomes continuous. State is the seen-hash
    * set BOUNDED by the watermark (hashes older than the horizon are
    * evicted — the requirement for an unbounded ingest stream; an
    * infinite-retention dedup would be `dropDuplicates`, whose state
    * only grows). Emits (doc_id, content_hash) of the kept docs.
    * StreamingSpec proves the kept hash set ≡ batch x10's hash set over
    * the finite replay. */
  def docDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", sha2(col("text"), 256))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("content_hash"))

  /** x52 streaming sibling: deterministic mixture admission over a
    * document stream. STATELESS by construction — admission is a pure
    * function of (doc_id, source) via the shared
    * [[graft.ops.Sampling.admitPermille]] hash and
    * [[graft.ops.Sampling.sourceWeight]] — so there is no state store,
    * no watermark, and replays/restarts admit the identical set the
    * batch x52 does (StreamingSpec proves set equality over the finite
    * replay). This is the property that makes hash admission (never
    * `rand()`) the right mixing primitive for a continuous-ingest
    * pipeline. */
  def mixtureAdmit(docs: DataFrame): DataFrame = {
    val w = graft.ops.Sampling.sourceWeight(col("source"))
    docs
      .filter(graft.ops.Sampling.admitPermille(col("doc_id")) < w)
      .select(col("doc_id"), col("source"),
        w.cast("long").as("weight_permille"))
  }

  /** x69 streaming sibling: model-based quality filtering AT INGEST —
    * the point a crawl pipeline actually runs its classifier, before
    * anything lands. STATELESS like [[mixtureAdmit]]: the score is a
    * pure function of the text and the FROZEN trained weights (the
    * batch-trained [[graft.ops.TextAnalysis.classifierWeights]] model,
    * shipped with the query as a constant array — exactly how a crawl
    * pipeline deploys an offline-trained classifier) via the shared
    * [[graft.ops.TextAnalysis.classifierScoreMicro]] path (hashed
    * bag-of-words, no vocabulary dim, no state store, no watermark), so
    * replays admit exactly the batch x69 kept set. */
  def classifierAdmit(docs: DataFrame, weights: Array[Long]): DataFrame = {
    graft.functions.CustomExprs.register(docs.sparkSession)
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("feat_sum_micro",
        graft.ops.TextAnalysis.classifierScoreMicro(col("w"), weights))
      .filter(col("feat_sum_micro") > 0)
      .select(col("doc_id"), col("lang"), col("feat_sum_micro"))
  }

  /** STREAM-STATIC enrichment — the standard slowly-changing-dimension
    * pattern of a streaming pipeline: each micro-batch of events joins
    * a static (batch) dimension, re-planned per batch so dim updates
    * between batches are picked up, with the dim broadcast (no stream
    * shuffle, no state store — stream-static joins need none). Left
    * join: an event never blocks on a missing dim row. StreamingSpec
    * proves the finite replay equals the batch join exactly. */
  def staticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** x45 streaming sibling — the corpus-self-trained unigram LM
    * maintained INCREMENTALLY: foreachBatch merges each micro-batch's
    * word counts into a versioned parquet count dim (the x18
    * persisted-index pattern applied to the LM model — the reference's
    * 6-hour-cycle analog for the curation side). Count merge is
    * associative and commutative, so after any ingested prefix —
    * regardless of micro-batch boundaries or arrival order — the dim
    * equals the batch-trained model on that prefix, and end-of-stream
    * scoring with it reproduces batch x45 bit-exactly (StreamingSpec,
    * 2-batch replayed split).
    *
    * Batch b merges the newest committed version below b into `v<b>`;
    * readers take the newest committed version. Commit protocol:
    * [[VersionedStore]]. The tokenizer and count shapes are shared with
    * batch x45 ([[graft.ops.TextAnalysis.unigramWords]]/`unigramCounts`)
    * so the two trainers cannot drift. */
  def unigramModelUpdate(dimDir: String)(batch: DataFrame, batchId: Long): Unit =
    VersionedStore(dimDir, batch.sparkSession).wave(batchId) { prior =>
      val counts = graft.ops.TextAnalysis.unigramCounts(
        graft.ops.TextAnalysis.unigramWords(batch))
      val merged =
        if (prior.isEmpty) counts
        else batch.sparkSession.read.parquet(s"$dimDir/v${prior.max}")
          .union(counts).groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
      merged.write.mode("overwrite").parquet(s"$dimDir/v$batchId")
    }

  /** The newest committed incremental model, or None before batch 0. */
  def unigramModel(spark: SparkSession, dimDir: String): Option[DataFrame] =
    VersionedStore(dimDir, spark).versions.lastOption
      .map(v => spark.read.parquet(s"$dimDir/v$v"))

  /** Run the incremental trainer over a documents stream to completion
    * (AvailableNow over the staged landing dir). */
  def trainUnigramModel(docs: DataFrame, dimDir: String,
      ckptDir: String): Unit = {
    VersionedStore(dimDir, docs.sparkSession).startLineage(ckptDir)
    runAvailableNow(docs, ckptDir)(
      _.foreachBatch(unigramModelUpdate(dimDir) _))
  }

  /** x27 streaming sibling — the decontamination BLOCKLIST maintained
    * incrementally: each micro-batch of newly-evaluated benchmark docs
    * bit-ORs its shingle sketch into the persisted Bloom blocklist
    * ("never train on anything we have EVER evaluated" needs exactly
    * this: the blocklist only grows, and the sketch stays a fixed
    * [[graft.ops.Dedup.BloomNumBits]] however many benchmarks
    * accumulate). Bloom insertion is an idempotent, commutative bitwise
    * OR, so the merged sketch is BYTE-IDENTICAL to the batch-built one
    * regardless of micro-batch boundaries, arrival order, or replays —
    * a stronger streaming ≡ batch claim than set equality, and
    * StreamingSpec asserts it at the byte level. Same versioned-dir
    * shape as [[unigramModelUpdate]]: `sketch.bin` is written before the
    * marker and a committed replay is a no-op, so no reader sees a
    * half-written sketch under a standing `_SUCCESS`. */
  def blocklistUpdate(dimDir: String)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val store = VersionedStore(dimDir, batch.sparkSession)
    def bytesOf(bf: BloomFilter): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    store.wave(batchId) { prior =>
      val bytes = graft.ops.Dedup.bloomSketchOf(batch)
      def priorSketch = store.readBytes(s"$dimDir/v${prior.max}/sketch.bin")
      // an empty micro-batch still COMMITS (an empty sketch / the carried
      // prior): every processed batch id must leave a version behind, or
      // the predecessor guard couldn't tell "batch was empty" from
      // "accumulated state was lost"
      val merged = (Option(bytes), prior) match {
        case (None, Seq())   => bytesOf(BloomFilter.create(
          graft.ops.Dedup.BloomExpectedItems, graft.ops.Dedup.BloomNumBits))
        case (None, _)       => priorSketch
        case (Some(b), Seq()) => b
        case (Some(b), _)    =>
          val acc = BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(priorSketch))
          acc.mergeInPlace(
            BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
          bytesOf(acc)
      }
      store.writeBytes(s"$dimDir/v$batchId/sketch.bin", merged)
    }
  }

  /** The newest committed blocklist sketch, or None before batch 0. */
  def blocklist(dimDir: String): Option[Array[Byte]] = {
    val store = VersionedStore(dimDir)
    store.versions.lastOption
      .map(v => store.readBytes(s"$dimDir/v$v/sketch.bin"))
  }

  /** Run the incremental blocklist builder over a benchmark-doc stream
    * to completion (AvailableNow). */
  def buildBlocklist(docs: DataFrame, dimDir: String, ckptDir: String): Unit = {
    VersionedStore(dimDir, docs.sparkSession).startLineage(ckptDir)
    runAvailableNow(docs, ckptDir)(_.foreachBatch(blocklistUpdate(dimDir) _))
  }

  /** x18 streaming sibling — incremental NEAR-DUP dedup: the LSH band
    * index persisted per micro-batch and PROBED by every subsequent
    * batch, so continuous ingestion pays batch × matching-bucket cost
    * per arrival, never history × history. Each micro-batch:
    *
    *  1. probes the accumulated index — the union of all committed
    *     prior version slices — with its own band keys (the same
    *     (band, bh) equi join as batch x18),
    *  2. exact-verifies candidates from the stored shingle arrays at
    *     the same J ≥ 0.3 gate (emitted pairs are exact, as everywhere
    *     in the dedup family),
    *  3. writes its verified (inc_id, hist_id, jaccard) pairs to an
    *     idempotent per-batch output dir, and
    *  4. commits its OWN bands + shingles as version `v<batchId>`.
    *
    * Unlike the unigram/blocklist dims (merged state, rewritten per
    * batch), the band index is APPEND-ONLY: versions are disjoint batch
    * slices and the index is their union — per-batch write cost scales
    * with the batch, not the accumulated history, which is what makes
    * the pattern sustainable on an unbounded stream. Probes read the
    * read set ([[compactBandIndex]] tiers + O(K) tail slices), and the
    * shingle verify prunes to the candidates' kb_bucket partitions.
    * Commit protocol: [[VersionedStore]]. StreamingSpec replays a
    * 2-wave split (history wave, then increment wave) and proves the
    * streamed pair set ≡ batch x18's on the same split. */
  def bandIndexUpdate(dimDir: String, pairsDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    VersionedStore(dimDir, batch.sparkSession).wave(batchId) { prior =>
      val spark = batch.sparkSession
      val docs = graft.ops.Dedup.shingledOf(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // persisted like docs: bands feeds the cross-history probe AND its
      // own slice write — separate actions, so without the persist the
      // 32-hash signature aggregation runs twice per micro-batch
      // (exchange reuse cannot span write jobs; same fix as
      // datasheetUpdate)
      val bands = graft.ops.Dedup.bandsOf(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs =
        if (prior.isEmpty)
          // batch 0 probes an empty index — commit an empty pair slice so
          // the pairs dir mirrors processed batches (same reasoning as the
          // blocklist's empty-batch commit)
          spark.emptyDataFrame
            .select(lit(0L).as("inc_id"), lit(0L).as("hist_id"),
              lit(0.0).as("jaccard")).limit(0)
        else {
          // history = the read set (manifest tiers + O(K) tail slices)
          val histBands = bandHistBands(spark, dimDir, prior)
          val candLazy = bands.as("a").join(histBands.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .distinct()
          val (cand, hist) = bandVerifyInputs(spark, dimDir, prior, candLazy)
          graft.ops.Dedup.verifyJaccard(cand, docs, hist)
            .select(col("id_a").as("inc_id"), col("id_b").as("hist_id"),
              col("jaccard"))
        }
      pairs.write.mode("overwrite").parquet(s"$pairsDir/b$batchId")
      docs.write.mode("overwrite").parquet(s"$dimDir/v$batchId/docs")
      bands.write.mode("overwrite").parquet(s"$dimDir/v$batchId/bands")
      bands.unpersist(blocking = false)
      docs.unpersist(blocking = false)
    }

  /** x70 streaming sibling — incremental SUBSTRING dedup: the
    * frequent-span problem at ingest. Each arriving batch is rewritten
    * against the accumulated span index (every distinct 13-token span
    * of every prior batch, append-only version slices like
    * [[bandIndexUpdate]]'s): an occurrence is cut if its span was EVER
    * seen before (history wins — the already-emitted first occurrence
    * is immutable), or if it repeats across ≥2 distinct docs within
    * the batch and is not the batch's first (batch x70's rule applied
    * to the slice). Per-batch cost: batch grams × (index probe + one
    * batch-local aggregation) — never history × history, and the index
    * write is the batch's distinct spans only.
    *
    * Relation to batch x70, provable on doc_id-ordered waves: the
    * stream's cut set is a SUBSET of batch x70's (every streamed cut
    * has an earlier same-span occurrence, which batch flags too), with
    * equality unless a span repeats WITHIN an early doc and only later
    * crosses the doc boundary — the one case whose batch verdict
    * (`cut the early doc's internal repeat`) would require rewriting
    * already-emitted output, which streaming by definition cannot do.
    * StreamingSpec pins exact equality on the fixture's range-split
    * waves and the subset guarantee is structural. */
  def spanIndexUpdate(dimDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    VersionedStore(dimDir, batch.sparkSession).wave(batchId) { prior =>
      val spark = batch.sparkSession
      val docs = batch.select(col("doc_id"), col("text"))
        .withColumn("w", split(col("text"), " "))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val g = graft.ops.Dedup.gramsOf(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val histHits =
        if (prior.isEmpty)
          g.select(col("doc_id"), col("pos")).limit(0)
        else {
          val hist = spark.read.parquet(
            unionStorePaths(spark, dimDir, prior, "spans"): _*)
          g.join(hist, Seq("ng"), "left_semi").select(col("doc_id"), col("pos"))
        }
      val key = graft.ops.Dedup.occKeyOf(col("doc_id"), col("pos"))
      val batchStats = g.groupBy(col("ng"))
        .agg(countDistinct(col("doc_id")).as("nd"), min(key).as("first_key"))
        .filter(col("nd") >= 2)
      val batchCuts = g.join(batchStats, "ng")
        .filter(key =!= col("first_key"))
        .select(col("doc_id"), col("pos"))
      val flagged = histHits.union(batchCuts).distinct()
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("pos"))).as("fs"))
      graft.ops.Dedup.rewriteFromFlags(docs, flagged)
        .write.mode("overwrite").parquet(s"$outDir/b$batchId")
      g.select(col("ng")).distinct()
        .write.mode("overwrite").parquet(s"$dimDir/v$batchId/spans")
      g.unpersist(blocking = false)
      docs.unpersist(blocking = false)
    }

  /** Compact a span-index lineage at its newest committed version —
    * [[compactUnionStore]] on the span direction (the probe is a
    * left_semi on uniform span hashes, so arrival-range buckets
    * cannot prune it; the wins are the deduplicated size-tiered
    * stores and O(log W + K) dirs per probe instead of O(waves)). */
  def compactSpanIndex(spark: SparkSession, dimDir: String): Unit =
    compactUnionStore(spark, dimDir, "spans", Seq("ng"),
      distinctStore = true)

  /** One maintained span-index wave WITH the compaction cadence —
    * [[bandIndexMaintain]] on the substring direction.
    * `compactEvery <= 0` disables. */
  private[graft] def spanIndexMaintain(dimDir: String, outDir: String,
      compactEvery: Int)(batch: DataFrame, batchId: Long): Unit = {
    spanIndexUpdate(dimDir, outDir)(batch, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactSpanIndex(batch.sparkSession, dimDir)
  }

  /** The union of committed slices `paths`, or `empty` before any. */
  private def slicesOr(spark: SparkSession, paths: Seq[String])(
      empty: => DataFrame): DataFrame =
    if (paths.isEmpty) empty else spark.read.parquet(paths: _*)

  /** Every committed batch's rewritten documents (the stream's output
    * corpus so far): the span lineage's committed `b<k>` slices. */
  def streamedRewrites(spark: SparkSession, dimDir: String,
      outDir: String): DataFrame =
    slicesOr(spark,
        VersionedStore(dimDir, spark).committedSlices(outDir)) {
      spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_words"),
          lit(0L).as("n_dup_occurrences"), lit(0L).as("n_removed"),
          lit("").as("clean_text")).limit(0)
    }

  /** x76 streaming sibling — incremental DECONTAMINATION REWRITE over a
    * train-documents stream against a STATIC benchmark span dim.
    *
    * The structural difference from the x70 sibling above: benchmarks
    * are a fixed artifact, so the dim never grows and each micro-batch
    * depends ONLY on its own docs plus the dim — probe (left-semi on
    * the exact span string, x47's no-hash-collision reasoning), flag
    * starts, rewrite (shared [[graft.ops.Dedup.rewriteFromFlags]]),
    * write the slice. Streamed output therefore equals batch x76
    * EXACTLY on ANY wave split (no keep-first cross-batch coupling),
    * and no version chain is needed: the slice is the batch's only
    * artifact, so its own `_SUCCESS` is the commit point
    * ([[VersionedStore]]).
    *
    * At 100 TB: per-batch cost is batch grams × one broadcast-dim
    * probe — the x18 band-index property (work ∝ increment, never ∝
    * history), with an even stronger guarantee because the dim is
    * constant. */
  def benchSpanDim(bench: DataFrame, dimDir: String): Unit =
    graft.ops.Dedup.gramsOf(
        bench.select(col("doc_id"), col("text"))
          .withColumn("w", split(col("text"), " ")))
      .select(col("ng")).distinct()
      .write.mode("overwrite").parquet(s"$dimDir/spans")

  /** One micro-batch of the decontamination rewrite (foreachBatch
    * body). Committed replay short-circuits on the slice's own
    * _SUCCESS. */
  def decontamRewriteUpdate(dimDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    if (VersionedStore(outDir, batch.sparkSession)
        .exists(s"$outDir/b$batchId/_SUCCESS")) return
    val spark = batch.sparkSession
    // bench spans are tiny relative to any training corpus (x47's
    // broadcast reasoning, same as batch x76's core)
    val dim = broadcast(spark.read.parquet(s"$dimDir/spans"))
    val docs = batch.select(col("doc_id"), col("text"))
      .withColumn("w", split(col("text"), " "))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val flagged = graft.ops.Dedup.gramsOf(docs)
      .join(dim, Seq("ng"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("fs"))
    graft.ops.Dedup.rewriteFromFlags(docs, flagged)
      .select(col("doc_id"), col("n_words"),
        col("n_dup_occurrences").as("n_contam_occurrences"),
        col("n_removed"), col("clean_text"))
      .write.mode("overwrite").parquet(s"$outDir/b$batchId")
    docs.unpersist(blocking = false)
  }

  /** Run the incremental decontamination rewrite to completion
    * (AvailableNow). The bench dim must already exist ([[benchSpanDim]]
    * — it is lifecycle-independent precisely because it is static). */
  def buildDecontamRewrites(train: DataFrame, dimDir: String,
      outDir: String, ckptDir: String): Unit = {
    val spark = train.sparkSession
    require(VersionedStore(dimDir, spark).exists(s"$dimDir/spans"),
      s"bench span dim missing under $dimDir — run benchSpanDim first")
    VersionedStore(outDir, spark).startSlices(ckptDir, "rewrite")
    runAvailableNow(train, ckptDir)(
      _.foreachBatch(decontamRewriteUpdate(dimDir, outDir) _))
  }

  /** Every committed batch's decontaminated documents: the `b<k>`
    * slices carrying their own `_SUCCESS`. */
  def streamedDecontamRewrites(spark: SparkSession,
      outDir: String): DataFrame =
    slicesOr(spark, VersionedStore(outDir, spark).selfCommittedSlices) {
      spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_words"),
          lit(0L).as("n_contam_occurrences"), lit(0L).as("n_removed"),
          lit("").as("clean_text")).limit(0)
    }

  /** x77 streaming sibling — incremental REJECTION LEDGER: verdicts
    * for each arriving micro-batch against the ACCUMULATED sha→keeper
    * dim, x18-band-index style (probe ∝ batch, never ∝ history):
    *
    *  - classifier verdicts are map-only on the batch (x69 scoring);
    *  - a batch doc whose sha is already committed is `exact_dup`
    *    against the HISTORICAL keeper (keep-first: history wins, the
    *    streaming analog of batch x77's min-id rule — coincides with
    *    batch exactly on doc_id-ordered waves, the x70 sibling's
    *    provability regime);
    *  - shas new to history take their batch-local min admitted id as
    *    keeper; that slice is appended to the dim.
    *
    * Two artifacts per batch (ledger slice `b<k>` + dim slice), both
    * written before the version marker ([[VersionedStore]]). */
  def ledgerUpdate(dimDir: String, outDir: String, weights: Array[Long])(
      batch: DataFrame, batchId: Long): Unit =
    VersionedStore(dimDir, batch.sparkSession).wave(batchId) { prior =>
      val spark = batch.sparkSession
      graft.functions.CustomExprs.register(spark)
      val scored = batch.select(col("doc_id"), col("text"))
        .withColumn("w0", split(col("text"), " "))
        .withColumn("feat_sum_micro",
          graft.ops.TextAnalysis.classifierScoreMicro(col("w0"), weights))
        .withColumn("h", sha2(col("text"), 256))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hist =
        if (prior.isEmpty)
          scored.select(col("h"), col("doc_id").as("hist_keeper")).limit(0)
        else
          spark.read.parquet(unionStorePaths(spark, dimDir, prior, "shas"): _*)
            // by NAME — the slice is written via groupBy/agg/join, whose
            // column order is an implementation detail a positional
            // rename would silently mislabel
            .select(col("h"), col("keeper").as("hist_keeper"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      val ledger = scored
        .withColumn("batch_keeper",
          min(when(col("feat_sum_micro") > 0, col("doc_id"))).over(w))
        .join(hist, Seq("h"), "left")
        .withColumn("keeper", coalesce(col("hist_keeper"), col("batch_keeper")))
        .select(col("doc_id"), col("feat_sum_micro"),
          when(col("feat_sum_micro") <= 0, lit("classifier"))
            .when(col("doc_id") =!= col("keeper"), lit("exact_dup"))
            .otherwise(lit("kept")).as("stage"),
          when(col("feat_sum_micro") <= 0, lit(null).cast("long"))
            .otherwise(col("keeper")).as("keeper_id"))
      ledger.write.mode("overwrite").parquet(s"$outDir/b$batchId")
      // dim slice: shas NEW to history, keyed by their batch keeper
      scored.filter(col("feat_sum_micro") > 0)
        .groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
        .join(hist, Seq("h"), "left_anti")
        .write.mode("overwrite").parquet(s"$dimDir/v$batchId/shas")
      scored.unpersist(blocking = false)
    }

  /** Every committed batch's ledger rows, gated like
    * [[streamedRewrites]]. */
  def streamedLedger(spark: SparkSession, dimDir: String,
      outDir: String): DataFrame =
    slicesOr(spark,
        VersionedStore(dimDir, spark).committedSlices(outDir)) {
      spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("feat_sum_micro"),
          lit("").as("stage"), lit(0L).as("keeper_id")).limit(0)
    }

  /** Compact a ledger lineage at its newest committed version —
    * [[compactUnionStore]] on the sha direction. shas slices are
    * already DISJOINT (each is anti-joined against history at write
    * time), so merges union without a distinct pass and the tiered
    * stores partition the accumulated (h, keeper) set exactly. */
  def compactLedgerIndex(spark: SparkSession, dimDir: String): Unit =
    compactUnionStore(spark, dimDir, "shas", Seq("h", "keeper"),
      distinctStore = false)

  /** One maintained ledger wave WITH the compaction cadence —
    * [[spanIndexMaintain]] on the sha direction. */
  private[graft] def ledgerMaintain(dimDir: String, outDir: String,
      weights: Array[Long], compactEvery: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    ledgerUpdate(dimDir, outDir, weights)(batch, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactLedgerIndex(batch.sparkSession, dimDir)
  }

  /** Run the incremental ledger to completion (AvailableNow). */
  def buildLedger(docs: DataFrame, dimDir: String, outDir: String,
      ckptDir: String, weights: Array[Long],
      compactEvery: Int = 8): Unit = {
    VersionedStore(dimDir, docs.sparkSession).startLineage(ckptDir)
    VersionedStore(outDir, docs.sparkSession).startSlices(ckptDir, "ledger")
    runAvailableNow(docs, ckptDir)(
      _.foreachBatch(ledgerMaintain(dimDir, outDir, weights, compactEvery) _))
  }

  /** x73/x74 streaming sibling — the corpus DATASHEET maintained
    * incrementally per micro-batch. Everything the report needs is
    * kept in MERGEABLE state, so after any ingested prefix the
    * composed datasheet equals batch x73 on that prefix EXACTLY —
    * counters, min/max, sources, dup counts, and the interpolated
    * median — on ANY wave split (no ordering regime):
    *
    *  - `hist`: per-(lang, n_tokens) doc counts — counts merge where
    *    running quantiles don't, and the reader recomputes the EXACT
    *    interpolated median from the merged histogram (its size is
    *    langs × distinct doc lengths — a dim, not a corpus, at any
    *    scale; x74's t-digest is the fallback if doc lengths were
    *    unbounded);
    *  - `src`: per-(lang, source) counts → exact `n_sources` (the
    *    rollup-exploding exact distinct x74 avoids is free here
    *    because the dim already holds the distinct pairs; HLL would
    *    drop the second grouping column at crawl-source cardinality);
    *  - `sh`+`bands`: append-only shingle + LSH band slices (exactly
    *    x18's index pattern). Batch x73's `n_dup_docs` comes from
    *    [[graft.ops.Dedup.ccLabels]] ← [[graft.ops.Dedup
    *    .minhashLshPairs]], i.e. the 8×4 banded MinHash index with
    *    exact-Jaccard verification — so the streamed sibling uses THE
    *    SAME engine: within-batch pairs from the band self-join,
    *    cross-history pairs from probing the accumulated band slices,
    *    both exact-verified from the stored shingle arrays via the
    *    shared [[graft.ops.Dedup.verifyJaccard]]. A doc's band keys
    *    depend only on its own shingles (deterministic xxhash64
    *    family, no stored coefficients), so a pair is a candidate
    *    independent of which wave each endpoint landed in: within ∪
    *    cross over all batches is batch `minhashLshPairs`' pair set on
    *    ANY corpus and ANY split. (An earlier form used the exact
    *    x13 inverted index here, which matches batch only where LSH
    *    recall is total, and whose per-batch df cap made the candidate
    *    set wave-dependent — StreamingSpec now plants a mid-band pair
    *    the banding provably misses to pin the engine choice);
    *  - `pairs`: per-batch discovered pair slices with BOTH endpoint
    *    langs embedded (inc from the batch, hist from the stored
    *    slice), so the reader never joins back to the corpus.
    *
    * Merged hist/src are rewritten per version; sh/bands/pairs are
    * append-only slices ([[VersionedStore]]). */
  def datasheetUpdate(dimDir: String)(batch: DataFrame, batchId: Long): Unit =
    VersionedStore(dimDir, batch.sparkSession).wave(batchId) { prior =>
      val spark = batch.sparkSession
      graft.functions.CustomExprs.register(spark)
      val docs = batch.select(col("doc_id"), col("lang"), col("source"),
          col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def merged(name: String, batchCounts: DataFrame,
          keys: Seq[String]): DataFrame =
        if (prior.isEmpty) batchCounts
        else spark.read.parquet(s"$dimDir/v${prior.max}/$name")
          .unionByName(batchCounts)
          .groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt"))
      val hist = merged("hist",
        docs.select(col("lang"),
            call_function("word_count", col("text")).cast("long")
              .as("n_tokens"))
          .groupBy("lang", "n_tokens").agg(count(lit(1)).as("cnt")),
        Seq("lang", "n_tokens"))
      val src = merged("src",
        docs.groupBy("lang", "source").agg(count(lit(1)).as("cnt")),
        Seq("lang", "source"))
      // near-dup pairs: the SAME 8×4 banded index as batch x73's dup
      // counter (ccLabels ← minhashLshPairs) — within-batch band
      // self-join plus the cross-history band probe, both exact-verified
      // from the stored shingle arrays (see the scaladoc above for why
      // banding, not the exact inverted index, is the correct engine)
      val sh = graft.ops.Dedup.shingledOf(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // persisted like sh: bands feeds the within self-join, the
      // cross-history probe, AND its own slice write — three separate
      // actions; without the persist the 32-hash signature aggregation
      // re-runs per action (exchange reuse cannot span write jobs)
      val bands = graft.ops.Dedup.bandsOf(sh)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val langOf = docs.select(col("doc_id"), col("lang"))
      val within = graft.ops.Dedup.verifyJaccard(
          graft.ops.Dedup.bandSelfCandidates(bands), sh, sh)
        .join(langOf.select(col("doc_id").as("id_a"), col("lang").as("lang_a")),
          "id_a")
        .join(langOf.select(col("doc_id").as("id_b"), col("lang").as("lang_b")),
          "id_b")
        .select("id_a", "lang_a", "id_b", "lang_b")
      val pairs =
        if (prior.isEmpty) within
        else {
          // the bandIndexUpdate read set and bucket-pruned verify,
          // SHARED so the two dup engines cannot drift. The pruned histSh
          // also serves the lang_b join-back: verified pairs are ⊆
          // candidates, whose buckets the pruned frame includes.
          val histBands = bandHistBands(spark, dimDir, prior)
          val candLazy = bands.as("a").join(histBands.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .distinct()
          val (cand, histSh) = bandVerifyInputs(spark, dimDir, prior,
            candLazy, docsPart = "sh",
            docsCols = Seq("doc_id", "sh", "nsh", "lang"))
          val cross = graft.ops.Dedup.verifyJaccard(cand, sh, histSh)
            .join(langOf.select(col("doc_id").as("id_a"),
              col("lang").as("lang_a")), "id_a")
            .join(histSh.select(col("doc_id").as("id_b"),
              col("lang").as("lang_b")), "id_b")
            .select("id_a", "lang_a", "id_b", "lang_b")
          within.unionByName(cross)
        }
      hist.write.mode("overwrite").parquet(s"$dimDir/v$batchId/hist")
      src.write.mode("overwrite").parquet(s"$dimDir/v$batchId/src")
      pairs.write.mode("overwrite").parquet(s"$dimDir/v$batchId/pairs")
      sh.write.mode("overwrite").parquet(s"$dimDir/v$batchId/sh")
      bands.write.mode("overwrite").parquet(s"$dimDir/v$batchId/bands")
      bands.unpersist(blocking = false)
      sh.unpersist(blocking = false)
      docs.unpersist(blocking = false)
    }

  /** The composed streamed datasheet — batch x73's exact report shape
    * ((lang | ALL) × counters × exact interpolated median) assembled
    * from the newest committed state: merged hist/src dims plus the
    * union of committed pair slices. Dim-sized work only — nothing
    * here touches the corpus. */
  def streamedDatasheet(spark: SparkSession, dimDir: String): DataFrame = {
    import spark.implicits._
    val vs = VersionedStore(dimDir, spark).versions
    require(vs.nonEmpty, s"no committed datasheet versions under $dimDir")
    val hist0 = spark.read.parquet(s"$dimDir/v${vs.max}/hist")
    val src0 = spark.read.parquet(s"$dimDir/v${vs.max}/src")
    val pairs = spark.read.parquet(vs.map(v => s"$dimDir/v$v/pairs"): _*)
    // per-lang rows ∪ the ALL rollup row, all from the same dims
    val hist = hist0.select($"lang".as("g"), $"n_tokens", $"cnt")
      .unionByName(hist0.groupBy($"n_tokens").agg(sum($"cnt").as("cnt"))
        .select(lit("ALL").as("g"), $"n_tokens", $"cnt"))
    val tot = hist.groupBy($"g").agg(
      sum($"cnt").as("n_docs"),
      sum($"cnt" * $"n_tokens").as("n_tokens"),
      min($"n_tokens").as("min_tokens"),
      max($"n_tokens").as("max_tokens"))
    // exact interpolated median from the histogram: 0-based order
    // statistics lo = (n-1)/2 and hi = n/2 (equal when n is odd),
    // p50 = their mean — `percentile(_, 0.5)` semantics exactly
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"n_tokens")
    val med = hist.withColumn("cum", sum($"cnt").over(wCum))
      .join(tot.select($"g", $"n_docs"), "g")
      .groupBy($"g").agg(
        // `div`, not `/`: Spark's / on longs is double division, and a
        // fractional rank threshold would shift the order statistic
        min(when($"cum" >= expr("(n_docs - 1) div 2 + 1"), $"n_tokens"))
          .as("vlo"),
        min(when($"cum" >= expr("n_docs div 2 + 1"), $"n_tokens"))
          .as("vhi"))
      .select($"g", (($"vlo" + $"vhi") / 2.0).as("p50_tokens"))
    val srcCnt = src0.groupBy($"lang".as("g"))
      .agg(countDistinct($"source").as("n_sources"))
      .unionByName(src0.agg(countDistinct($"source").as("n_sources"))
        .select(lit("ALL").as("g"), $"n_sources"))
    val members = pairs.select($"id_a".as("doc_id"), $"lang_a".as("lang"))
      .unionByName(pairs.select($"id_b".as("doc_id"), $"lang_b".as("lang")))
      .distinct()
    val dup = members.groupBy($"lang".as("g"))
      .agg(count(lit(1)).as("n_dup_docs"))
      .unionByName(members.agg(count(lit(1)).as("n_dup_docs"))
        .select(lit("ALL").as("g"), $"n_dup_docs"))
    tot.join(srcCnt, "g")
      .join(dup, Seq("g"), "left")
      .join(med, "g")
      .select($"g".as("lang"), $"n_docs", $"n_tokens", $"n_sources",
        coalesce($"n_dup_docs", lit(0L)).as("n_dup_docs"),
        $"min_tokens", $"max_tokens", $"p50_tokens")
      .orderBy($"lang")
  }

  /** Run the incremental datasheet over a documents stream to
    * completion (AvailableNow). */
  def buildDatasheet(docs: DataFrame, dimDir: String,
      ckptDir: String, compactEvery: Int = 8): Unit = {
    VersionedStore(dimDir, docs.sparkSession).startLineage(ckptDir)
    runAvailableNow(docs, ckptDir)(
      _.foreachBatch(datasheetMaintain(dimDir, compactEvery) _))
  }

  /** One maintained datasheet wave WITH the compaction cadence on its
    * embedded dup engine's (sh, bands) slices — [[compactBandIndex]],
    * which bounds the per-wave slice listing as for the standalone band
    * index. The hist/src merged dims and the pairs slices are untouched
    * (newest-only reads / append-only). `compactEvery <= 0` disables. */
  private[graft] def datasheetMaintain(dimDir: String, compactEvery: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    datasheetUpdate(dimDir)(batch, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactBandIndex(batch.sparkSession, dimDir, docsPart = "sh",
        docsCols = Seq("doc_id", "sh", "nsh", "lang"))
  }

  /** x26 streaming sibling — incremental maintenance of the
    * MATERIALIZED IVF-PQ index ([[graft.ops.Similarity
    * .materializeIvfPqIndex]]'s deployment table kept LIVE): the coarse
    * quantizer and PQ codebooks are FROZEN at index-build time (the
    * FAISS train-offline/add-online contract — retraining would shift
    * every stored code, invalidating the whole accumulated index), so
    * each arriving embedding micro-batch costs one MAP — normalize,
    * nearest-cell assign, 16-byte PQ encode, all one fused pass
    * ([[graft.ops.Similarity.ivfPqIndexOf]]) — plus one BATCH-sized
    * layout repartition (one file per cell, the batch materializer's
    * small-files discipline; never a shuffle of the accumulated
    * index), committed as its own cell-partitioned version slice.
    * Append-only like the x18 band
    * index: per-batch cost scales with the batch, never with the
    * accumulated index. A probe reads the UNION of committed slices,
    * each with the same pushed cell IN-list, so file-level pruning
    * survives incrementality (files touched = probed cells × committed
    * slices; at scale a compactor folds old slices back through
    * [[graft.ops.Similarity.materializeIvfPqIndex]]). Commit
    * protocol: [[VersionedStore]]. */
  def ivfPqIndexUpdate(indexDir: String, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]])(
      batch: DataFrame, batchId: Long): Unit =
    VersionedStore(indexDir, batch.sparkSession).wave(batchId) { _ =>
      val all = graft.ops.Similarity.corpusOf(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.Similarity.ivfPqIndexOf(all, cents, books)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/v$batchId/index")
      // the VECTOR STORE slice: the exact-rescore stage needs the full
      // vectors of every indexed id, and a vector that arrived only via
      // the stream exists nowhere else — without this, stream-only
      // candidates would silently vanish at the rescore join. Separate
      // subdir (not extra columns in the code slice) so the ADC scan's
      // 16-bytes-per-row claim stays a file-layout fact, not a
      // column-pruning hope.
      all.write.mode("overwrite").parquet(s"$indexDir/v$batchId/vecs")
      all.unpersist(blocking = false)
    }

  val embeddingsRawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Run the incremental index maintainer over an embeddings stream to
    * completion (AvailableNow). The model is captured ONCE, before the
    * stream starts — never per batch. */
  def buildIvfPqIndexStream(embs: DataFrame, indexDir: String,
      ckptDir: String, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Unit = {
    VersionedStore(indexDir, embs.sparkSession).startLineage(ckptDir)
    runAvailableNow(embs, ckptDir)(
      _.foreachBatch(ivfPqIndexUpdate(indexDir, cents, books) _))
  }

  /** x26 top-k over the committed slices — SELF-CONTAINED: queries and
    * the exact-rescore vectors come from the accumulated slice VECTOR
    * STORES (so ids that arrived only via the stream are first-class
    * neighbors — spec plants one), and the frozen model arrives
    * explicitly, the same instance the maintainer encoded with (an
    * index must never be decoded with another corpus's codebooks).
    * Row-identical to in-session x26 when the stream replayed the
    * batch corpus under the batch model — also spec-pinned. */
  def streamedIvfPqTopK(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nQueries: Int = 8, topK: Int = 5): DataFrame = {
    val vs = VersionedStore(indexDir, spark).versions
    require(vs.nonEmpty, s"no committed index slices under $indexDir")
    val all = vs.map(v => spark.read.parquet(s"$indexDir/v$v/vecs"))
      .reduce(_ unionByName _)
    graft.ops.Similarity.ivfPqTopKMaterializedVia(all,
      vs.map(v => s"$indexDir/v$v/index"), cents, books, nQueries, topK,
      graft.ops.Similarity.IvfProbes)
  }

  // --------------------------- x79 streamed semantic decontamination

  /** The FROZEN benchmark cell store the streamed semantic
    * decontamination flag probes: the base corpus's benchmark slice
    * (vec_id % 17 == 0, the x19/x78/x79 convention) cell-assigned
    * under the frozen centroids, written ONCE partitioned by cell —
    * the model side of the stream, like the IVF-PQ codebooks: captured
    * before the stream starts, never per batch. At 100 TB the bench
    * side is n/17 (never broadcastable); partitioning by cell makes
    * each micro-batch's probe a cell-pruned equi join against it. */
  def buildBenchCellStore(baseEmbs: DataFrame, benchDir: String,
      cents: Array[Array[Double]]): Unit = {
    val bench = graft.ops.Similarity.corpusOf(baseEmbs)
      .filter(col("vec_id") % 17 === 0)
    graft.ops.Similarity
      .multiCellAssign(bench, cents,
        graft.ops.Similarity.SemDedupAssignProbes)
      .write.mode("overwrite").partitionBy("cell").parquet(benchDir)
  }

  /** Per-batch x79 flag: the micro-batch's training vectors are
    * cell-assigned under the SAME frozen centroids as the bench store,
    * unioned with it, and run through the SAME within-cell bipartite
    * flag code as batch x79 ([[graft.ops.Similarity.celledDecontFlagsOf]]
    * — one definition, so streamed and batch flags cannot diverge by
    * construction), then the batch's clean training rows land as an
    * append-only versioned slice. Cost ∝ batch (the bench store is
    * read-only state). */
  def semDecontUpdate(benchDir: String, outDir: String,
      cents: Array[Array[Double]])(batch: DataFrame, batchId: Long): Unit =
    VersionedStore(outDir, batch.sparkSession).wave(batchId) { _ =>
      val spark = batch.sparkSession
      val sim = graft.ops.Similarity
      val bench = spark.read.parquet(benchDir)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val train = sim.corpusOf(batch.select("vec_id", "embedding"))
        .filter(col("vec_id") % 17 =!= 0)
      val assigned = sim.multiCellAssign(train, cents, sim.SemDedupAssignProbes)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val flagged = sim.celledDecontFlagsOf(assigned.unionByName(bench),
        sim.SemDedupTauHigh)
      batch.filter(col("vec_id") % 17 =!= 0)
        .join(flagged.select(col("train_id").as("vec_id")),
          Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
        .write.mode("overwrite").parquet(s"$outDir/v$batchId/clean")
    }

  /** Run the streamed decontamination to completion (AvailableNow);
    * model (centroids + bench store) captured before the stream. */
  def buildSemDecontStream(embs: DataFrame, benchDir: String,
      outDir: String, ckptDir: String,
      cents: Array[Array[Double]]): Unit = {
    VersionedStore(outDir, embs.sparkSession).startLineage(ckptDir)
    runAvailableNow(embs, ckptDir)(
      _.foreachBatch(semDecontUpdate(benchDir, outDir, cents) _))
  }

  /** The accumulated clean training slice across committed versions —
    * the streamed x79 output (streamed ≡ batch when the stream
    * replayed the batch corpus under the batch model; spec-pinned). */
  def streamedSemDecontClean(spark: SparkSession, outDir: String): DataFrame = {
    val vs = VersionedStore(outDir, spark).versions
    require(vs.nonEmpty, s"no committed clean slices under $outDir")
    vs.map(v => spark.read.parquet(s"$outDir/v$v/clean"))
      .reduce(_ unionByName _)
      .orderBy(col("vec_id"))
  }

  // ------------------------- x82 streamed snapshot reconciliation

  /** The FROZEN old-snapshot hash store the streamed diff probes:
    * batch x82's OLD side ([[graft.ops.Pipeline.oldSnapshotHashes]] —
    * one definition, the snapshot semantics cannot diverge), written
    * once before the new crawl starts streaming. (doc_id, 64-byte
    * hash) only — at 100 TB this is the frame you bucket by doc_id so
    * every per-batch probe joins co-partitioned. */
  def buildOldSnapshotStore(docs: DataFrame, oldDir: String): Unit =
    graft.ops.Pipeline.oldSnapshotHashes(docs)
      .write.mode("overwrite").parquet(oldDir)

  /** Per-batch reconciliation: the micro-batch's slice of the NEW
    * crawl (same [[graft.ops.Pipeline.newSnapshotHashes]] derivation
    * as batch x82) LEFT-joins the frozen old store — `added` (no old
    * row) and `changed` (hash differs) rows land under
    * v&lt;batch&gt;/delta, and the batch's seen ids under
    * v&lt;batch&gt;/ids (the skinny frame the stream-close `removed`
    * pass anti-joins: absence is only knowable once the crawl
    * completes, so `removed` is deliberately NOT a per-batch output).
    * Cost ∝ batch. */
  def snapshotDiffUpdate(oldDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    VersionedStore(outDir, batch.sparkSession).wave(batchId) { _ =>
      val spark = batch.sparkSession
      val neu = graft.ops.Pipeline.newSnapshotHashes(batch)
        .select(col("doc_id"), col("h").as("n_h"))
      val old = spark.read.parquet(oldDir)
        .select(col("doc_id"), col("h").as("o_h"))
      neu.join(old, Seq("doc_id"), "left")
        .withColumn("status",
          when(col("o_h").isNull, lit("added")).otherwise(lit("changed")))
        .filter(col("o_h").isNull || !(col("o_h") <=> col("n_h")))
        .select(col("doc_id"), col("status"))
        .write.mode("overwrite").parquet(s"$outDir/v$batchId/delta")
      neu.select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$outDir/v$batchId/ids")
    }

  /** Run the streamed reconciliation to completion (AvailableNow);
    * the old store is the frozen model, captured before the stream. */
  def buildSnapshotDiffStream(docs: DataFrame, oldDir: String,
      outDir: String, ckptDir: String): Unit = {
    VersionedStore(outDir, docs.sparkSession).startLineage(ckptDir)
    runAvailableNow(docs, ckptDir)(
      _.foreachBatch(snapshotDiffUpdate(oldDir, outDir) _))
  }

  /** The complete reconciliation across committed versions: the
    * accumulated added/changed deltas plus the stream-close `removed`
    * pass (old store anti-join the union of seen ids). Streamed ≡
    * batch x82 when the stream replayed the full corpus —
    * spec-pinned. */
  def streamedSnapshotDiff(spark: SparkSession, oldDir: String,
      outDir: String): DataFrame = {
    val vs = VersionedStore(outDir, spark).versions
    require(vs.nonEmpty, s"no committed delta slices under $outDir")
    val deltas = vs.map(v => spark.read.parquet(s"$outDir/v$v/delta"))
      .reduce(_ unionByName _)
    val seen = vs.map(v => spark.read.parquet(s"$outDir/v$v/ids"))
      .reduce(_ unionByName _)
    val removed = spark.read.parquet(oldDir)
      .join(seen, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("status"))
    deltas.unionByName(removed).orderBy(col("doc_id"))
  }

  /** Run the incremental substring dedup over a documents stream to
    * completion (AvailableNow): maintains the span index under
    * `dimDir`, emits per-batch rewritten docs under `outDir`. Same
    * shared-lifecycle rule as [[buildBandIndex]]: a fresh checkpoint
    * over an outDir holding a dead lineage's slices is refused. */
  def buildSpanIndex(docs: DataFrame, dimDir: String, outDir: String,
      ckptDir: String, compactEvery: Int = 8): Unit = {
    VersionedStore(dimDir, docs.sparkSession).startLineage(ckptDir)
    VersionedStore(outDir, docs.sparkSession).startSlices(ckptDir, "rewrite")
    runAvailableNow(docs, ckptDir)(
      _.foreachBatch(spanIndexMaintain(dimDir, outDir, compactEvery) _))
  }

  /** Run the incremental near-dup dedup over a documents stream to
    * completion (AvailableNow): maintains the band index under
    * `dimDir`, emits per-batch verified pair slices under `pairsDir`. */
  def buildBandIndex(docs: DataFrame, dimDir: String, pairsDir: String,
      ckptDir: String, compactEvery: Int = 8): Unit = {
    VersionedStore(dimDir, docs.sparkSession).startLineage(ckptDir)
    VersionedStore(pairsDir, docs.sparkSession).startSlices(ckptDir, "pair")
    runAvailableNow(docs, ckptDir)(
      _.foreachBatch(bandIndexMaintain(dimDir, pairsDir, compactEvery) _))
  }

  /** One maintained wave of the band index WITH the compaction
    * cadence — [[keepBestDeltaMaintain]]'s shape on the index
    * direction. Defaults ON at 8 wherever a stream drives it: the
    * bounded-probe property must hold without operator opt-in.
    * `compactEvery <= 0` disables. */
  private[graft] def bandIndexMaintain(dimDir: String, pairsDir: String,
      compactEvery: Int)(batch: DataFrame, batchId: Long): Unit = {
    bandIndexUpdate(dimDir, pairsDir)(batch, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactBandIndex(batch.sparkSession, dimDir)
  }

  /** All near-dup pairs the stream has emitted so far: the band
    * lineage's committed `b<k>` pair slices, or an empty frame before
    * any batch. */
  def streamedNearDupPairs(spark: SparkSession, dimDir: String,
      pairsDir: String): DataFrame =
    slicesOr(spark,
        VersionedStore(dimDir, spark).committedSlices(pairsDir)) {
      spark.emptyDataFrame
        .select(lit(0L).as("inc_id"), lit(0L).as("hist_id"),
          lit(0.0).as("jaccard")).limit(0)
    }

  /** x59 streaming sibling — incremental KEEP-BEST survivors: the
    * per-cluster best-quality survivor dim maintained continuously as
    * documents arrive, composed over the streamed band index
    * ([[bandIndexUpdate]]), with DELTA-star label maintenance: each
    * wave's new pairs merge into the PERSISTED label dim, so only the
    * components TOUCHED by the wave recompute. Per batch:
    *
    *  1. the band-index update emits the cross-batch verified pairs
    *     (delegated — idempotent, shared committed state);
    *  2. the batch's INTRA-batch pairs are verified from the
    *     just-committed band slice — the one pair family the cross
    *     probe never sees: a pair is either within a batch or across
    *     batches, so the two together are the wave's exact share of the
    *     full-corpus LSH pair set;
    *  3. the batch's (doc_id, quality_score, lang) rows for its
    *     first-time doc_ids become `attrs_delta` (first-wins — a
    *     recurring doc_id keeps its first wave's row);
    *  4. delta-star merge: wave pairs P_w = cross(batch) ∪
    *     intra(batch); touched clusters = prior labels of P_w's
    *     endpoints; prior members of those clusters re-enter as
    *     (doc_id, cluster_id) STAR EDGES — sound because ccStars
    *     labels with the component-minimum id, so a label is itself a
    *     member node and a star edge is an ordinary graph edge
    *     carrying exactly the old component's connectivity. CC runs
    *     over P_w ∪ star edges: cost ∝ |wave pairs| + |touched
    *     members|, INDEPENDENT of the accumulated pair count.
    *     Label equality with CC over the whole pair graph is
    *     structural: components only ever change by MERGING, every
    *     merge contains a wave pair (so the merged component is fully
    *     present in the delta graph), and untouched components keep
    *     their min-id label verbatim;
    *  5. the label dim carries (doc_id, cluster_id, quality_score,
    *     lang) so survivor re-ranking never re-reads history; quality
    *     for FIRST-TIME historical nodes (a cross pair can touch an
    *     old doc that never paired before) is probed from the
    *     assembled attrs dim — per-wave `attrs_delta` slices over the
    *     newest cumulative base;
    *  6. survivors: untouched clusters' rows carry over verbatim;
    *     touched clusters re-rank under the same quality-desc /
    *     doc-id-asc window — so the assembled dim stays ≡ batch x59
    *     (StreamingSpec proves it).
    *
    * The wave writes DELTA slices only, so its bytes are ∝ batch +
    * touched clusters, never ∝ corpus: `attrs_delta`, `drops` (the
    * touched cluster ids, retiring every older row of those clusters),
    * `labels_delta` / `survivors_delta` (the re-labeled members /
    * re-ranked best of the touched clusters). Readers assemble the dims
    * from the read set ([[assembledKeepBestDims]]). The singleton
    * majority never enters the label dim — the reader anti-joins it at
    * read time, like batch x59. The wave reads bucket-pruned probes of
    * the tier stores plus O(K) tail slices and pins only the wave pairs
    * and touched-size frames; `Probe stream`'s wave_bytes and
    * wave_read_bytes record both sides. Recompute from committed inputs
    * is deterministic ([[VersionedStore]]). */
  def keepBestDeltaUpdate(dimDir: String, pairsDir: String,
      survDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    bandIndexUpdate(dimDir, pairsDir)(batch, batchId)
    VersionedStore(survDir, spark).wave(batchId) { prior =>
      // attrs DELTA: this batch's first-time doc_ids only (first-wins —
      // a recurring doc_id keeps its first wave's row), anti-joined
      // against the bucket-pruned doc_id MEMBERSHIP, read ∝ batch. The
      // membership probe collects doc_id buckets only, so the quality
      // score is computed once, by this write
      val batchAttrs = batch.select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("quality_score"),
        col("lang"))
      (if (prior.isEmpty) batchAttrs
       else batchAttrs.join(
         keepBestMembersProbe(spark, survDir, prior, batchAttrs),
         Seq("doc_id"), "left_anti"))
        .write.mode("overwrite").parquet(s"$survDir/v$batchId/attrs_delta")
      // THIS batch's pair delta only — never the accumulated union: the
      // cross pairs the band update emitted plus the intra-batch pairs
      // verified from the committed band slice (same verify as the
      // cross probe: equi join on (band, bh), exact jaccard)
      val docsSh = spark.read.parquet(s"$dimDir/v$batchId/docs")
      val intra = graft.ops.Dedup.verifyJaccard(
          graft.ops.Dedup.bandSelfCandidates(
            spark.read.parquet(s"$dimDir/v$batchId/bands")),
          docsSh, docsSh)
        .select(col("id_a"), col("id_b"))
      val pinned = spark.read.parquet(s"$pairsDir/b$batchId")
        .select(col("inc_id").as("id_a"), col("hist_id").as("id_b"))
        .union(intra)
        .pipe(graft.Caches.pin)
      // the pin keeps the estimate of the plan it pinned, the verify
      // join's product of sides; sized at its rows, the joins of the CC
      // rounds below broadcast their small sides instead of shuffling
      val pairRows = pinned.queryExecution.toRdd.count()
      val wavePairs = org.apache.spark.sql.graft.PinnedSize(pinned, pairRows)
      val (drops, labelsDelta, survDelta, ccHandle) =
        if (pairRows == 0L)
          (emptyKbRows(spark).select(col("cluster_id")), emptyKbRows(spark),
            emptyKbRows(spark), Option.empty[DataFrame])
        else {
          val touchedIds = wavePairs.select(col("id_a").as("doc_id"))
            .union(wavePairs.select(col("id_b").as("doc_id"))).distinct()
            .pipe(graft.Caches.pin) // touched-size; probed for buckets + joined
          // touched-cluster discovery probes the doc-keyed labels_by_doc
          // copy, pruned to the probe's kb_buckets (plus O(K) tails)
          val touchedClusters =
            labelsProbe(spark, survDir, prior, "labels_by_doc", "doc_id",
                touchedIds)
              .join(touchedIds, Seq("doc_id"), "left_semi")
              .select(col("cluster_id")).distinct().pipe(graft.Caches.pin)
          // member expansion probes BY CLUSTER — the cluster-keyed copy,
          // pruned to the touched clusters' buckets
          val members =
            labelsProbe(spark, survDir, prior, "labels", "cluster_id",
                touchedClusters)
              .join(touchedClusters, Seq("cluster_id"), "left_semi")
          val starEdges = members
            .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
          val (lbl, _) = graft.ops.Dedup.ccStars(wavePairs.union(starEdges))
          val lblNodes = lbl
            .select(col("id").as("doc_id"), col("label").as("cluster_id"))
          // prior-label attributes: every labeled node of the delta graph
          // lies in a TOUCHED cluster — a wave-pair endpoint's cluster is
          // touched by construction (touchedClusters = clusters of all
          // labeled wave-pair endpoints), a star-edge member node is a
          // touched cluster's member, and a cluster id appearing as a
          // node is itself a member's doc_id under min-id labeling — so
          // the touched members ARE the complete attribute source (the
          // delta ≡ batch spec would surface a violation as duplicate
          // label rows)
          val known = members
            .select(col("doc_id"), col("quality_score"), col("lang"))
          // attributes for FIRST-TIME nodes (never labeled before): probe
          // the bucketed attrs store at their buckets + this batch's
          // just-written delta
          val firstTimers = lblNodes
            .join(known.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .select(col("doc_id")).pipe(graft.Caches.pin)
          val fetched =
            attrsProbe(spark, survDir, prior, firstTimers)
              .unionByName(
                spark.read.parquet(s"$survDir/v$batchId/attrs_delta"))
              .join(firstTimers, Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("quality_score"), col("lang"))
          // pin the TOUCHED-SIZE result (∝ wave pairs + touched members):
          // labels_delta and the survivor re-rank both consume it, and
          // without the pin each would re-run the probes above
          val newMembers = lblNodes
            .join(known.unionByName(fetched), Seq("doc_id"))
            .select(kbCols.map(col): _*)
            .pipe(graft.Caches.pin)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))
            .orderBy(col("quality_score").desc, col("doc_id").asc)
          val newBest = newMembers
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1)
            .select(kbCols.map(col): _*)
          (touchedClusters, newMembers, newBest, Some(lbl))
        }
      // delta slices only: drops retire every older row of the touched
      // clusters; the deltas carry their re-labeled members / re-ranked
      // best. Bytes ∝ touched clusters, never ∝ accumulated corpus.
      drops.write.mode("overwrite").parquet(s"$survDir/v$batchId/drops")
      labelsDelta.write.mode("overwrite")
        .parquet(s"$survDir/v$batchId/labels_delta")
      survDelta.write.mode("overwrite")
        .parquet(s"$survDir/v$batchId/survivors_delta")
      ccHandle.foreach(_.unpersist(blocking = false)) // ccStars persists it
    }
  }

  /** Label/survivor row layout of the delta keep-best lineage. */
  private val kbCols = Seq("doc_id", "cluster_id", "quality_score", "lang")

  /** First-wins attrs row layout of the delta keep-best lineage. */
  private val kbAttrCols = Seq("doc_id", "quality_score", "lang")

  private def emptyKbRows(spark: SparkSession): DataFrame =
    spark.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit(0L).as("cluster_id"),
        lit(0.0).as("quality_score"), lit("").as("lang")).limit(0)

  /** First-wins attrs rows projected to `cols`: the given tier frames
    * plus each tail version's `attrs_delta` slice — append-only, no
    * drop algebra (delta doc_ids are first-time by construction). The
    * explicit projection keeps a bucketed store's kb_bucket partition
    * column out of the union with the delta slices. */
  private def kbAttrRows(spark: SparkSession, survDir: String,
      tiers: Seq[DataFrame], tail: Seq[Long],
      cols: Seq[String] = kbAttrCols): DataFrame =
    (tiers ++ tail.map(v => spark.read.parquet(s"$survDir/v$v/attrs_delta")))
      .map(_.select(cols.map(col): _*))
      .reduceOption(_ unionByName _)
      .getOrElse(emptyKbRows(spark).select(cols.map(col): _*))

  /** Latest-wins rows of one label/survivor artifact: the given tier
    * frames (tagged with their BUILD versions) plus each tail
    * version's `deltaPart` slice, under [[applyKbDrops]] with the
    * base's cumulative drop store `cumDrops`. One implementation for
    * the full assembly, the bucketed probe and the compaction merge,
    * so the three cannot drift. */
  private def kbLatestRows(spark: SparkSession, survDir: String,
      cumDrops: Option[String], tiers: Seq[(Long, DataFrame)],
      tail: Seq[Long], deltaPart: String): DataFrame =
    (tiers ++
        tail.map(v => v -> spark.read.parquet(s"$survDir/v$v/$deltaPart")))
      .map { case (ver, df) =>
        df.select(kbCols.map(col): _*).withColumn("_ver", lit(ver)) }
      .reduceOption(_ unionByName _)
      .map(applyKbDrops(spark, survDir, tail, _, cumDrops))
      .getOrElse(emptyKbRows(spark))

  /** Assembled (attrs, labels, survivors) over the committed versions
    * `vs` of a delta keep-best lineage: the read set's tier roots plus
    * the delta slices committed after them, under [[liveGramRows]]'
    * latest-wins algebra on the CLUSTER axis — a row from version u
    * survives iff no version later than u dropped its cluster (ties
    * keep the delta: a wave's drop applies to strictly older rows, its
    * own delta re-labels the cluster). Attrs are append-only first-wins
    * deltas, no drops. The per-cluster drop dim broadcasts at a size
    * bounded by the clusters dropped SINCE the oldest manifest tier:
    * the compaction prunes cumulative entries no kept row can match
    * (see [[compactKeepBest]]'s drops write), and the bucket-dir bound
    * advances the oldest tier, so the store cannot grow with every
    * cluster ever dropped. */
  private[graft] def assembledKeepBestDims(spark: SparkSession,
      survDir: String,
      vs: Seq[Long]): (DataFrame, DataFrame, DataFrame) = {
    val rs = VersionedStore(survDir, spark).readSet(vs)
    def tiers(part: String) = rs.roots.map { case (ver, root) =>
      ver -> spark.read.parquet(s"$root/$part") }
    val cumDrops = kbCumulativeDrops(survDir, rs.base)
    (kbAttrRows(spark, survDir, tiers("attrs").map(_._2), rs.tail),
      kbLatestRows(spark, survDir, cumDrops, tiers("labels"), rs.tail,
        "labels_delta"),
      kbLatestRows(spark, survDir, cumDrops, tiers("survivors"), rs.tail,
        "survivors_delta"))
  }

  /** doc_id-only membership of the assembled attrs dim — the
    * first-time anti-join's probe side, unpruned: every tier root's
    * `members` artifact (doc_id-only, sorted — written by
    * [[compactKeepBest]] so row-group min/max stats support
    * runtime-filter pruning at warehouse scale) plus the tail
    * `attrs_delta` slices' doc_id columns — never the full
    * three-column dim and never through a localCheckpoint. The wave
    * reads the bucket-pruned form, [[keepBestMembersProbe]]. */
  private[graft] def assembledKeepBestMembers(spark: SparkSession,
      survDir: String, vs: Seq[Long]): DataFrame = {
    val rs = VersionedStore(survDir, spark).readSet(vs)
    kbAttrRows(spark, survDir,
      rs.roots.map { case (_, root) => spark.read.parquet(s"$root/members") },
      rs.tail, Seq("doc_id"))
  }

  /** [[assembledKeepBestMembers]] pruned to the buckets the `probe`
    * frame's doc_ids could live in: the tier roots' bucketed members
    * stores are read at the probe's kb_bucket partitions only —
    * per-wave read ∝ touched buckets × target bucket rows, i.e. ∝ batch
    * — plus the O(K) tail delta doc_id columns. */
  private[graft] def keepBestMembersProbe(spark: SparkSession,
      survDir: String, vs: Seq[Long], probe: DataFrame): DataFrame =
    attrsProbe(spark, survDir, vs, probe, "members", Seq("doc_id"))

  /** Label rows possibly matching the `probe` frame's `keyCol` values
    * — the bucketed-probe sibling of [[assembledKeepBestDims]]' label
    * assembly: the tier roots' `<root>/<basePart>` stores (`labels`
    * keyed by cluster_id, or the doc-keyed `labels_by_doc` copy)
    * pruned to the probe's kb_bucket partitions, plus ALL tail
    * `labels_delta` slices (each ∝ its wave), under the SAME drop
    * algebra. Returns a SUPERSET of the probe's rows (whole buckets)
    * so callers semi-join. */
  private def labelsProbe(spark: SparkSession, survDir: String,
      vs: Seq[Long], basePart: String, keyCol: String,
      probe: DataFrame): DataFrame = {
    val store = VersionedStore(survDir, spark)
    val rs = store.readSet(vs)
    kbLatestRows(spark, survDir, kbCumulativeDrops(survDir, rs.base),
      store.bucketPrunedTiers(rs.roots, basePart, probe, keyCol), rs.tail,
      "labels_delta")
  }

  /** First-wins attrs rows (the `part` artifact projected to `cols`)
    * possibly matching the `probe` frame's doc_ids: the tier roots'
    * bucketed stores pruned to the probe's buckets + the tail
    * `attrs_delta` slices. Superset semantics as in [[labelsProbe]]. */
  private def attrsProbe(spark: SparkSession, survDir: String,
      vs: Seq[Long], probe: DataFrame, part: String = "attrs",
      cols: Seq[String] = kbAttrCols): DataFrame = {
    val store = VersionedStore(survDir, spark)
    val rs = store.readSet(vs)
    kbAttrRows(spark, survDir,
      store.bucketPrunedTiers(rs.roots, part, probe, "doc_id").map(_._2),
      rs.tail, cols)
  }

  /** The shared latest-wins drop algebra over versioned label rows
    * (`_ver`-tagged): a row from version u survives iff no version
    * later than u dropped its cluster.
    *
    * `cumDrops` is the newest compaction's cumulative per-cluster
    * max-drop store: with KEPT older tiers on disk, a drop recorded
    * between two compactions must keep retiring the older tier's rows
    * even after the recording wave's own `drops` slice is
    * janitor-deleted — the cumulative store carries exactly that
    * history. Sound against tier rows tagged with their BUILD version:
    * a tier built at t contains only rows that survived every drop
    * ≤ t (applied at merge time), so `maxDrop <= t` never wrongly
    * saves a row and `maxDrop > t` is exactly the set that must kill
    * it. The per-cluster drop dim is broadcast while
    * [[graft.Broadcasts]] fits it at its inputs' footer row count. */
  private def applyKbDrops(spark: SparkSession, survDir: String,
      dropVersions: Seq[Long], rows: DataFrame,
      cumDrops: Option[String]): DataFrame = {
    val dropDirs = cumDrops.toSeq ++ dropVersions.map(v => s"$survDir/v$v/drops")
    val dropDim = (cumDrops.map(p => spark.read.parquet(p)
          .select(col("cluster_id"), col("_maxDrop").as("_dver"))).toSeq ++
      dropVersions.map(v =>
        spark.read.parquet(s"$survDir/v$v/drops").select(col("cluster_id"))
          .withColumn("_dver", lit(v))))
      .reduceOption(_ unionByName _)
      .map(_.groupBy(col("cluster_id")).agg(max(col("_dver")).as("_maxDrop")))
    dropDim match {
      case None => rows.drop("_ver")
      case Some(d) =>
        val store = VersionedStore(survDir, spark)
        rows.join(graft.Broadcasts(d, dropDirs.map(store.rowCount).sum),
            Seq("cluster_id"), "left")
          .where(col("_maxDrop").isNull || col("_maxDrop") <= col("_ver"))
          .drop("_ver", "_maxDrop")
    }
  }

  /** The newest compaction's cumulative per-cluster drop store
    * ((cluster_id, _maxDrop) — see [[applyKbDrops]]), or None before
    * the first compaction. */
  private def kbCumulativeDrops(survDir: String,
      base: Option[Long]): Option[String] =
    base.map(b => s"$survDir/v$b/compact/drops")

  /** Compact a delta keep-best lineage at its newest committed version
    * `top`: merge the tail slices and the roots [[VersionedStore.absorb]]
    * picks (tier metric: attrs rows) into a new tier `v<top>/compact`
    * holding attrs, members, labels, labels_by_doc, survivors, the
    * cumulative drop store and `BUCKETS`. Readers stand on the manifest
    * tiers + later delta slices. Layout, commit and janitor contract:
    * [[VersionedStore]]. Idempotent; safe at any cadence. */
  def compactKeepBest(spark: SparkSession, survDir: String,
      targetRowsPerBucket: Long = 65536L,
      maxKeptBucketDirs: Long = VersionedStore.MaxKeptBucketDirs): Unit = {
    val store = VersionedStore(survDir, spark)
    store.compact(VersionedStore.Tiered("attrs", "attrs_delta",
        maxKeptBucketDirs)) { m =>
      def tiers(part: String) = m.absorbed.map { case (ver, root) =>
        ver -> spark.read.parquet(s"$root/$part") }
      val attrs = kbAttrRows(spark, survDir, tiers("attrs").map(_._2), m.tail)
      // the SAME drop algebra as the readers (tiers and tails tagged with
      // their build versions): the new tier holds exactly the rows that
      // survive through `top`, so reading it tagged `top` is sound
      val priorCumDrops = kbCumulativeDrops(survDir, m.base)
      val labels = kbLatestRows(spark, survDir, priorCumDrops,
        tiers("labels"), m.tail, "labels_delta")
      val survivors = kbLatestRows(spark, survDir, priorCumDrops,
        tiers("survivors"), m.tail, "survivors_delta")
      // the width derives from THIS tier's rows; cluster ids are
      // member-minimum doc_ids, so they bucket under the same width
      val shift = VersionedStore.bucketShiftFor(attrs, "doc_id",
        targetRowsPerBucket)
      val out = s"$survDir/v${m.top}/compact"
      def writeBucketed(df: DataFrame, keyCol: String, part: String): Unit =
        VersionedStore.writeBucketed(df, keyCol, s"$out/$part", shift)
      writeBucketed(attrs, "doc_id", "attrs")
      // doc_id-only membership (the first-time anti-join's probe side),
      // re-read from the written attrs instead of re-running the assembly
      writeBucketed(spark.read.parquet(s"$out/attrs").select(col("doc_id")),
        "doc_id", "members")
      writeBucketed(labels, "cluster_id", "labels")
      // the same label rows keyed the OTHER way: touched-cluster
      // discovery probes BY DOC (wave-pair endpoints → their clusters),
      // member expansion probes BY CLUSTER — two narrow copies beat one
      // corpus labels scan per wave
      writeBucketed(spark.read.parquet(s"$out/labels")
          .select(kbCols.map(col): _*),
        "doc_id", "labels_by_doc")
      VersionedStore.writeOrdered(survivors, "cluster_id", s"$out/survivors")
      // cumulative per-cluster drop store (prior cumulative + tail drop
      // slices, per-cluster max): the drop history KEPT tiers need once
      // the janitor deletes the waves' own `drops` slices. Pruned to
      // entries that can still kill a row — every presented row carries
      // _ver >= the new manifest's oldest build version — so the store
      // [[applyKbDrops]] broadcasts does not grow with every drop ever.
      val minKeptVer = (m.kept.map(_._1) :+ m.top).min
      VersionedStore.writeOrdered(
        (priorCumDrops.map(p => spark.read.parquet(p)
            .select(col("cluster_id"), col("_maxDrop").as("_dver")))
            .toSeq ++
          m.tail.map(v => spark.read.parquet(s"$survDir/v$v/drops")
            .select(col("cluster_id")).withColumn("_dver", lit(v))))
          .reduce(_ unionByName _)
          .groupBy(col("cluster_id")).agg(max(col("_dver")).as("_maxDrop"))
          .where(col("_maxDrop") > lit(minKeptVer)),
        "cluster_id", s"$out/drops")
      store.writeBucketShift(out, shift)
      s"v${m.top}/compact"
    }
  }

  /** The accumulated band index's (band, bh, doc_id) rows over the
    * committed versions `prior`: the read set's tier stores + O(K) tail
    * slices. */
  private[graft] def bandHistBands(spark: SparkSession, dimDir: String,
      prior: Seq[Long]): DataFrame = {
    val rs = VersionedStore(dimDir, spark).readSet(prior)
    spark.read.parquet(
      (rs.roots.map(r => s"${r._2}/bands") ++
        rs.tail.map(p => s"$dimDir/v$p/bands")): _*)
      .select(col("band"), col("bh"), col("doc_id"))
  }

  /** The exact-Jaccard verify's inputs for a band-index probe: the
    * (possibly pinned) candidate pairs and the hist shingle rows that
    * can match them. With tier roots, candidates are touched-size —
    * pin them once, then prune the fat shingle stores to the
    * candidates' id_b kb_buckets: the verify reads ∝ matches, never
    * ∝ corpus. Before the first compaction both fall through lazily to
    * the all-slices scan. `docsPart`/`docsCols` name the shingle
    * artifact — "docs"(doc_id, sh, nsh) on the standalone band index,
    * "sh"(… + lang) inside the datasheet's embedded dup engine. */
  private[graft] def bandVerifyInputs(spark: SparkSession, dimDir: String,
      prior: Seq[Long], candLazy: DataFrame,
      docsPart: String = "docs",
      docsCols: Seq[String] = Seq("doc_id", "sh", "nsh"))
      : (DataFrame, DataFrame) = {
    val store = VersionedStore(dimDir, spark)
    val rs = store.readSet(prior)
    if (rs.base.isEmpty)
      (candLazy,
        spark.read.parquet(rs.tail.map(p => s"$dimDir/v$p/$docsPart"): _*))
    else {
      val c = graft.Caches.pin(candLazy)
      val h = (store.bucketPrunedTiers(rs.roots, docsPart, c, "id_b")
          .map(_._2) ++
        rs.tail.map(p => spark.read.parquet(s"$dimDir/v$p/$docsPart")))
        .map(_.select(docsCols.map(col): _*))
        .reduce(_ unionByName _)
      (c, h)
    }
  }

  /** Paths composing a union-store history read over the committed
    * versions `vs`: the read set's stores + the raw slices after it. */
  private def unionStorePaths(spark: SparkSession, dimDir: String,
      vs: Seq[Long], part: String): Seq[String] = {
    val rs = VersionedStore(dimDir, spark).readSet(vs)
    rs.roots.map(_._2) ++ rs.tail.map(v => s"$dimDir/v$v/$part")
  }

  /** The exact paths a janitor may delete under a compacted lineage dir
    * (keep-best survivors, band, span and gram index, ledger, datasheet
    * dims) — the contract of [[VersionedStore.janitorDeletablePaths]]:
    * janitors enumerate instead of re-deriving the rule. */
  def janitorDeletablePaths(dimDir: String): Seq[String] =
    VersionedStore(dimDir).janitorDeletablePaths

  /** Size-tiered compaction of a distinct-union lineage (ledger shas,
    * span index) at its newest committed version `top`: the tail slices
    * and the stores [[VersionedStore.absorb]] picks merge into
    * `v<top>/compact/<part>` (a row is rewritten O(log W) times, and a
    * trigger with small tails writes a small store). Superseded store
    * dirs stay on disk for a concurrent reader of the prior manifest;
    * the janitor contract says which may go.
    *
    * `distinctStore`: span slices overlap across waves, so merges
    * re-distinct (cross-tier duplicates are harmless to the left_semi
    * probe and collapse at the next shared merge); ledger slices are
    * anti-joined disjoint at write, so the union is exact without it. */
  private def compactUnionStore(spark: SparkSession, dimDir: String,
      part: String, cols: Seq[String], distinctStore: Boolean): Unit =
    VersionedStore(dimDir, spark).compact(
        VersionedStore.Tiered("", part)) { m =>
      val merged0 = spark.read.parquet((m.absorbed.map(_._2) ++
          m.tail.map(v => s"$dimDir/v$v/$part")): _*)
        .select(cols.map(col): _*)
      val merged = (if (distinctStore) merged0.distinct() else merged0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = merged.count()
      merged.repartition(math.max(1L, n / 8000000L + 1L).toInt)
        .sortWithinPartitions(col(cols.head))
        .write.mode("overwrite").parquet(s"$dimDir/v${m.top}/compact/$part")
      merged.unpersist(blocking = false)
      s"v${m.top}/compact/$part"
    }

  /** Compact a band-index lineage at its newest committed version `top`:
    * the tail slices and the roots [[VersionedStore.absorb]] picks (tier
    * metric: shingle rows) merge into `v<top>/compact`. Band/docs slices
    * are per-batch disjoint, so tiers partition the store exactly and
    * need no precedence (unlike the keep-best stores' drop algebra).
    *
    * The `docs` store (the fat shingle arrays — the verify side) is
    * kb_bucket range-partitioned by doc_id and sorted within buckets,
    * so the exact-Jaccard verify probes only the candidates' buckets
    * (∝ matches). The `bands` store is size-targeted files sorted by
    * (band, bh): band keys are uniform hashes, so arrival-range
    * bucketing cannot prune a probe — the win here is bounded file
    * count. */
  def compactBandIndex(spark: SparkSession, dimDir: String,
      targetRowsPerBucket: Long = 65536L,
      docsPart: String = "docs",
      docsCols: Seq[String] = Seq("doc_id", "sh", "nsh"),
      maxKeptBucketDirs: Long = VersionedStore.MaxKeptBucketDirs): Unit = {
    val store = VersionedStore(dimDir, spark)
    store.compact(VersionedStore.Tiered(docsPart, docsPart,
        maxKeptBucketDirs)) { m =>
      // the kb_bucket-partitioned tiers and the plain tail slices must
      // be read separately (one mixed read trips Spark's conflicting-
      // directory-structures check) — select() aligns the schemas
      val docs =
        (m.absorbed.map(r => spark.read.parquet(s"${r._2}/$docsPart"))
          ++ m.tail.map(v => spark.read.parquet(s"$dimDir/v$v/$docsPart")))
        .map(_.select(docsCols.map(col): _*))
        .reduce(_ unionByName _)
      val bands = spark.read.parquet(
        (m.absorbed.map(r => s"${r._2}/bands") ++
          m.tail.map(v => s"$dimDir/v$v/bands")): _*)
        .select(col("band"), col("bh"), col("doc_id"))
      val out = s"$dimDir/v${m.top}/compact"
      val shift = VersionedStore.bucketShiftFor(docs, "doc_id",
        targetRowsPerBucket)
      VersionedStore.writeBucketed(docs, "doc_id", s"$out/$docsPart", shift)
      val nBands = bands.count()
      bands.repartition(math.max(1L, nBands / 4000000L + 1L).toInt)
        .sortWithinPartitions(col("band"), col("bh"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$out/bands")
      store.writeBucketShift(out, shift)
      s"v${m.top}/compact"
    }
  }

  /** One maintained wave of the delta keep-best WITH the compaction
    * cadence — [[gramIndexMaintain]]'s sibling on the survivor
    * direction. The cadence also compacts the band-index lineage the
    * maintainer drives (same wave, same `compactEvery`): the keep-best
    * wave cost is bounded only if BOTH its stores' probes are.
    * `compactEvery <= 0` disables the cadence. */
  private[graft] def keepBestDeltaMaintain(dimDir: String, pairsDir: String,
      survDir: String, compactEvery: Int,
      maxKeptBucketDirs: Long = VersionedStore.MaxKeptBucketDirs)(
      batch: DataFrame, batchId: Long): Unit = {
    keepBestDeltaUpdate(dimDir, pairsDir, survDir)(batch, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      val spark = batch.sparkSession
      compactKeepBest(spark, survDir, maxKeptBucketDirs = maxKeptBucketDirs)
      compactBandIndex(spark, dimDir, maxKeptBucketDirs = maxKeptBucketDirs)
    }
  }

  /** The lifecycle guards of a keep-best stream: band and survivor
    * lineages plus the pair slices (the same bandIndexUpdate state
    * [[buildBandIndex]] drives, so both entry points guard it alike). */
  private def startKeepBest(spark: SparkSession, dimDir: String,
      pairsDir: String, survDir: String, ckptDir: String): Unit = {
    VersionedStore(dimDir, spark).startLineage(ckptDir)
    VersionedStore(survDir, spark).startLineage(ckptDir)
    VersionedStore(pairsDir, spark).startSlices(ckptDir, "pair")
  }

  /** Run the keep-best maintainer ([[keepBestDeltaUpdate]]) over a
    * documents stream to completion (AvailableNow), maintaining band
    * index, pair slices and the survivor dim, and compacting both
    * lineages every `compactEvery` waves. Defaults ON at 8: the
    * bounded-listing property must hold without operator opt-in — a
    * lineage that grows until someone remembers to compact is the
    * failure mode the cadence exists to close. Pass 0 to disable. */
  def buildKeepBestDelta(docs: DataFrame, dimDir: String, pairsDir: String,
      survDir: String, ckptDir: String, compactEvery: Int = 8): Unit = {
    startKeepBest(docs.sparkSession, dimDir, pairsDir, survDir, ckptDir)
    runAvailableNow(docs, ckptDir)(_.foreachBatch(
      keepBestDeltaMaintain(dimDir, pairsDir, survDir, compactEvery) _))
  }

  /** The keep-best survivor set as of the latest committed version:
    * assembled survivors plus the singleton majority (every streamed
    * doc in no cluster, labeled as its own cluster — the batch-x59
    * output shape). The singletons derive from the assembled ATTRS dim
    * (one first-wins row per streamed doc), so the reader survives the
    * janitor deleting pre-compaction version dirs. */
  def streamedKeepBestDeltaSurvivors(spark: SparkSession,
      survDir: String): DataFrame = {
    val (attrs, labels, survivors) = assembledKeepBestDims(spark, survDir,
      committedSurvivorVersions(spark, survDir))
    val singletons = attrs
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        col("quality_score"), col("lang"))
    survivors.unionByName(singletons)
  }

  /** The assembled first-wins attrs dim as of the latest committed
    * version (spec/debug surface for the delta lineage). */
  private[graft] def streamedKeepBestAttrs(spark: SparkSession,
      survDir: String): DataFrame =
    assembledKeepBestDims(spark, survDir,
      committedSurvivorVersions(spark, survDir))._1

  private def committedSurvivorVersions(spark: SparkSession,
      survDir: String): Seq[Long] = {
    val vs = VersionedStore(survDir, spark).versions
    require(vs.nonEmpty, s"no committed survivor version in $survDir")
    vs
  }

  /** The key kernel's df map of a frozen gram order frame, collected
    * once per frame object: the order never changes for a stream's
    * life, so every later wave and read reuses the map instead of
    * running a driver job for it. Weakly keyed by frame identity
    * (Dataset keeps reference equality), so a dropped frame frees its
    * map. */
  private val frozenGramDfs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, graft.functions.CustomExprs.GramDf]())

  private def frozenGramDf(gramOrder: DataFrame): graft.functions.CustomExprs.GramDf =
    frozenGramDfs.computeIfAbsent(gramOrder,
      o => graft.ops.LocationResolve.collectGramDf(o))

  /** Tenth maintainer — the fuzzy dictionary's gram/token blocking
    * index, maintained INCREMENTALLY as the dictionary itself changes:
    * the batch path memoizes a per-version index
    * (LocationResolve.fuzzyResolveDim's indexMemoKey) and any
    * dictionary update rebuilds it whole; this updater keys ONLY the
    * batch's added variants and tombstones the removed ones, under a
    * FROZEN gram order (the [[ivfPqIndexUpdate]] frozen-model pattern:
    * prefix filtering is sound under ANY fixed total order — the df
    * order buys selectivity, never recall — so freezing the base
    * dictionary's order keeps every previously-written key slice valid
    * forever; a rebuilt index under the CURRENT df order carries
    * different keys but provably identical resolution results, which
    * is what StreamingSpec compares). Per batch: key the adds (every
    * family, cross grams included, so any later probe shape is
    * served), write them as the version's key slice; write removed
    * vkeys as tombstones; probes are untouched. Cost ∝ batch, never
    * ∝ accumulated dictionary.
    *
    * Batch schema: (vkey, canon, vorder, op), op ∈ 'add'|'del'.
    * Tombstones are VERSIONED: a del at version v kills adds from
    * versions < v only, so add→del→re-add works in one lineage, and
    * the reader keeps only each vkey's LATEST add slice (duplicate
    * re-adds can never double a vkey's bkey rows — the candidate-count
    * economics the shared-key filter was derived for survive long
    * lineages). Within one batch, add wins over del for the same vkey
    * (a del applies to strictly older versions). Commit protocol:
    * [[VersionedStore]]. */
  def gramIndexUpdate(idxDir: String, gramOrder: DataFrame)(
      batch: DataFrame, batchId: Long): Unit =
    VersionedStore(idxDir, batch.sparkSession).wave(batchId) { _ =>
      graft.ops.LocationResolve.withBlockKeys(
          batch.filter(col("op") === "add")
            .select(col("vkey"), col("canon"), col("vorder")),
          "vkey", frozenGramDf(gramOrder), "dlen",
          graft.nlp.Cleaner.FuzzyScoreCutoff,
          grams = true, crossGrams = true)
        .write.mode("overwrite").parquet(s"$idxDir/v$batchId/keys")
      batch.filter(col("op") === "del").select(col("vkey"))
        .write.mode("overwrite").parquet(s"$idxDir/v$batchId/dels")
    }

  /** One maintained wave of the gram index WITH the compaction
    * cadence: the per-batch update, then — every `compactEvery`
    * committed versions — [[compactGramIndex]], so a long-running
    * lineage bounds its own read listing at O(K) waves without an
    * operator remembering to compact. A replayed committed batch
    * no-ops the update, and the compaction is idempotent.
    * `compactEvery <= 0` disables the cadence. */
  private[graft] def gramIndexMaintain(idxDir: String,
      gramOrder: DataFrame, compactEvery: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    gramIndexUpdate(idxDir, gramOrder)(batch, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactGramIndex(batch.sparkSession, idxDir)
  }

  /** Run the incremental dictionary-index maintainer over a variant
    * update stream (rows (vkey, canon, vorder, op)) to completion,
    * compacting the index every `compactEvery` waves. Defaults ON at
    * 8 (see [[buildKeepBestDelta]]). Pass 0 to disable. */
  def buildGramIndex(updates: DataFrame, idxDir: String,
      gramOrder: DataFrame, ckptDir: String,
      compactEvery: Int = 8): Unit = {
    VersionedStore(idxDir, updates.sparkSession).startLineage(ckptDir)
    runAvailableNow(updates, ckptDir)(
      _.foreachBatch(gramIndexMaintain(idxDir, gramOrder, compactEvery) _))
  }

  /** Compact the streamed gram index at its newest committed version
    * `top`, all in one: the LIVE key rows (latest-wins, `_ver` kept)
    * of the prior root and the tail become `v<top>/compact/keys`, the
    * one root of the new manifest, beside an empty `compact/dels`.
    * Dead key rows (tombstoned or superseded re-adds) leave the read
    * path physically. Layout, commit and janitor contract:
    * [[VersionedStore]]. */
  def compactGramIndex(spark: SparkSession, idxDir: String): Unit =
    VersionedStore(idxDir, spark).compact(VersionedStore.AllInOne) { m =>
      val (live, dels) = liveGramRows(spark, idxDir, m.absorbed, m.tail)
      live.write.mode("overwrite").parquet(s"$idxDir/v${m.top}/compact/keys")
      // compacted tombstones are provably inert: compact/keys already
      // excludes every row a tombstone ≤ top could kill, and any later
      // add carries _ver > top ≥ every compacted _maxDel, so the
      // reader's `_maxDel <= _maxAdd` test can never fail through them
      // — the dels are written pruned to EMPTY (schema kept for the
      // reader's union) instead of growing ∝ delete churn
      dels.limit(0).write.mode("overwrite")
        .parquet(s"$idxDir/v${m.top}/compact/dels")
      s"v${m.top}/compact"
    }

  /** The live key rows (with `_ver`) and per-vkey max tombstone
    * version of the tier `roots` plus the `tail` versions' slices. The
    * two per-vkey version dims are broadcast while [[graft.Broadcasts]]
    * fits them at their inputs' footer row counts (key rows bound the
    * vkeys from above). */
  private def liveGramRows(spark: SparkSession, idxDir: String,
      roots: Seq[(Long, String)], tail: Seq[Long]): (DataFrame, DataFrame) = {
    val store = VersionedStore(idxDir, spark)
    def footerRows(part: String) = (roots.map(r => s"${r._2}/$part") ++
      tail.map(v => s"$idxDir/v$v/$part")).map(store.rowCount).sum
    val keys = (roots.map(r => spark.read.parquet(s"${r._2}/keys")) ++
      tail.map(v => spark.read.parquet(s"$idxDir/v$v/keys")
        .withColumn("_ver", lit(v))))
      .reduce(_ unionByName _)
    val dels = (roots.map(r => spark.read.parquet(s"${r._2}/dels")) ++
      tail.map(v => spark.read.parquet(s"$idxDir/v$v/dels")
        .select(col("vkey")).withColumn("_maxDel", lit(v))))
      .reduce(_ unionByName _)
      .groupBy(col("vkey")).agg(max(col("_maxDel")).as("_maxDel"))
    val lastAdd = keys.groupBy(col("vkey")).agg(max(col("_ver")).as("_maxAdd"))
    val live = keys
      .join(graft.Broadcasts(lastAdd, footerRows("keys")), Seq("vkey"))
      .where(col("_ver") === col("_maxAdd"))
      .join(graft.Broadcasts(dels, footerRows("dels")), Seq("vkey"), "left")
      .where(col("_maxDel").isNull || col("_maxDel") <= col("_maxAdd"))
      .drop("_maxAdd", "_maxDel")
    (live, dels)
  }

  /** Resolve DISTINCT probe strings (`fnorm`) against the streamed
    * dictionary index as of the latest committed version: union the
    * read set's key rows under LATEST-WINS version semantics (a key
    * row from slice v is live iff v is its vkey's newest add AND no
    * tombstone at a version > v exists; add→del→re-add resolves to the
    * re-add, duplicate re-adds keep one slice), then the n11/n13
    * candidate pipeline — shared-key filter, derived length band,
    * codegen scorer, argmax with the vorder-then-vkey tiebreak. Probes
    * are keyed under the same frozen order with EVERY family on,
    * mirroring the index's carry (the cold path keys every family too,
    * so the candidate sets match shape-for-shape), on the batch path's
    * keyed probe side ([[graft.ops.LocationResolve.keyedProbeSide]]).
    * The per-vkey version dims are sized from footer counts (see
    * [[liveGramRows]]). StreamingSpec pins equality with the cold
    * rebuild over the surviving dictionary, including an
    * add→del→re-add lineage and a compacted one. */
  def streamedGramResolve(spark: SparkSession, idxDir: String,
      gramOrder: DataFrame, probes: DataFrame): DataFrame = {
    graft.functions.CustomExprs.register(spark)
    val store = VersionedStore(idxDir, spark)
    val vs = store.versions
    require(vs.nonEmpty, s"no committed index version under $idxDir")
    val rs = store.readSet(vs)
    val (liveKeys, _) = liveGramRows(spark, idxDir, rs.roots, rs.tail)
    val live = liveKeys.drop("_ver")
    val probeKeyed = graft.ops.LocationResolve.keyedProbeSide(
      probes.select(col("fnorm")).distinct(), frozenGramDf(gramOrder))
    val cutoff = graft.nlp.Cleaner.FuzzyScoreCutoff
    graft.ops.LocationResolve.candidateFilter(
        live.join(probeKeyed, "bkey")
          .where(graft.ops.LocationResolve.fuzzyLenBandPred(
            col("plen"), col("dlen"), cutoff)),
        Seq("fnorm", "vkey", "canon", "vorder"))
      .withColumn("score", graft.functions.CustomExprs
        .token_sort_ratio(col("fnorm"), col("vkey")))
      .where(col("score") >= cutoff)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fnorm"))
          .orderBy(col("score").desc, col("vorder").asc, col("vkey").asc)))
      .where(col("rn") === 1)
      .select(col("fnorm"), col("canon").as("floc"))
  }

  /** e07 streaming sibling: watermarked stream-stream interval join —
    * clicks joined to the same user's purchases within 10 minutes after
    * the click. Both sides carry a watermark and the join condition bounds
    * purchase_ts relative to click_ts in both directions, so Spark can
    * expire both join states (clicks older than watermark − 10 min,
    * purchases older than watermark) instead of buffering forever — the
    * requirement for an unbounded 100 TB/day stream. Inner-join results
    * emit as they match (append mode), so the finite replay equals the
    * batch form exactly (StreamingSpec). */
  def intervalJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
        expr("user_id = p_user_id AND " +
          "purchase_ts >= click_ts AND " +
          "purchase_ts <= click_ts + interval 10 minutes"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  case class UserStat(userId: Long, nEvents: Long, totalValue: Double,
      lastTs: java.sql.Timestamp)
  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Custom per-key state (KeyValueGroupedDataset.flatMapGroupsWithState):
    * running per-user counters — the primitive behind bespoke sessionization
    * / enrichment the built-in windows can't express. */
  def userStats(events: DataFrame): Dataset[UserStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select($"user_id", $"ts", $"value").as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserStat]) => {
          var (n, tot0, last) = state.getOption
            .map(s => (s.nEvents, s.totalValue, s.lastTs))
            .getOrElse((0L, 0.0, new java.sql.Timestamp(0)))
          // accumulate in exact decimal: the group iterator's order is
          // not guaranteed, and double addition is non-associative — a
          // replayed batch folding the same events in another order
          // would commit a last-ulp-different state (windowedAgg casts
          // to decimal(18,2) for exactly this determinism)
          var tot = java.math.BigDecimal.valueOf(tot0)
          evs.foreach { e =>
            n += 1; tot = tot.add(java.math.BigDecimal.valueOf(e.value))
            if (e.ts.after(last)) last = e.ts
          }
          val s = UserStat(uid, n, tot.doubleValue, last)
          state.update(s)
          Iterator.single(s)
        })
  }

  /** The reference's whole periodic cycle — paginated fetch → checkpoint
    * resume → structure → master transform (Main.py:466-518, §3.1) — as
    * ONE streaming pipeline: the paged DSv2 source in micro-batch mode
    * (offset = page index) feeding the P-op coercions and the NLP
    * cleaner. In streaming the cleaner runs as per-row UDFs (the
    * distinct-strings trick is a batch optimization; the dictionary is a
    * closure constant either way). */
  def tripCycle(spark: SparkSession, pagesDir: String): DataFrame =
    graft.ops.Transform.tripRecordTransform(
      spark.readStream.format("graft.sources.PagedJsonSource")
        .load(pagesDir))

  /** The cycle's persistence step in streaming form: each micro-batch of
    * cleaned records lands as a BOM'd CSV directory (the reference's
    * per-cycle `to_csv(..., encoding="utf-8-sig")`, Main.py:544,562) via
    * foreachBatch + the S7 sink. The checkpoint makes re-runs pick up
    * only newly landed pages — the reference's resume semantics, with
    * exactly-once batch ids naming the output dirs. */
  def tripCycleToCsv(spark: SparkSession, pagesDir: String, outDir: String,
      checkpointDir: String): Unit = {
    runAvailableNow(tripCycle(spark, pagesDir), checkpointDir)(_.foreachBatch {
      (df: DataFrame, batchId: Long) =>
        graft.sources.CsvSink.write(df, s"$outDir/batch_$batchId")
    })
  }

  /** Run a streaming DataFrame to completion over the finite fixture
    * (Trigger.AvailableNow + memory sink + checkpoint dir) and return the
    * materialized result. */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft_ckpt_$name").toString
    runAvailableNow(streamed, ckpt)(
      _.format("memory").queryName(name).outputMode(outputMode))
    spark.table(name)
  }

  private val IsolationKey = "spark.sql.artifact.isolation.enabled"
  private val startLocks = new java.util.WeakHashMap[SparkSession, AnyRef]

  /** Start `streamed` on the sink `sink` sets up, checkpointed at
    * `ckptDir`, as an AvailableNow query, and block until it finishes.
    * Every engine stream starts here.
    *
    * Each start clones the caller's session, and with artifact isolation
    * on, the clone's tasks run under a fresh per-session class loader.
    * Spark keys its codegen cache by (class loader, source), so every
    * start compiled all of the query's generated classes again. The clone
    * copies the caller's conf inside `start()`, so isolation is switched
    * off on the caller only around `start()`: the stream's tasks then
    * share the executors' loader and the classes compiled by earlier
    * starts. A per-session lock keeps concurrent starts from restoring
    * each other's override. A session holding its own artifacts keeps
    * isolation, since its stream may need them. */
  private[graft] def runAvailableNow(streamed: DataFrame, ckptDir: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val spark = streamed.sparkSession
    val w = sink(streamed.writeStream)
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
    val q =
      if (org.apache.spark.sql.graft.SessionArtifacts.added(spark)) w.start()
      else {
        val lock = startLocks.synchronized(
          startLocks.computeIfAbsent(spark, _ => new AnyRef))
        lock.synchronized {
          val before = spark.conf.getAll.get(IsolationKey)
          spark.conf.set(IsolationKey, "false")
          try w.start()
          finally before.fold(spark.conf.unset(IsolationKey))(
            spark.conf.set(IsolationKey, _))
        }
      }
    q.awaitTermination()
  }
}
