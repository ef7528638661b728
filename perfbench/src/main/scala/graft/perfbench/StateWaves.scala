package graft.perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, LocationResolve}
import graft.streaming.Streaming

/** Streamed-state waves: each op commits one document wave through the
  * delta keep-best maintainer and one dictionary add/delete delta through
  * the gram index, compacting both on the maintainers' default cadence
  * (every 8th version). After each wave a read (timed apart from the op)
  * runs the two streamed readers over a fixed probe set.
  *
  * Input (from gen.py): `<data>/waves/wNNN/docs.parquet` (wave 0 is the
  * base state), `<data>/dict/wNNN.parquet` (vkey, canon, vorder, op;
  * wave 0 is the base dictionary) and `<data>/probes.parquet` (fnorm). */
class StateWaves extends Workload {
  val CompactEvery = 8
  private def dimDir(c: Ctx) = s"${c.work}/kb_dim"
  private def pairsDir(c: Ctx) = s"${c.work}/kb_pairs"
  private def survDir(c: Ctx) = s"${c.work}/kb_surv"
  private def idxDir(c: Ctx) = s"${c.work}/gram_idx"
  private def stores(c: Ctx) = Seq(dimDir(c), pairsDir(c), survDir(c), idxDir(c))
  private def wave(c: Ctx, k: Int) = f"${c.data}/waves/w$k%03d/docs.parquet"
  private def delta(c: Ctx, k: Int) = f"${c.data}/dict/w$k%03d.parquet"

  private var gorder: DataFrame = _
  private var probes: DataFrame = _
  private var ingestedBytes = 0L
  private var pending = (0L, 0L)

  private def commit(c: Ctx, k: Int): Unit = {
    val docs = c.spark.read.parquet(wave(c, k))
    val dict = c.spark.read.parquet(delta(c, k))
    Trace.span("streaming.update") {
      Streaming.keepBestDeltaUpdate(dimDir(c), pairsDir(c), survDir(c))(docs, k)
      Streaming.gramIndexUpdate(idxDir(c), gorder)(dict, k)
    }
    if ((k + 1) % CompactEvery == 0) Trace.span("streaming.compact") {
      Streaming.compactKeepBest(c.spark, survDir(c))
      Streaming.compactBandIndex(c.spark, dimDir(c))
      Streaming.compactGramIndex(c.spark, idxDir(c))
    }
  }

  private def inputBytes(c: Ctx, k: Int) =
    Main.dirBytes(wave(c, k)) + Main.dirBytes(delta(c, k))

  override def setup(c: Ctx): Unit = {
    stores(c).foreach(Main.deleteTree)
    stores(c).foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    graft.functions.CustomExprs.register(c.spark)
    // the frozen gram order comes from the base dictionary
    val base = c.spark.read.parquet(delta(c, 0))
    gorder = LocationResolve.gramOrderOf(base, "vkey").localCheckpoint()
    probes = c.spark.read.parquet(s"${c.data}/probes.parquet").localCheckpoint()
    commit(c, 0)
    read(c)
    ingestedBytes = inputBytes(c, 0)
    c.facts("state_bytes_before") = bytesOnDisk(c)
  }

  override def prepare(c: Ctx, i: Int): Boolean = {
    val k = i + 1
    if (!new File(wave(c, k)).exists()) return false
    pending = (c.spark.read.parquet(wave(c, k)).count(), inputBytes(c, k))
    true
  }

  override def op(c: Ctx, i: Int): (Long, Long) = {
    commit(c, i + 1)
    ingestedBytes += pending._2
    pending
  }

  private def read(c: Ctx): (Long, Map[String, String]) = {
    val survivors = Trace.span("streaming.read") {
      Streaming.streamedKeepBestDeltaSurvivors(c.spark, survDir(c)).count()
    }
    val resolved = Trace.span("streaming.read") {
      Streaming.streamedGramResolve(c.spark, idxDir(c), gorder, probes)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    (survivors, resolved)
  }

  override def after(c: Ctx, i: Int): Unit = {
    Trace.op = i
    val t0 = System.nanoTime()
    val (n, resolved) = read(c)
    c.sample("read_s", (System.nanoTime() - t0) / 1e9)
    Trace.op = -1
    c.sample("streaming.state_bytes", stores(c).map(Main.dirBytes).sum.toDouble)
    c.sample("streaming.files", stores(c).map(fileCount).sum.toDouble)
    c.sample("streaming.tiers", stores(c).map(tierCount).sum.toDouble)
    c.outputs += Map("op" -> i, "survivors" -> n, "resolved" -> resolved.size)
  }

  private def fileCount(d: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
    try s.filter(java.nio.file.Files.isRegularFile(_)).count() finally s.close()
  }

  /** Committed versions a reader still assembles: compacted roots plus
    * the version dirs committed after the newest one. */
  private def tierCount(d: String): Long = {
    val vs = Option(new File(d).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => f.getName.drop(1).toLong -> new File(f, "compact").isDirectory)
    val roots = vs.filter(_._2).map(_._1)
    val newest = if (roots.isEmpty) -1L else roots.max
    roots.length + vs.count(_._1 > newest)
  }

  override def bytesOnDisk(c: Ctx): Long = stores(c).map(Main.dirBytes).sum

  /** Final-state checks: the streamed survivors equal the batch
    * keep-best over every ingested doc, and the streamed resolve equals a
    * cold blocked resolve over the surviving dictionary. */
  override def finish(c: Ctx): Unit = {
    val spark = c.spark
    val top = c.outputs.size
    val all = (0 to top).map(k => spark.read.parquet(wave(c, k))).reduce(_ unionByName _)
    val batchDir = s"${c.work}/check_batch"
    all.write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
    def rows(df: DataFrame) = df.select("doc_id", "cluster_id", "quality_score", "lang")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val streamed = rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir(c)))
    val batch = rows(Dedup.dedupKeepBest(spark, batchDir))
    c.facts("survivors_match") = streamed == batch
    c.facts("survivors") = streamed.size
    c.facts("clusters") = streamed.count { case (d, cl, _, _) => d != cl }

    val ops = (0 to top).map(k => spark.read.parquet(delta(c, k)).withColumn("_v", lit(k)))
      .reduce(_ unionByName _)
    val lastAdd = ops.where(col("op") === "add").groupBy("vkey").agg(max("_v").as("_a"))
    val lastDel = ops.where(col("op") === "del").groupBy("vkey").agg(max("_v").as("_d"))
    val surviving = ops.where(col("op") === "add")
      .join(lastAdd, "vkey").where(col("_v") === col("_a"))
      .join(lastDel, Seq("vkey"), "left")
      .where(col("_d").isNull || col("_d") <= col("_a"))
      .select("vkey", "canon", "vorder")
    val cold = LocationResolve.fuzzyResolveDim(probes, surviving, Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val streamedRes = Streaming.streamedGramResolve(spark, idxDir(c), gorder, probes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    c.facts("resolve_match") = cold == streamedRes
    c.facts("resolved") = streamedRes.size
    c.facts("probes") = probes.count()
    c.facts("ingested_bytes") = ingestedBytes
    c.facts("state_bytes") = bytesOnDisk(c)
  }
}
