package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Dedup, LocationResolve, Pipeline, Sampling, TextAnalysis}
import graft.streaming.{Streaming, VersionedStore}

/** The one broadcast-size rule ([[Broadcasts]]): its arithmetic, its two
  * count paths, every gated site at the sf0.01 fixture, and
  * broadcast ≡ shuffle parity at the gates that have no other spec. */
class BroadcastsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  private def hints(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size

  /** Hint counts of one site built by default, forced to broadcast and
    * forced to shuffle. */
  private def regimes(site: => DataFrame): (Int, Int, Int) =
    (hints(site), hints(Broadcasts.forcing(true)(site)),
      hints(Broadcasts.forcing(false)(site)))

  /** Rows of `site` forced to broadcast and forced to shuffle; the
    * shuffle form runs with auto-broadcast off, so it really shuffles. */
  private def bothRegimes(site: => DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))
    val bc = rows(Broadcasts.forcing(true)(site))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val sh =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rows(Broadcasts.forcing(false)(site))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    (bc, sh)
  }

  private def tmp(p: String): String =
    Files.createTempDirectory(s"graft_bcast_$p").toString

  test("budget arithmetic: rows × (defaultSize + 8 B) against 1 GiB") {
    val labels = StructType(Seq(
      StructField("id", LongType), StructField("label", LongType)))
    assert(Broadcasts.rowBytes(labels) == 24)
    assert(Broadcasts.maxRows(labels) == 44739242L)
    val words = StructType(Seq(
      StructField("w", StringType), StructField("n_toks", LongType)))
    assert(Broadcasts.rowBytes(words) == 36)
    assert(Broadcasts.maxRows(words) == 29826161L)
    val df = spark.range(1).select(lit(1L).as("id"), lit(2L).as("label"))
    assert(Broadcasts.fits(df, 44739242L) && !Broadcasts.fits(df, 44739243L))
  }

  test("a known count decides with no Spark job; the seam skips the count") {
    val df = spark.range(10).toDF("id")
    val m = Metrics.attach(spark)
    val (small, huge) =
      try (Broadcasts(df, 10L), Broadcasts.fits(df, 1L << 40)) finally m.detach()
    assert(m.jobs.isEmpty, m.jobs)
    assert(hints(small) == 1 && !huge)
    var counted = false
    assert(!Broadcasts.forcing(false)(Broadcasts.fits(df, { counted = true; 1L })))
    assert(hints(Broadcasts.forcing(true)(Broadcasts(df, { counted = true; Long.MaxValue }))) == 1)
    assert(!counted, "a forced regime evaluated the count")
  }

  test("early-out count: exact at the budget edge") {
    // 100 BINARY columns size a row at 10,008 B: the budget holds 107,288
    def wide(n: Long): DataFrame =
      spark.range(n).select((1 to 100).map(i => lit(Array[Byte]()).as(s"b$i")): _*)
    val max = Broadcasts.maxRows(wide(1).schema)
    assert(max == 107288L)
    val m = Metrics.attach(spark)
    try {
      assert(Broadcasts.fits(wide(max)))
      assert(!Broadcasts.fits(wide(max + 1)))
      assert(hints(Broadcasts(wide(10 * max))) == 0)
      assert(hints(Broadcasts(wide(3))) == 1)
      // an adaptive plan (a shuffle below the count) sizes the same way
      assert(!Broadcasts.fits(wide(max + 1).repartition(3)))
    } finally m.detach()
    assert(m.jobs.nonEmpty, "the early-out path ran no count")
  }

  test("every gated batch site resolves to broadcast at sf0.01") {
    val sf01 = SparkSuite.sf01
    val part = Tables.part(spark, sf01)
    val dim = LocationResolve.gramScaleDim(part).withColumn("vorder", lit(0L))
    val probes = LocationResolve.gramProbes(part).select(col("norm").as("fnorm")).distinct()
    val sites = Seq[(String, () => DataFrame)](
      "x11 band self-join" -> (() => Dedup.buildMinhashLshPairs(spark, sf01)),
      "x28 label dim" -> (() => Dedup.softDedup(spark, sf01)),
      "x59 label dims" -> (() => Dedup.dedupKeepBest(spark, sf01)),
      "x66 label dims" -> (() => Pipeline.pipelineE2e(spark, sf01)),
      "x71 label dim" -> (() => Sampling.leakageFreeSplit(spark, sf01)),
      "x73 label dim" -> (() => Pipeline.corpusDatasheet(spark, sf01)),
      "x74 label dim" -> (() => Pipeline.corpusDatasheetApprox(spark, sf01)),
      "x75 label dim" -> (() => Pipeline.pipelineV2(spark, sf01)),
      "x56 word dim" -> (() => TextAnalysis.bpeTokenize(spark, sf01)),
      "n13 probe side" -> (() => LocationResolve.fuzzyResolveDim(probes, dim, Some(true))))
    try sites.foreach { case (name, site) =>
      val (dflt, bc, sh) = regimes(site())
      assert(dflt == bc && sh < bc,
        s"$name: $dflt hints by default, $bc forced to broadcast, $sh forced to shuffle")
    } finally Caches.clear(spark)
  }

  test("x11 band self-join: broadcast ≡ shuffle") {
    val (bc, sh) = bothRegimes(Dedup.buildMinhashLshPairs(spark, sf))
    assert(bc.nonEmpty && bc == sh)
  }

  test("keep-best delta with drops: the drop dim broadcast ≡ shuffle") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    // three waves, so wave 3 merges clusters formed in different waves
    // and drops the older labels
    (0 until 3).foreach { i =>
      Streaming.keepBestDeltaUpdate(dimDir, pairsDir, survDir)(
        docs.filter($"doc_id" % 3 === i), i.toLong)
    }
    val store = VersionedStore(survDir, spark)
    assert((0 until 3).map(v => store.rowCount(s"$survDir/v$v/drops")).sum > 0,
      "no wave dropped a cluster — the drop dim is empty")
    def survivors = Streaming.streamedKeepBestDeltaSurvivors(spark, survDir)
    val (dflt, bcHints, shHints) = regimes(survivors)
    assert(dflt == bcHints && shHints < bcHints, (dflt, bcHints, shHints))
    val (bc, sh) = bothRegimes(survivors)
    assert(bc.nonEmpty && bc == sh)
    // the same gate on the compaction's cumulative drop store
    Broadcasts.forcing(false)(Streaming.compactKeepBest(spark, survDir))
    val (bc2, sh2) = bothRegimes(survivors)
    assert(bc2 == bc && sh2 == bc)
  }

  test("streamed gram index over add → del → re-add: the version dims " +
      "broadcast ≡ shuffle") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val dict = LocationResolve.gramScaleDim(
        spark.range(300).select($"id".as("p_partkey")))
      .withColumn("vorder", lit(0L)).localCheckpoint()
    val dels = dict.filter(xxhash64($"vkey", lit(7)) % 4 === 0)
      .select($"vkey").localCheckpoint()
    val readds = dict.join(
        dels.filter(xxhash64($"vkey", lit(11)) % 2 === 0), Seq("vkey"))
      .localCheckpoint()
    val gorder = LocationResolve.gramOrderOf(dict, "vkey").localCheckpoint()
    val idxDir = tmp("gidx")
    Streaming.gramIndexUpdate(idxDir, gorder)(dict.withColumn("op", lit("add")), 0L)
    Streaming.gramIndexUpdate(idxDir, gorder)(
      dels.withColumn("canon", lit("")).withColumn("vorder", lit(0L))
        .withColumn("op", lit("del"))
        .select($"vkey", $"canon", $"vorder", $"op"), 1L)
    Streaming.gramIndexUpdate(idxDir, gorder)(readds.withColumn("op", lit("add")), 2L)
    val probes = LocationResolve.gramProbes(
        spark.range(0, 300, 2).select($"id".as("p_partkey")))
      .select($"norm".as("fnorm")).distinct().localCheckpoint()
    def resolved = Streaming.streamedGramResolve(spark, idxDir, gorder, probes)
    val (dflt, bcHints, shHints) = regimes(resolved)
    assert(dflt == bcHints && shHints < bcHints, (dflt, bcHints, shHints))
    val (bc, sh) = bothRegimes(resolved)
    assert(bc.nonEmpty && bc == sh)
    // the compaction reads the same dims: compacted under the shuffle
    // regime, the index resolves as before
    Broadcasts.forcing(false)(Streaming.compactGramIndex(spark, idxDir))
    val (bc2, sh2) = bothRegimes(resolved)
    assert(bc2 == bc && sh2 == bc)
  }
}
