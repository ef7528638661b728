package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Streaming, VersionedStore}

/** The local file system under a scheme of its own. A store path that
  * leaks into java.nio reads `graftfs:///tmp/x` as the relative path
  * `graftfs:/tmp/x` under the working directory. */
class GraftFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** The streaming store's protocol: the tier-merge rule, and whole
  * lineages on a non-default Hadoop FileSystem. */
class VersionedStoreSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  test("absorb: smallest roots first while ≤ 2× the merged rows; the " +
      "kept roots' bucket-dir bound absorbs every root") {
    val roots = Seq(("a", 1000L, 3L), ("b", 40L, 1L), ("c", 15L, 1L))
    // tail 10: c (15 ≤ 20) → 25 merged, b (40 ≤ 50) → 65, a (1000) kept
    assert(VersionedStore.absorb(10L, roots, 4096L) ==
      (Seq("c", "b"), Seq("a")))
    assert(VersionedStore.absorb(10L, roots, 2L) ==
      (Seq("c", "b", "a"), Seq()))
    assert(VersionedStore.absorb(0L, roots, 4096L) == (Seq(), roots.map(_._1)))
  }

  test("keep-best and gram-index lineages run on a graftfs:// " +
      "FileSystem: batch parity, janitor sweep, nothing on local paths") {
    import spark.implicits._
    import graft.ops.LocationResolve
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftFs].getName)
    val cwd = new java.io.File(System.getProperty("user.dir"))
    def strays = Option(cwd.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graftfs")).map(_.getName)
    assert(strays.isEmpty, s"stale graftfs entries under $cwd: $strays")
    def tmp(p: String) = "graftfs://" +
      java.nio.file.Files.createTempDirectory(s"graft_gfs_$p").toString
    val fs = new Path("graftfs:///").getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[GraftFs])
    def sweep(dir: String): Unit = {
      val offered = Streaming.janitorDeletablePaths(dir)
      assert(offered.nonEmpty && offered.forall(_.startsWith("graftfs:")),
        s"janitor offers no graftfs path under $dir: $offered")
      offered.foreach(p => assert(fs.delete(new Path(p), true), p))
    }

    val docs = Tables.documents(spark, sf)
    val (dimDir, pairsDir, survDir) = (tmp("dim"), tmp("pairs"), tmp("surv"))
    (0 until 4).foreach { i =>
      Streaming.keepBestDeltaMaintain(dimDir, pairsDir, survDir,
        compactEvery = 2)(docs.filter($"doc_id" % 4 === i), i.toLong)
    }
    assert(fs.exists(new Path(s"$survDir/v3/_CUMULATIVE")) &&
      fs.exists(new Path(s"$dimDir/v3/_CUMULATIVE")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "quality_score", "lang")
        .collect().map(_.toSeq).toSet
    val batch = rows(graft.ops.Dedup.dedupKeepBest(spark, sf))
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
      == batch, "graftfs delta keep-best diverged from batch x59")
    sweep(survDir)
    sweep(dimDir)
    assert(rows(Streaming.streamedKeepBestDeltaSurvivors(spark, survDir))
      == batch, "post-janitor graftfs keep-best diverged from batch x59")

    graft.functions.CustomExprs.register(spark)
    val dict = LocationResolve.gramScaleDim(
        spark.range(600).select($"id".as("p_partkey")))
      .withColumn("vorder", lit(0L)).localCheckpoint()
    val gorder = LocationResolve.gramOrderOf(dict, "vkey").localCheckpoint()
    def slice(i: Int) = dict.filter(pmod(xxhash64($"vkey"), lit(4)) === i)
    val dels = slice(0).filter(pmod(xxhash64($"vkey", lit(7)), lit(3)) === 0)
      .select($"vkey").localCheckpoint()
    val idxDir = tmp("gidx")
    (0 until 4).foreach { i =>
      val adds = slice(i).withColumn("op", lit("add"))
      val wave =
        if (i < 3) adds
        else adds.unionByName(dels.withColumn("canon", lit(""))
          .withColumn("vorder", lit(0L)).withColumn("op", lit("del"))
          .select($"vkey", $"canon", $"vorder", $"op"))
      Streaming.gramIndexMaintain(idxDir, gorder, compactEvery = 2)(
        wave, i.toLong)
    }
    assert(fs.exists(new Path(s"$idxDir/v3/_CUMULATIVE")))
    val probes = LocationResolve.gramProbes(
        spark.range(0, 600, 3).select($"id".as("p_partkey")))
      .select($"norm".as("fnorm")).distinct().localCheckpoint()
    def resolveNow() =
      Streaming.streamedGramResolve(spark, idxDir, gorder, probes)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val streamed = resolveNow()
    val cold = LocationResolve.fuzzyResolveDim(probes,
        dict.join(dels, Seq("vkey"), "left_anti"), Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed.nonEmpty && streamed == cold,
      "graftfs gram index diverged from the cold rebuild")
    sweep(idxDir)
    assert(resolveNow() == streamed,
      "post-janitor graftfs gram index changed resolution")

    assert(strays.isEmpty,
      s"a store path reached java.nio: graftfs entries under $cwd: $strays")
  }
}
