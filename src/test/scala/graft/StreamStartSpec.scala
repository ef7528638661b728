package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.streaming.Streaming

/** Every engine stream starts through `Streaming.runAvailableNow`. A
  * repeated start of the same query must reuse the generated classes the
  * first start compiled, and the start must leave the caller's session
  * as it found it. */
class StreamStartSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf
  private val Key = "spark.sql.artifact.isolation.enabled"

  /** janino compilations in this JVM so far (driver and local tasks). */
  private def compiles: Long = Metrics.compiled._1

  private def tmp(p: String) = Files.createTempDirectory(s"graft_start_$p")

  test("compile reuse: a second trip cycle compiles no generated class") {
    val pages = new File(graft.sources.PagedLanding.ensureLanded(spark, sf))
      .listFiles().filter(_.getName.startsWith("page_")).sortBy(_.getName)
    assert(pages.length >= 2, "the gate needs two cycles' worth of pages")
    val work = tmp("cycle")
    val landing = work.resolve("landing"); Files.createDirectories(landing)
    def land(ps: Seq[File]): Unit = ps.foreach(p => Files.copy(p.toPath,
      landing.resolve(p.getName), StandardCopyOption.REPLACE_EXISTING))
    def cycle(): Unit = Streaming.tripCycleToCsv(spark, landing.toString,
      s"$work/out", s"$work/ckpt")
    def batches = new File(s"$work/out").list().count(_.startsWith("batch_"))
    try {
      val (first, second) = pages.splitAt(pages.length / 2)
      land(first.toSeq); cycle()
      val before = batches
      land(second.toSeq)
      val c0 = compiles
      cycle()
      val n = compiles - c0
      assert(batches == before + 1, "the second cycle landed no batch")
      assert(n == 0, s"the second trip cycle compiled $n generated classes")
    } finally graft.Fs.deleteRecursively(work)
  }

  test("compile reuse: a maintainer's second start compiles no generated class") {
    import spark.implicits._
    val bench = Tables.documents(spark, sf).filter($"doc_id" % 17 === 0)
    val parts = (0 until 3).map(i => bench.filter($"doc_id" % 3 === i))
    val (landing, dimDir, ckpt) = (tmp("blk_landing"), tmp("blk_dim"), tmp("blk_ckpt"))
    def land(i: Int): Unit = {
      val w = tmp(s"blk_part$i")
      parts(i).coalesce(1).write.mode("overwrite").parquet(w.toString)
      val f = new File(w.toString).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(f.toPath, landing.resolve(s"part$i.parquet"))
      graft.Fs.deleteRecursively(w)
    }
    def start(): Unit = Streaming.buildBlocklist(
      spark.readStream.schema(Streaming.documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing.toString),
      dimDir.toString, ckpt.toString)
    try {
      land(0); land(1); start()
      land(2)
      val c0 = compiles
      start()
      val n = compiles - c0
      assert(Streaming.blocklist(dimDir.toString).isDefined)
      assert(new File(dimDir.toString).list().count(_.matches("v\\d+")) == 3)
      assert(n == 0, s"the blocklist's second start compiled $n generated classes")
    } finally Seq(landing, dimDir, ckpt).foreach(graft.Fs.deleteRecursively)
  }

  /** A three-row parquet landing dir, streamed. */
  private def tinyStream(s: org.apache.spark.sql.SparkSession): DataFrame = {
    val dir = tmp("tiny")
    s.range(3).write.mode("overwrite").parquet(s"$dir/d")
    s.readStream.schema("id LONG").parquet(s"$dir/d")
  }

  /** Run `df` through the helper; the isolation value the stream's own
    * session saw. */
  private def streamIsolation(df: DataFrame): String = {
    var seen = "unset"
    Streaming.runAvailableNow(df, tmp("ckpt").toString)(_.foreachBatch {
      (b: DataFrame, _: Long) => seen = b.sparkSession.conf.get(Key)
    })
    seen
  }

  test("session hygiene: the caller's isolation value survives a start") {
    for (before <- Seq(None, Some("true"), Some("false"))) {
      before.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
      try {
        assert(streamIsolation(tinyStream(spark)) == "false", s"before=$before")
        assert(spark.conf.getAll.get(Key) == before, s"before=$before")
      } finally spark.conf.unset(Key)
    }
  }

  test("session hygiene: concurrent starts on one session leave the value unchanged") {
    spark.conf.unset(Key)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { t =>
      new Thread(() =>
        try (0 until 4).foreach { i =>
          val out = Streaming.runToMemory(spark, tinyStream(spark), s"start_race_${t}_$i")
          assert(out.count() == 3)
        } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    assert(!spark.conf.getAll.contains(Key), spark.conf.getAll.get(Key))
  }

  test("session hygiene: a session holding an added artifact keeps isolation") {
    val s = spark.newSession()
    assert(!org.apache.spark.sql.graft.SessionArtifacts.added(s))
    s.addArtifact(Array[Byte](0xca.toByte, 0xfe.toByte),
      "classes/graft/StreamStartProbe.class")
    assert(org.apache.spark.sql.graft.SessionArtifacts.added(s))
    assert(streamIsolation(tinyStream(s)) == "true")
    assert(!s.conf.getAll.contains(Key))
  }
}
