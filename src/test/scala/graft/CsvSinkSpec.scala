package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** S7 — the reference's CSV sink (utf-8 master_data.csv, Main.py:562):
  * write the master frame to CSV with headers and read it back; Arabic
  * content and the full column set must round-trip. (The BOM the
  * reference adds is an Excel affordance, non-semantic — SURVEY §1.3.) */
class CsvSinkSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  test("master frame round-trips through the CSV sink") {
    val out = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val master = graft.ops.Transform.q4Master(spark, sf)
    master.write.mode("overwrite")
      .option("header", "true").option("encoding", "UTF-8")
      .csv(out)
    val back = spark.read
      .option("header", "true").option("encoding", "UTF-8")
      .csv(out)
    assert(back.count() == master.count())
    assert(back.columns.toSeq == master.columns.toSeq)
    // Arabic survives the round trip
    val arabic = back.filter(col("end_location_original").contains("مطار")).count()
    assert(arabic > 0)
    // CSV reads everything as string; numeric column content preserved
    val kmSum = back.agg(sum(col("Total_KM").cast("long"))).collect()(0).getLong(0)
    val expected = master.agg(sum(col("Total_KM"))).collect()(0).getLong(0)
    assert(kmSum == expected)
  }

  test("streaming trip cycle lands BOM'd CSV per micro-batch") {
    val sf = SparkSuite.sf
    val pagesDir = graft.sources.PagedLanding.ensureLanded(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_cycle_csv")
    try {
      val out = s"$work/out"
      graft.streaming.Streaming.tripCycleToCsv(spark, pagesDir, out, s"$work/ckpt")
      val batchDirs = Option(new java.io.File(out).listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("batch_"))
      assert(batchDirs.nonEmpty)
      // every part file of every batch carries the BOM
      for (d <- batchDirs; f <- d.listFiles()
           if f.getName.startsWith("part-") && f.getName.endsWith(".csv")) {
        val head = java.nio.file.Files.newInputStream(f.toPath)
        try assert(java.util.Arrays.equals(head.readNBytes(3), graft.sources.CsvSink.Bom),
          f.getName)
        finally head.close()
      }
      // the sink writes one part file per packed split of the source, not
      // one per page: no batch holds more part files than the planner's
      // splits for the landed pages, and every batch holds fewer than pages
      val pages = graft.sources.PagedProtocol.effectivePages(
        pagesDir, graft.sources.PagedProtocol.Default)
      val splits = graft.sources.PagedJsonTable.groupPages(pages).length
      for (d <- batchDirs) {
        val parts = d.listFiles().count(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        assert(parts <= splits, d.getName)
        assert(parts < pages.length, d.getName)
      }
      // the landed rows together equal the batch q5 output row count
      val total = batchDirs.map { d =>
        spark.read.option("header", "true").csv(d.getAbsolutePath).count()
      }.sum
      assert(total == graft.ops.Transform.q5TripCycle(spark, sf).count())
    } finally graft.Fs.deleteRecursively(work)
  }

  test("utf-8-sig sink: every part file starts with the BOM, content intact") {
    val out = java.nio.file.Files.createTempDirectory("graft_csv_bom").toString
    val master = graft.ops.Transform.q4Master(spark, sf)
    graft.sources.CsvSink.write(master, out)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val head = java.nio.file.Files.newInputStream(p.toPath).readNBytes(3)
      assert(head.sameElements(graft.sources.CsvSink.Bom), p.getName)
    }
    // Spark's CSV reader consumes the BOM transparently; content round-trips
    val back = spark.read
      .option("header", "true").option("encoding", "UTF-8").csv(out)
    assert(back.count() == master.count())
    assert(back.columns.toSeq == master.columns.toSeq)
    assert(back.filter(col("end_location_original").contains("مطار")).count() > 0)
  }

  test("utf-8-sig sink: bytes are the BOM followed by the plain csv write") {
    val work = java.nio.file.Files.createTempDirectory("graft_csv_bytes")
    def onlyPart(dir: String): Array[Byte] = {
      val parts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      assert(parts.length == 1, dir)
      java.nio.file.Files.readAllBytes(parts.head.toPath)
    }
    // the writer quotes a header cell that opens the line with its
    // comment char '#'; behind the BOM the line no longer opens with it,
    // so the sink's header starts `#,` where the plain write's starts
    // `"#",` (pandas' utf-8-sig writer also leaves it bare)
    val quotedHash = "\"#\",".getBytes("UTF-8")
    def unquoteHash(b: Array[Byte]): Array[Byte] =
      if (b.startsWith(quotedHash)) "#,".getBytes("UTF-8") ++ b.drop(quotedHash.length)
      else b
    try {
      // pinned, so both writes see one row order
      val master = graft.ops.Transform.q4Master(spark, sf).coalesce(1)
        .localCheckpoint()
      assert(master.columns.head == "#")
      Seq("rows" -> master, "empty" -> master.limit(0).coalesce(1),
          "plain_header" -> master.drop("#")).foreach { case (name, df) =>
        val plain = s"$work/${name}_plain"
        df.write.option("header", "true").option("encoding", "UTF-8").csv(plain)
        graft.sources.CsvSink.write(df, s"$work/${name}_bom")
        val got = onlyPart(s"$work/${name}_bom")
        val want = graft.sources.CsvSink.Bom ++ unquoteHash(onlyPart(plain))
        assert(got.length == want.length && got.sameElements(want),
          s"$name: first difference at byte ${got.zip(want).indexWhere(p => p._1 != p._2)}")
      }
    } finally graft.Fs.deleteRecursively(work)
  }
}
