package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{PagedJsonSource, PagedJsonTable, PagedLanding, PagePartition,
  PagedMicroBatchStream, PagedProtocol}

class PagedSourceSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  /** Land `page_<i>` of `dir` with the given serialIds — the ONE page
    * builder every protocol test uses (four hand-copied variants had
    * already drifted on which fields they wrote); `full` adds the
    * sale_price/entry/station fields the flatten tests read. */
  private def writePage(dir: File, i: Int, ids: Seq[Long],
      full: Boolean = false): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    ids.foreach { id =>
      val o = arr.addObject()
      o.put("serialId", id); o.put("confirm_status", true)
      if (full) {
        o.put("sale_price", id * 1.5)
        o.putObject("entry").put("number", id * 3)
        o.putObject("station").put("name", s"S${id % 2}")
      }
    }
    mapper.writeValue(new File(dir, f"page_$i%05d.json"), arr)
  }

  /** The minimal tests' id scheme: page i carries i*100, i*100+1, … */
  private def pageIds(i: Int, n: Int): Seq[Long] =
    (0 until n).map(j => i * 100L + j)

  /** Spark's file-source split rule written out from the session's
    * confs (`FilePartition.maxSplitBytes`, then `getFilePartitions`'
    * packing without its size sort): the page-name runs a plan over
    * `pages` should hold. */
  private def ruleSplits(pages: Seq[File]): Seq[Seq[String]] = {
    val c = spark.sessionState.conf
    val open = c.filesOpenCostInBytes
    val minParts = c.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(c.filesMaxPartitionBytes,
      math.max(open, pages.map(_.length + open).sum / minParts))
    pages.foldLeft(Vector.empty[(Long, Vector[String])]) { (acc, p) =>
      acc.lastOption match {
        case Some((size, names)) if size + p.length <= maxSplit =>
          acc.init :+ ((size + p.length + open, names :+ p.getName))
        case _ => acc :+ ((p.length + open, Vector(p.getName)))
      }
    }.map(_._2)
  }

  private def plannedSplits(pages: Array[File]): Seq[Seq[String]] =
    PagedJsonTable.groupPages(pages).toSeq.map(
      _.asInstanceOf[PagePartition].files.map(new File(_).getName))

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("batch read: pages packed into byte-sized splits, round-trip") {
    val dir = PagedLanding.ensureLanded(spark, sf)
    val df = spark.read.format("graft.sources.PagedJsonSource").load(dir)
    val pages = PagedJsonTable.listPages(dir)
    val expected = ruleSplits(pages.toSeq)
    assert(df.rdd.getNumPartitions == expected.size)
    assert(expected.size < pages.length, "small pages must share splits")
    // every page in exactly one split, in page order
    val planned = plannedSplits(pages)
    assert(planned == expected)
    assert(planned.flatten == pages.map(_.getName).toSeq)
    // a 1-byte split budget and open cost degenerate to one page a split
    withConfs("spark.sql.files.maxPartitionBytes" -> "1",
        "spark.sql.files.openCostInBytes" -> "1") {
      val one = spark.read.format("graft.sources.PagedJsonSource").load(dir)
      assert(one.rdd.getNumPartitions == pages.length)
      assert(plannedSplits(pages) == pages.map(p => Seq(p.getName)).toSeq)
    }
    assert(df.count() == Tables.orders(spark, sf).count())
    // nested struct fields arrive intact
    val flat = df.select(col("serialId"), col("entry.number"), col("station.name"))
    assert(flat.filter(col("number").isNotNull).count() > 0)
  }

  test("micro-batch stream: checkpointed page resume reads new pages only") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_page_resume")
    val pages = new File(work.toFile, "pages"); pages.mkdirs()
    val ckpt = new File(work.toFile, "ckpt").getAbsolutePath
    val out = new File(work.toFile, "out"); out.mkdirs()

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.PagedJsonSource")
        .schema(PagedJsonSource.schema)
        .load(pages.getAbsolutePath)
        .writeStream.format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    try {
      writePage(pages, 0, Seq(1L, 2L, 3L), full = true)
      writePage(pages, 1, Seq(4L, 5L), full = true)
      runOnce()
      val first = spark.read.parquet(out.getAbsolutePath)
      assert(first.count() == 5)

      // land two more pages; the SAME checkpoint must resume at page 2
      writePage(pages, 2, Seq(6L), full = true)
      writePage(pages, 3, Seq(7L, 8L), full = true)
      runOnce()
      val second = spark.read.parquet(out.getAbsolutePath)
      assert(second.count() == 8) // 5 old (not re-read) + 3 new
      assert(second.select("serialId").distinct().count() == 8)
    } finally graft.Fs.deleteRecursively(work)
  }

  test("micro-batch offsets carry a config fingerprint; mismatch fails loudly") {
    val dir = PagedLanding.ensureLanded(spark, sf)
    def stream(order: String) = new graft.sources.PagedMicroBatchStream(dir,
      graft.sources.PagedProtocol.Default.copy(order = order))
    val a = stream("serialId")
    val json = a.latestOffset().json()
    // same config round-trips
    assert(a.deserializeOffset(json).json() == json)
    // a restart under different order/sort (different page list) must not
    // silently reinterpret positional offsets
    val b = stream("date")
    val e = intercept[IllegalStateException](b.deserializeOffset(json))
    assert(e.getMessage.contains("different"))
    // a bare page count carries no fingerprint and fails the same way
    val bare = intercept[IllegalStateException](a.deserializeOffset("7"))
    assert(bare.getMessage.contains("different"))
  }

  test("replayed batch keeps its own short frontier page exempt from the limit invariant") {
    val work = java.nio.file.Files.createTempDirectory("graft_replay")
    try {
      // batch (0,2) was recorded when page_1 (short) was the frontier;
      // page_2 landed after the crash, before the replay
      val config = PagedProtocol.Default.copy(limit = Some(3))
      writePage(work.toFile, 0, pageIds(0, 3))
      writePage(work.toFile, 1, pageIds(1, 2))
      val recorded = new PagedMicroBatchStream(work.toString, config)
      val (start, end) =
        (recorded.initialOffset().json(), recorded.latestOffset().json())
      writePage(work.toFile, 2, pageIds(2, 3))
      val stream = new PagedMicroBatchStream(work.toString, config)
      val parts = stream.planInputPartitions(
        stream.deserializeOffset(start), stream.deserializeOffset(end))
      val factory = stream.createReaderFactory()
      val n = parts.map { p =>
        val r = factory.createReader(p)
        var c = 0
        while (r.next()) c += 1 // must NOT FetchAbort on short page_1
        c
      }.sum
      assert(n == 5)
    } finally graft.Fs.deleteRecursively(work)
  }

  test("a packed split holding the short final page reads under the limit invariant") {
    val work = java.nio.file.Files.createTempDirectory("graft_packed_limit")
    try {
      (0 until 4).foreach(i => writePage(work.toFile, i, pageIds(i, 3)))
      writePage(work.toFile, 4, pageIds(4, 1))
      // one split for the whole read: the short page shares it
      withConfs("spark.sql.files.minPartitionNum" -> "1") {
        val df = spark.read.format("graft.sources.PagedJsonSource")
          .option("limit", "3").load(work.toString)
        assert(df.rdd.getNumPartitions == 1)
        assert(df.count() == 13) // no FetchAbort on the short final page
      }
    } finally graft.Fs.deleteRecursively(work)
  }

  test("protocol knobs: stop-on-empty-page, 401-abort, limit invariant") {
    def wp(dir: File, i: Int, n: Int): Unit =
      writePage(dir, i, pageIds(i, n))
    val made = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
    def freshDir(name: String): File = {
      val d = java.nio.file.Files.createTempDirectory(name)
      made += d; d.toFile
    }
    try {
    def read(dir: File, opts: Map[String, String] = Map.empty) = {
      var r = spark.read.format("graft.sources.PagedJsonSource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(dir.getAbsolutePath)
    }

    // stop path: the first empty page ends the stream, later pages ignored
    val stopDir = freshDir("graft_proto_stop")
    wp(stopDir, 0, 3); wp(stopDir, 1, 0); wp(stopDir, 2, 4)
    assert(read(stopDir).count() == 3)
    assert(read(stopDir, Map("stopOnEmptyPage" -> "false")).count() == 7)

    // abort path: a 401 status sidecar fails the whole read
    val abortDir = freshDir("graft_proto_abort")
    wp(abortDir, 0, 3); wp(abortDir, 1, 3)
    java.nio.file.Files.writeString(
      new File(abortDir, "page_00001.json.status").toPath, "401")
    val ex = intercept[Exception] { read(abortDir).count() }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse(""))).mkString(" | ")
    assert(rootMsg(ex).contains("401"), rootMsg(ex))
    // a non-abort status (e.g. transient 429) does not kill the read
    java.nio.file.Files.writeString(
      new File(abortDir, "page_00001.json.status").toPath, "429")
    assert(read(abortDir).count() == 6)

    // order/sort: a landed mirror subdirectory is selected when present
    val mirrorDir = freshDir("graft_proto_mirror")
    wp(mirrorDir, 0, 2)
    val sub = new File(new File(mirrorDir, "serialId"), "desc"); sub.mkdirs()
    wp(sub, 0, 5)
    assert(read(mirrorDir).count() == 2) // default order/sort: base dir
    assert(read(mirrorDir,
      Map("order" -> "serialId", "sort" -> "desc")).count() == 5)

    // limit invariant: a short non-final page is a protocol violation
    val limitDir = freshDir("graft_proto_limit")
    wp(limitDir, 0, 3); wp(limitDir, 1, 2); wp(limitDir, 2, 3)
    val lex = intercept[Exception] {
      read(limitDir, Map("limit" -> "3")).count()
    }
    assert(rootMsg(lex).contains("expected limit=3"), rootMsg(lex))
    // the final page may be short
    val okDir = freshDir("graft_proto_ok")
    wp(okDir, 0, 3); wp(okDir, 1, 2)
    assert(read(okDir, Map("limit" -> "3")).count() == 5)
    } finally made.foreach(graft.Fs.deleteRecursively)
  }

  test("protocol knobs apply to the micro-batch stream (stop-on-empty)") {
    val work = java.nio.file.Files.createTempDirectory("graft_proto_stream")
    try {
      val pages = new File(work.toFile, "pages"); pages.mkdirs()
      writePage(pages, 0, pageIds(0, 3))
      writePage(pages, 1, Seq.empty)
      writePage(pages, 2, pageIds(2, 4))
      val q = spark.readStream.format("graft.sources.PagedJsonSource")
        .schema(PagedJsonSource.schema)
        .load(pages.getAbsolutePath)
        .writeStream.format("memory").queryName("proto_stream")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the empty page terminates the stream: page 2 is never read
      assert(spark.table("proto_stream").count() == 3)
    } finally graft.Fs.deleteRecursively(work)
  }

  test("streaming trip cycle equals the batch master transform") {
    import org.apache.spark.sql.functions._
    val dir = PagedLanding.ensureLanded(spark, sf)
    val streamed = graft.streaming.Streaming.runToMemory(spark,
      graft.streaming.Streaming.tripCycle(spark, dir), "trip_cycle")
    val got = streamed
      .select(col("serialId"), col("date"), col("sale_price"),
        col("Total_KM"), col("Car_Num"), col("end_location"),
        col("Trip_Type"), col("num_locations"))
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Transform.master(spark, sf)
      .select(col("trip_key").as("serialId"), col("date"), col("sale_price"),
        col("Total_KM"), col("Car_Num"), col("end_location"),
        col("Trip_Type"), col("num_locations"))
      .collect().map(_.toSeq).toSet
    assert(got == batch)
  }
}
