package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.CleanApi
import graft.sources.CsvSink
import graft.streaming.Streaming

/** The reference's unit of work: land a fresh page set, then one
  * checkpointed AvailableNow cycle reads only the new pages, cleans them
  * and writes them through the CSV sink.
  *
  * Input (from gen.py): `<data>/cycles/cNNNN/page_*.json`. Set-up lands
  * the first `base` cycles (the base state) with one cycle each, so the
  * timed cycles do not run through the JVM's warm-up; cycle base+i feeds
  * op i. Each timed cycle's `heldout.txt` holds strings of the same
  * grammar that no cycle lands.
  *
  * Untraced, an op is one `Streaming.tripCycleToCsv` call. Traced, the
  * same cycle runs as the same composition cut at each layer boundary:
  * the paged source's rows, the cleaner's output and the sink are each
  * materialized under their own span, inside one streaming trigger, and
  * CleanApi is timed on the cycle's held-out strings. */
class TripCycle extends Workload {
  private def landing(c: Ctx) = s"${c.work}/landing"
  private def outDir(c: Ctx) = s"${c.work}/csv"
  private def ckpt(c: Ctx) = s"${c.work}/ckpt"
  private def cycleDir(c: Ctx, k: Int) = new File(f"${c.data}/cycles/c$k%04d")

  /** Copy cycle k's pages into the landing dir; returns their bytes. */
  private def land(c: Ctx, k: Int): Long = {
    val pages = Option(cycleDir(c, k).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("page_")).sortBy(_.getName)
    var bytes = 0L
    pages.foreach { p =>
      bytes += p.length()
      Files.copy(p.toPath, Paths.get(landing(c), p.getName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    bytes
  }

  private var pendingBytes = 0L
  private var pendingRecords = 0L
  private var pendingHeldOut = Seq.empty[String]

  private var base = 0

  override def setup(c: Ctx): Unit = {
    Seq(landing(c), outDir(c), ckpt(c)).foreach(Main.deleteTree)
    Files.createDirectories(Paths.get(landing(c)))
    base = scala.io.Source.fromFile(s"${c.data}/cycles/base_cycles").mkString.trim.toInt
    (0 until base).foreach { k =>
      land(c, k)
      Streaming.tripCycleToCsv(c.spark, landing(c), outDir(c), ckpt(c))
    }
    CleanApi.cleanBatch(Seq("مطار", "downtown"))
    seen = batches(c)
  }

  override def prepare(c: Ctx, i: Int): Boolean = {
    if (!cycleDir(c, base + i).isDirectory) return false
    pendingBytes = land(c, base + i)
    pendingRecords = cycleRecords(c, base + i)
    if (Trace.on) pendingHeldOut = Files.readAllLines(
      new File(cycleDir(c, base + i), "heldout.txt").toPath).asScala.toSeq
    true
  }

  private def cycleRecords(c: Ctx, k: Int): Long =
    scala.io.Source.fromFile(new File(cycleDir(c, k), "records")).mkString.trim.toLong

  override def op(c: Ctx, i: Int): (Long, Long) = {
    if (Trace.on) tracedCycle(c) else
      Streaming.tripCycleToCsv(c.spark, landing(c), outDir(c), ckpt(c))
    (pendingRecords, pendingBytes)
  }

  /** The traced cycle: one AvailableNow trigger over the same source,
    * with the cleaner and the sink cut apart inside the batch. */
  private def tracedCycle(c: Ctx): Unit = Trace.span("streaming.trigger") {
    val q = c.spark.readStream.format("graft.sources.PagedJsonSource")
      .load(landing(c)).writeStream
      .foreachBatch { (raw: DataFrame, batchId: Long) =>
        val pages = Trace.span("sources.read") {
          val p = raw.localCheckpoint(eager = true); p.count(); p
        }
        val cleaned = Trace.span("nlp.resolve") {
          val t = graft.ops.Transform.tripRecordTransform(pages)
            .localCheckpoint(eager = true)
          t.count(); t
        }
        val sink = s"${outDir(c)}/batch_$batchId"
        Trace.span("sources.sink")(CsvSink.write(cleaned, sink))
        c.sample("sources.sink_bytes", Main.dirBytes(sink).toDouble)
        c.sample("nlp.distinct_strings",
          pages.select(col("end_location")).distinct().count().toDouble)
        // the per-string cost of the cleaner without Spark around it, on
        // strings this JVM has not cleaned yet: the batch's own strings
        // are in the cleaner's memo by now
        val t0 = System.nanoTime()
        Trace.span("api.clean")(CleanApi.cleanBatch(pendingHeldOut))
        c.sample("api.clean_us",
          (System.nanoTime() - t0) / 1e3 / math.max(1, pendingHeldOut.size))
      }
      .option("checkpointLocation", ckpt(c))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  override def bytesOnDisk(c: Ctx): Long =
    Main.dirBytes(outDir(c)) + Main.dirBytes(ckpt(c))

  private var seen = Set.empty[String]
  private def batches(c: Ctx): Set[String] =
    Option(new File(outDir(c)).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.startsWith("batch_")).toSet

  /** Record which sink dirs op i wrote, for the checker. */
  override def after(c: Ctx, i: Int): Unit = {
    val now = batches(c)
    c.outputs += Map("op" -> i, "cycle" -> (base + i),
      "batches" -> (now -- seen).toSeq.sorted)
    seen = now
  }

  /** The checker needs CleanApi's answer for every landed string. */
  override def finish(c: Ctx): Unit = {
    val strs = c.spark.read.format("graft.sources.PagedJsonSource")
      .load(landing(c)).select(col("end_location")).distinct().collect()
      .map(_.getString(0))
    val clean = strs.map { s =>
      s -> CleanApi.clean(if (s == null || s == "nan") "" else s)
    }
    c.facts("clean_api") = clean.map { case (s, r) =>
      Map("raw" -> s, "main" -> r.mainLocation, "type" -> r.tripType,
        "n" -> r.allLocations.size)
    }.toSeq
    c.facts("out_dir") = outDir(c)
    // share of the landed distinct strings the cleaner resolved to a
    // dictionary location
    c.facts("resolved_share") = clean.count { case (_, r) =>
      graft.nlp.Locations.master.contains(r.mainLocation)
    }.toDouble / math.max(1, clean.length)
  }
}
