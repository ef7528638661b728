package graft.sources

import java.util
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1/S2 — the reference's paginated REST extraction (Main.py:330-357,
  * 489-511) re-expressed as a DataSource V2 batch source: a landing
  * directory of page files (`page_*.json`, each a JSON array of raw trip
  * records with nested `entry`/`station` objects) becomes a table whose
  * InputPartitions are runs of consecutive pages packed to a byte size
  * ([[PagedJsonTable.groupPages]]), so Spark reads pages in parallel
  * where the reference used a ThreadPoolExecutor without paying one task
  * per small page. Per-page reads are wrapped in the Retry util (S4/S5
  * analog).
  *
  * Usage: spark.read.format("graft.sources.PagedJsonSource").load(dir)
  */
class PagedJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedJsonSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PagedJsonTable(properties.get("path"),
      PagedProtocol.fromProperties(properties))
  override def supportsExternalMetadata(): Boolean = true
}

/** Protocol knobs of the reference's fetch loop
  * (`POST {base}/{order}/{sort}/{page}/{limit}`, `Main.py:330-357`), as
  * source options even when backed by a landing directory:
  *
  *  - `order`/`sort` — the endpoint's path components; if the landing dir
  *    has a matching `order/sort` subdirectory the pages are read from it
  *    (a landed mirror of that URL), else from the base dir.
  *  - `limit` — requested page size; non-final pages that disagree are a
  *    protocol violation (truncated fetch) and fail the read.
  *  - `stopOnEmptyPage` (default true) — the fetch loop's termination:
  *    the first empty page ends the stream; later files are ignored.
  *  - `abortStatuses` (default "401") — a `page_NNNNN.json.status`
  *    sidecar carrying one of these HTTP codes aborts the whole read
  *    (the reference's 401-abort, `Main.py:315-325`); other codes are
  *    left to the Retry wrapper's transient handling.
  */
object PagedProtocol {
  case class Config(limit: Option[Int], order: String, sort: String,
      stopOnEmptyPage: Boolean, abortStatuses: Set[Int])

  val Default: Config = Config(None, "serialId", "asc", stopOnEmptyPage = true,
    abortStatuses = Set(401))

  def fromProperties(p: util.Map[String, String]): Config = {
    def opt(k: String): Option[String] = Option(p.get(k)).map(_.trim).filter(_.nonEmpty)
    Config(
      limit = opt("limit").map(_.toInt),
      order = opt("order").getOrElse(Default.order),
      sort = opt("sort").getOrElse(Default.sort),
      stopOnEmptyPage = opt("stopOnEmptyPage").forall(_.toBoolean),
      abortStatuses = opt("abortStatuses")
        .map(_.split(",").map(_.trim.toInt).toSet).getOrElse(Default.abortStatuses))
  }

  /** Landed mirror of `{base}/{order}/{sort}` if present, else base. */
  def resolveDir(base: String, c: Config): String = {
    val sub = new java.io.File(new java.io.File(base, c.order), c.sort)
    if (sub.isDirectory) sub.getAbsolutePath else base
  }

  class FetchAbort(msg: String) extends RuntimeException(msg)

  /** Lenient sidecar parse: the leading integer of the file ("401",
    * "401 Unauthorized", …); a sidecar with no parseable code is ignored
    * rather than crashing planning. */
  private def sidecarStatus(f: java.io.File): Option[Int] = {
    val s = new java.io.File(f.getAbsolutePath + ".status")
    if (!s.isFile) None
    else "\\d+".r.findFirstIn(
      new String(java.nio.file.Files.readAllBytes(s.toPath))).map(_.toInt)
  }

  /** Emptiness is decided by PARSE (root is an array of size 0); the byte
    * gate only spares planning from parsing full data pages, and is sized
    * so any plausible empty-array rendering — indented, BOM'd, CRLF'd —
    * still falls under it (a real page holds `limit` records ≈ KBs). A
    * corrupt small file is NOT treated as empty — it flows to the
    * data-read path, whose Retry wrapper and error reporting own that
    * failure mode. */
  private def isEmptyPage(f: java.io.File): Boolean =
    f.length() <= 512 && {
      try {
        val root = new ObjectMapper().readTree(f)
        root != null && root.isArray && root.size() == 0
      } catch { case _: Exception => false }
    }

  /** The fetch-loop semantics over the listed pages: abort on a fatal
    * status sidecar, stop at the first empty page. */
  def effectivePages(path: String, c: Config): Array[java.io.File] = {
    val all = PagedJsonTable.listPages(resolveDir(path, c))
    val out = Array.newBuilder[java.io.File]
    var i = 0
    var stopped = false
    while (i < all.length && !stopped) {
      val f = all(i)
      sidecarStatus(f).filter(c.abortStatuses).foreach { code =>
        throw new FetchAbort(
          s"paged source aborted: HTTP $code at ${f.getName} (abortStatuses=${c.abortStatuses.mkString(",")})")
      }
      if (c.stopOnEmptyPage && isEmptyPage(f)) stopped = true
      else { out += f; i += 1 }
    }
    out.result()
  }
}

object PagedJsonSource {
  /** Raw record shape as landed from the API (pre-P2 flatten). */
  val schema: StructType = StructType(Seq(
    StructField("serialId", LongType),
    StructField("confirm_status", BooleanType),
    StructField("sale_price", DoubleType),
    StructField("date", StringType),
    StructField("end_location", StringType),
    StructField("km_start", StringType),
    StructField("km_return", StringType),
    StructField("car_number", StringType),
    StructField("entry", StructType(Seq(StructField("number", LongType)))),
    StructField("station", StructType(Seq(StructField("name", StringType))))))
}

class PagedJsonTable(path: String, config: PagedProtocol.Config)
    extends Table with SupportsRead {
  def this(path: String) = this(path, PagedProtocol.Default)
  override def name(): String = s"paged_json($path)"
  override def schema(): StructType = PagedJsonSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = PagedJsonSource.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val pages = PagedProtocol.effectivePages(path, config)
        PagedJsonTable.groupPages(pages, config.limit,
          pages.lastOption.map(_.getAbsolutePath))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PagePartitionReaderFactory
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new PagedMicroBatchStream(path, config)
    }
}

object PagedJsonTable {
  def listPages(path: String): Array[java.io.File] =
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("page_") && f.getName.endsWith(".json"))
      .sortBy(_.getName)

  /** Pack consecutive pages into byte-sized splits by the rule Spark's
    * file source applies to small files (`FilePartition.maxSplitBytes`
    * and `getFilePartitions`), read from the active session:
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
    * `minPartitionNum` (default parallelism when unset). Each page is
    * charged its length plus the open cost, and a split closes when the
    * next page would overflow it. Unlike the file source, pages are not
    * sorted by size: page order holds inside and across splits.
    * `lastFile`, the one page the `limit` invariant lets be short, goes
    * to every split. */
  def groupPages(pages: Array[java.io.File], limit: Option[Int] = None,
      lastFile: Option[String] = None): Array[InputPartition] = {
    val spark = SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val lens = pages.map(_.length())
    val maxSplit = FilePartition.maxSplitBytes(spark, lens.iterator.map(_ + openCost).sum)
    val splits = Array.newBuilder[InputPartition]
    var split = Vector.empty[String]
    var size = 0L
    def close(): Unit = if (split.nonEmpty) {
      splits += PagePartition(split, limit, lastFile)
      split = Vector.empty; size = 0L
    }
    pages.indices.foreach { i =>
      if (size + lens(i) > maxSplit) close()
      size += lens(i) + openCost
      split :+= pages(i).getAbsolutePath
    }
    close()
    splits.result()
  }
}

/** S3 — checkpointed pagination as a MicroBatchStream: the offset is the
  * page index, so Spark's offset log gives exactly the reference's
  * "resume from current_page" behavior (Main.py:109-163,475-481): a
  * restarted query with the same checkpoint re-reads nothing and picks
  * up newly landed pages only.
  *
  * Offsets are POSITIONAL counts over `effectivePages`, which depend on
  * the resolved directory and the protocol config (`order`/`sort` select
  * a mirror subdir; `limit`/`stopOnEmptyPage` change the page list). A
  * checkpointed offset therefore embeds a fingerprint of both, and a
  * restart under a different config FAILS LOUDLY instead of silently
  * reinterpreting old counts against a different page list (skipping or
  * re-reading pages). */
class PagedMicroBatchStream(path: String,
    config: PagedProtocol.Config = PagedProtocol.Default)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Trigger.AvailableNow contract: snapshot the page LIST at query start
    * so the run processes exactly the pages available then and
    * terminates, even if more pages land mid-run (they belong to the next
    * cycle — the reference's per-cycle semantics). Snapshotting the list,
    * not just its length, keeps the limit-invariant's final-page
    * exemption and the abort-sidecar scan anchored to the pinned cycle:
    * a page landing mid-run must neither steal the "legitimate short
    * final page" exemption nor abort a cycle that never reads it. */
  private var availableNowPages: Option[Array[java.io.File]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowPages = Some(PagedProtocol.effectivePages(path, config))

  private def currentPages(): Array[java.io.File] =
    availableNowPages.getOrElse(PagedProtocol.effectivePages(path, config))

  private val fingerprint: String = {
    val c = config
    s"dir=${PagedProtocol.resolveDir(path, c)};order=${c.order};sort=${c.sort};" +
      s"limit=${c.limit.getOrElse(-1)};stopOnEmptyPage=${c.stopOnEmptyPage};" +
      s"abortStatuses=${c.abortStatuses.toSeq.sorted.mkString(",")}"
  }

  case class PageOffset(page: Int) extends Offset {
    override def json(): String =
      s"""{"page":$page,"fp":${jsonQuote(fingerprint)}}"""
  }

  private def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  override def initialOffset(): Offset = PageOffset(0)
  override def latestOffset(): Offset = PageOffset(currentPages().length)
  // SupportsAdmissionControl form (no read limits here: pages are small
  // and one cycle's frontier is the natural batch)
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  override def deserializeOffset(json: String): Offset = {
    val node = new ObjectMapper().readTree(json)
    val fp = Option(node.get("fp")).map(_.asText()).getOrElse("")
    if (fp != fingerprint)
      throw new IllegalStateException(
        "paged source: checkpointed offset was recorded under a different " +
          s"source config/page directory.\n  checkpoint: $fp\n  current:    $fingerprint\n" +
          "Restart with the original options or a fresh checkpoint location.")
    PageOffset(node.get("page").asInt())
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PageOffset].page
    val e = end.asInstanceOf[PageOffset].page
    val slice = currentPages().slice(s, e)
    // the `limit` invariant applies in streaming too. The exempt page is
    // the BATCH's own final page: it was the stream frontier when this
    // batch's end offset was recorded, which is the page the protocol
    // allows to be short. Anchoring the exemption to the live listing
    // instead would un-exempt a legitimately short frontier page as soon
    // as later pages land — permanently wedging a crash-replayed batch
    // (the offset log replays (s,e) against a longer listing) and racing
    // mid-trigger landings even in healthy runs.
    PagedJsonTable.groupPages(slice, config.limit,
      slice.lastOption.map(_.getAbsolutePath))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PagePartitionReaderFactory
}

case class PagePartition(files: Seq[String], limit: Option[Int] = None,
    lastFile: Option[String] = None) extends InputPartition

class PagePartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagePartition]
    new PageReader(p.files, p.limit, p.lastFile)
  }
}

class PageReader(files: Seq[String], limit: Option[Int] = None,
    lastFile: Option[String] = None) extends PartitionReader[InternalRow] {
  private lazy val records: Iterator[JsonNode] = {
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    files.iterator.flatMap { file =>
      val root = Retry.withRetries(attempts = 5, baseDelayMs = 10) {
        mapper.readTree(new java.io.File(file))
      }
      // a page's root must be the JSON ARRAY the protocol promises —
      // an object-rooted payload (e.g. a landed error document) would
      // otherwise be iterated via elements() as its FIELD VALUES and
      // ingested as all-null garbage rows when `limit` is unset (the
      // planner's isEmptyPage checks isArray; the reader must too)
      if (!root.isArray)
        throw new PagedProtocol.FetchAbort(
          s"paged source: page $file root is ${root.getNodeType}, " +
            "expected ARRAY")
      // `limit` protocol invariant: every page except the stream's final
      // one must hold exactly `limit` records — anything else is a
      // truncated/oversized fetch and the read must fail loudly.
      limit.filter(_ => !lastFile.contains(file)).foreach { l =>
        if (root.size() != l)
          throw new PagedProtocol.FetchAbort(
            s"paged source: page $file has ${root.size()} records, expected limit=$l")
      }
      root.elements().asScala
    }
  }
  private var current: InternalRow = _

  private def str(n: JsonNode): Any =
    if (n == null || n.isNull) null else UTF8String.fromString(n.asText())
  private def lng(n: JsonNode): Any =
    if (n == null || n.isNull) null else java.lang.Long.valueOf(n.asLong())
  private def dbl(n: JsonNode): Any =
    if (n == null || n.isNull) null else java.lang.Double.valueOf(n.asDouble())
  private def bool(n: JsonNode): Any =
    if (n == null || n.isNull) null else java.lang.Boolean.valueOf(n.asBoolean())

  override def next(): Boolean = {
    if (!records.hasNext) return false
    val r = records.next()
    val entry =
      if (r.get("entry") == null || r.get("entry").isNull) null
      else new GenericInternalRow(Array[Any](lng(r.get("entry").get("number"))))
    val station =
      if (r.get("station") == null || r.get("station").isNull) null
      else new GenericInternalRow(Array[Any](str(r.get("station").get("name"))))
    current = new GenericInternalRow(Array[Any](
      lng(r.get("serialId")), bool(r.get("confirm_status")),
      dbl(r.get("sale_price")), str(r.get("date")), str(r.get("end_location")),
      str(r.get("km_start")), str(r.get("km_return")), str(r.get("car_number")),
      entry, station))
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** S4 — retry/backoff wrapper (robust_api_call analog, Main.py:167-208). */
object Retry {
  def withRetries[T](attempts: Int, baseDelayMs: Long)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case e: Throwable =>
          last = e
          // no sleep after the FINAL attempt — its only outcome is the
          // rethrow below, and the terminal backoff (up to the 5 s
          // clamp) would be pure added latency on permanent failures
          if (i < attempts - 1)
            Thread.sleep(math.min(baseDelayMs * (1L << i), 5000))
      }
      i += 1
    }
    throw last
  }
}
