package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one owner of a streaming lineage's on-disk protocol, written on
  * the Hadoop FileSystem API: the file system is resolved from `dir` and
  * the session's Hadoop conf, so a lineage runs on any scheme that conf
  * maps (local, HDFS, S3A, a test scheme). Maintainers keep only their
  * policy: artifact names, key columns, merge kind and drop semantics.
  *
  * Layout of one lineage dir:
  *
  *  - `v<k>/` holds micro-batch k's artifacts (version ids are batch
  *    ids). A version is COMMITTED iff `v<k>/_SUCCESS` exists. [[wave]]
  *    writes the artifacts first and the marker last, so a crash leaves
  *    an invisible version the replay rewrites, and a replay of a
  *    committed batch is a no-op: rewriting in place would tear the
  *    version down under a concurrent reader.
  *  - `b<k>/` is batch k's output slice in a dir beside the lineage
  *    (pairs, rewrites, ledger rows). It counts iff the owning lineage
  *    committed k ([[committedSlices]]), or, where the slice is the
  *    batch's only artifact, iff `b<k>/_SUCCESS` exists
  *    ([[selfCommittedSlices]]).
  *  - Three lifecycle guards keep batch ids and versions aligned: a
  *    resumed batch needs a committed predecessor ([[wave]]; batch 0
  *    may legitimately resume onto an empty dir), and a fresh checkpoint
  *    refuses a dir that already holds versions ([[startLineage]]) or
  *    `b<k>` slices ([[startSlices]]) of another lineage.
  *  - `v<k>/_CUMULATIVE` is a compaction's MANIFEST, written after every
  *    tier artifact: one dim-relative tier root per line, newest last,
  *    whose union is the lineage's state through k. A root is
  *    `v<t>/compact` (a dir of artifacts) or `v<t>/compact/<part>` (one
  *    union store); t, parsed from the root, is its build version. A
  *    torn `compact/` dir without the manifest is never read, and the
  *    retried compaction overwrites it.
  *  - The READ SET over a set of committed versions ([[readSet]]) is the
  *    newest manifest's roots plus the versions committed after it (the
  *    tail): O(log W) tiers and O(K) slices, never O(W).
  *  - Tiers merge size-tiered ([[absorb]]) or all in one ([[compact]]).
  *    A bucketed tier store holds `kb_bucket=<b>` partition dirs (range
  *    buckets `key >> shift`) and its root records the shift in
  *    `BUCKETS`, written before the manifest.
  *  - Janitor contract ([[janitorDeletablePaths]]): below the newest
  *    manifest, everything but the markers and the roots it lists may
  *    be deleted.
  *
  * Paths are compared as qualified Hadoop `Path`s, never by string
  * prefix (Hadoop prints `graftfs:///a` as `graftfs:/a`), and listings
  * skip `_`- and `.`-prefixed entries (markers, committer temp dirs, the
  * checksummed local file system's `.crc` sidecars), as Spark's file
  * index does. */
private[graft] final class VersionedStore(dir: String,
    spark: SparkSession) {
  import VersionedStore._

  private val conf = spark.sessionState.newHadoopConf()
  private val fs = new Path(dir).getFileSystem(conf)

  private def at(rel: String): String = s"$dir/$rel"

  def exists(p: String): Boolean = fs.exists(new Path(p))

  def readBytes(p: String): Array[Byte] = {
    val in = fs.open(new Path(p))
    try in.readAllBytes() finally in.close()
  }

  def writeBytes(p: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(p), true)
    try out.write(bytes) finally out.close()
  }

  private def readText(p: String): String =
    new String(readBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  private def writeText(p: String, s: String): Unit =
    writeBytes(p, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def listed(p: Path): Seq[FileStatus] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filterNot { st =>
      val name = st.getPath.getName
      name.startsWith("_") || name.startsWith(".")
    }

  /** Versions carrying `marker`, ascending. */
  private def marked(marker: String): Seq[Long] =
    Option(fs.globStatus(new Path(dir, s"v*/$marker"))).toSeq.flatten
      .map(_.getPath.getParent.getName)
      .collect { case Version(k) => k.toLong }.sorted

  /** Committed versions, ascending. */
  def versions: Seq[Long] = marked("_SUCCESS")

  /** Batch `k` of this lineage: a no-op when `k` committed; otherwise the
    * predecessor guard, `body(prior committed versions)`, then the
    * marker. */
  def wave(k: Long)(body: Seq[Long] => Unit): Unit =
    if (!exists(at(s"v$k/_SUCCESS"))) {
      val prior = versions.filter(_ < k)
      require(k == 0 || prior.nonEmpty,
        s"batch $k resumed but $dir holds no prior committed version — " +
          "dim dir and checkpoint have diverged")
      body(prior)
      writeBytes(at(s"v$k/_SUCCESS"), Array.emptyByteArray)
    }

  private def freshCheckpoint(ckptDir: String): Boolean = {
    val offsets = new Path(ckptDir, "offsets")
    !offsets.getFileSystem(conf).exists(offsets)
  }

  /** Create the lineage dir and refuse a fresh checkpoint over versions
    * of another lineage. */
  def startLineage(ckptDir: String): Unit = {
    fs.mkdirs(new Path(dir))
    require(!(freshCheckpoint(ckptDir) && versions.nonEmpty),
      s"$dir already holds versions from another stream lineage but " +
        s"checkpoint $ckptDir is fresh — use a new dim dir (or the old " +
        "checkpoint) so batch ids and versions stay aligned")
  }

  /** Create the slice dir and refuse a fresh checkpoint over `b<k>`
    * slices of another lineage (a longer dead lineage's extra slices
    * would survive the new run's overwrites). */
  def startSlices(ckptDir: String, what: String): Unit = {
    fs.mkdirs(new Path(dir))
    require(!(freshCheckpoint(ckptDir) && slices(dir).nonEmpty),
      s"$dir already holds $what slices from another stream " +
        s"lineage but checkpoint $ckptDir is fresh — use a new dir " +
        "(or the old checkpoint) so batch ids and slices stay aligned")
  }

  private def slices(sliceDir: String): Seq[Long] =
    listed(new Path(sliceDir)).filter(_.isDirectory)
      .map(_.getPath.getName).collect { case Slice(k) => k.toLong }.sorted

  /** `b<k>` slices under `sliceDir` whose batch this lineage committed: a
    * `v<k>/_SUCCESS` marker, or k at or below the newest manifest (a
    * janitor may have swept v<k>; the predecessor guard made every
    * k ≤ base commit before the base could). */
  def committedSlices(sliceDir: String): Seq[String] = {
    val vs = versions.toSet
    val base = readSet(vs.toSeq).base
    slices(sliceDir).filter(k => vs(k) || base.exists(k <= _))
      .map(k => s"$sliceDir/b$k")
  }

  /** `b<k>` slices under this dir that carry their own `_SUCCESS`. */
  def selfCommittedSlices: Seq[String] =
    slices(dir).map(k => at(s"b$k")).filter(p => exists(s"$p/_SUCCESS"))

  /** The read set over the committed versions `vs`. */
  def readSet(vs: Seq[Long]): ReadSet = {
    val sorted = vs.sorted
    val manifests = marked(Manifest).toSet
    val base = sorted.filter(manifests).lastOption
    ReadSet(base, base.toSeq.flatMap(manifestRoots),
      sorted.filter(v => base.forall(v > _)))
  }

  /** The (build version, path) tier roots manifest `v<b>` lists. */
  private def manifestRoots(b: Long): Seq[(Long, String)] = {
    val file = at(s"v$b/$Manifest")
    val rels = readText(file).linesIterator.map(_.trim).filter(_.nonEmpty)
      .toSeq
    require(rels.nonEmpty, s"empty compaction manifest $file")
    rels.map { rel =>
      val ver = RootVersion.findPrefixMatchOf(rel).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(
          s"unparseable tier root '$rel' in $file"))
      ver -> at(rel)
    }
  }

  /** Compact the lineage at its newest committed version `top` — a no-op
    * once `top` carries a manifest. `write` receives the read set split
    * by `merge` into absorbed and kept roots, writes the new tier's
    * artifacts under `v<top>/compact` and returns the new root
    * (dim-relative); the manifest of kept roots plus the new one is
    * written last. */
  def compact(merge: Merge)(write: Tiers => String): Unit = {
    val vs = versions
    require(vs.nonEmpty, s"no committed version under $dir")
    val top = vs.last
    if (!exists(at(s"v$top/$Manifest"))) {
      val rs = readSet(vs)
      val (absorbed, kept) = merge match {
        case AllInOne => (rs.roots, Seq.empty)
        case Tiered(rootPart, tailPart, maxKeptBucketDirs) =>
          def metric(root: String) =
            if (rootPart.isEmpty) root else s"$root/$rootPart"
          absorb(rs.tail.map(v => rowCount(at(s"v$v/$tailPart"))).sum,
            rs.roots.map(r =>
              (r, rowCount(metric(r._2)), bucketDirCount(metric(r._2)))),
            maxKeptBucketDirs)
      }
      val newRoot = write(Tiers(top, rs.base, absorbed, kept, rs.tail))
      writeText(at(s"v$top/$Manifest"),
        (kept.map(_._2.stripPrefix(s"$dir/")) :+ newRoot).mkString("\n"))
    }
  }

  /** Driver-side row count of a parquet store, summed from file footers:
    * pure metadata, no Spark job on the trigger path. Recurses into
    * partition dirs and skips what Spark's file index skips, so it equals
    * `spark.read.parquet(p).count()`. */
  def rowCount(p: String): Long = {
    def rows(d: Path): Long = listed(d).map { st =>
      if (st.isDirectory) rows(st.getPath)
      else if (!st.getPath.getName.endsWith(".parquet")) 0L
      else {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }
    }.sum
    rows(new Path(p))
  }

  /** Bytes stored under `p` (0 when absent). */
  def bytes(p: String): Long = {
    val q = new Path(p)
    if (fs.exists(q)) fs.getContentSummary(q).getLength else 0L
  }

  private def bucketDirCount(p: String): Long =
    listed(new Path(p))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("kb_bucket="))
      .toLong

  /** The bucket shift a tier root was written with. */
  private def bucketShift(root: String): Int =
    readText(s"$root/BUCKETS").trim.toInt

  def writeBucketShift(root: String, shift: Int): Unit =
    writeText(s"$root/BUCKETS", shift.toString)

  /** `<root>/<part>` of each root pruned to the kb_buckets `probe`'s
    * `probeKey` values fall in, as (build version, frame): the probe's
    * buckets are collected once per distinct root shift (tiers written
    * at different corpus sizes carry different widths). A superset of
    * the probe's rows, since a row outside the probe's buckets can never
    * equal a probe key. */
  def bucketPrunedTiers(roots: Seq[(Long, String)], part: String,
      probe: DataFrame, probeKey: String): Seq[(Long, DataFrame)] = {
    val shifts = roots.map(r => r -> bucketShift(r._2))
    val buckets = shifts.map(_._2).distinct
      .map(s => s -> touchedBuckets(probe, probeKey, s)).toMap
    shifts.map { case ((ver, root), s) =>
      ver -> bucketPruned(spark.read.parquet(s"$root/$part"), buckets(s)) }
  }

  /** The exact paths a janitor may delete: below the newest manifest,
    * every version dir's content except the markers and the roots the
    * manifest lists (whole subtrees, wherever they live). Tail versions
    * after the manifest stay. Returns maximal deletable subtrees, in the
    * form of `dir` (scheme-less when it is); deleting exactly this set
    * leaves every reader, the next wave and the next compaction
    * unchanged. */
  def janitorDeletablePaths: Seq[String] = {
    val vs = versions
    val rs = readSet(vs)
    val roots = rs.roots.map(r => fs.makeQualified(new Path(r._2)))
    def within(p: Path, r: Path): Boolean =
      Iterator.iterate(p)(_.getParent).takeWhile(_ != null).contains(r)
    def sweep(p: Path): Seq[Path] =
      if (roots.exists(r => r != p && within(r, p)))
        listed(p).map(_.getPath).flatMap(sweep)
      else if (roots.exists(within(p, _))) Seq.empty
      else Seq(p)
    val schemeless = new Path(dir).toUri.getScheme == null
    rs.base.toSeq.flatMap(b => vs.filter(_ <= b))
      .flatMap(v => listed(fs.makeQualified(new Path(at(s"v$v")))))
      .map(_.getPath).flatMap(sweep)
      .map(p =>
        if (schemeless) Path.getPathWithoutSchemeAndAuthority(p).toString
        else p.toString)
  }
}

private[graft] object VersionedStore {
  def apply(dir: String, spark: SparkSession = SparkSession.active)
      : VersionedStore = new VersionedStore(dir, spark)

  private val Manifest = "_CUMULATIVE"

  /** Bucket dirs the kept roots of a tiered manifest may carry before the
    * next compaction absorbs every root: each kept tier adds its own
    * bucket-dir fan-out to every probe's listing. 4096 keeps listings
    * cheap on any store while firing rarely enough that the forced
    * rewrite amortizes; bucket widths re-derive per tier, so the count
    * tracks corpus / target rows, not waves. */
  val MaxKeptBucketDirs = 4096L

  private val Version = "v(\\d+)".r
  private val Slice = "b(\\d+)".r
  private val RootVersion = "v(\\d+)/".r

  final case class ReadSet(base: Option[Long], roots: Seq[(Long, String)],
      tail: Seq[Long])

  /** A compaction's inputs: the new top version, the prior base, the
    * roots it absorbs and keeps, and the tail versions. */
  final case class Tiers(top: Long, base: Option[Long],
      absorbed: Seq[(Long, String)], kept: Seq[(Long, String)],
      tail: Seq[Long])

  /** How a compaction picks the roots it absorbs. */
  sealed trait Merge
  /** Every root, into one tier. */
  case object AllInOne extends Merge
  /** The size-tiered rule ([[absorb]]), with rows counted under
    * `<root>/<rootPart>` (the root itself when empty) and
    * `v<k>/<tailPart>`, bucket dirs under `<root>/<rootPart>`. */
  final case class Tiered(rootPart: String, tailPart: String,
      maxKeptBucketDirs: Long = MaxKeptBucketDirs) extends Merge

  /** The size-tiered absorb rule over (root, rows, bucket dirs): absorb
    * roots smallest first while a root's rows are ≤ 2× the rows merged so
    * far (starting from the tail's), so a row is rewritten O(log W) times
    * and a trigger with small tails writes a small tier; then, if the
    * kept roots' bucket dirs exceed `maxKeptBucketDirs`, absorb every
    * root. Returns (absorbed, kept), kept in manifest order. */
  def absorb[R](tailRows: Long, roots: Seq[(R, Long, Long)],
      maxKeptBucketDirs: Long): (Seq[R], Seq[R]) = {
    val (absorbed, _) = roots.sortBy(_._2)
      .foldLeft((Vector.empty[(R, Long, Long)], tailRows)) {
        case ((abs, acc), r) =>
          if (r._2 <= 2 * acc) (abs :+ r, acc + r._2) else (abs, acc)
      }
    val kept = roots.filterNot(absorbed.contains)
    if (kept.map(_._3).sum > maxKeptBucketDirs)
      ((absorbed ++ kept).map(_._1), Seq.empty)
    else (absorbed.map(_._1), kept.map(_._1))
  }

  /** Range-bucket shift for a bucketed tier: one stats pass picks the
    * power-of-two width targeting ~`targetRowsPerBucket` rows per bucket
    * at the observed key density, so bucket size stays about constant as
    * the corpus grows and a probe reads (touched buckets × target rows).
    * Range, not hash: new documents arrive in new id ranges, so a
    * mostly-new batch touches few existing buckets. */
  def bucketShiftFor(dim: DataFrame, keyCol: String,
      targetRowsPerBucket: Long): Int = {
    val st = dim
      .agg(min(col(keyCol)), max(col(keyCol)), count(lit(1)))
      .collect()(0)
    val (lo, hi, n) =
      if (st.isNullAt(0)) (0L, 0L, 0L)
      else (st.getLong(0), st.getLong(1), st.getLong(2))
    require(lo >= 0L,
      s"negative $keyCol $lo — kb range bucketing assumes nonnegative ids")
    val width = math.max(1.0,
      (hi - lo + 1).toDouble * targetRowsPerBucket / math.max(1L, n))
    math.min(62,
      math.max(0, math.ceil(math.log(width) / math.log(2)).toInt))
  }

  /** Write a kb_bucket-partitioned tier store, sorted by key within each
    * bucket so row-group min/max pruning stays available. An empty frame
    * is written plain (a partitioned write of zero rows leaves nothing to
    * re-read); [[bucketPruned]] passes it through whole. */
  def writeBucketed(df: DataFrame, keyCol: String, out: String,
      shift: Int): Unit = {
    if (df.isEmpty) df.write.mode("overwrite").parquet(out)
    else df
      .withColumn("kb_bucket", shiftright(col(keyCol), shift).cast("long"))
      .repartition(col("kb_bucket"))
      .sortWithinPartitions(col("kb_bucket"), col(keyCol))
      .write.mode("overwrite").partitionBy("kb_bucket").parquet(out)
  }

  /** The distinct kb_buckets of `probe`'s `idCol`, collected to drive
    * partition-directory pruning (touched-size driver state). */
  private def touchedBuckets(probe: DataFrame, idCol: String,
      shift: Int): Seq[Long] =
    probe.select(shiftright(col(idCol), shift).cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq

  /** Prune a bucketed store to `buckets`. The literals are cast to the
    * inferred partition-column type: a mistyped literal would wrap the
    * partition attribute in a cast and silently defeat directory pruning.
    * A store without kb_bucket (written empty) passes through whole. */
  private def bucketPruned(df: DataFrame, buckets: Seq[Long]): DataFrame =
    if (!df.columns.contains("kb_bucket")) df
    else if (buckets.isEmpty) df.where(lit(false))
    else {
      val dt = df.schema("kb_bucket").dataType
      df.where(col("kb_bucket").isin(buckets.map(b => lit(b).cast(dt)): _*))
    }
}
