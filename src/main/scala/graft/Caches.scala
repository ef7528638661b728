package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Session-scoped memoization of shared, persisted DataFrames (master
  * transform, shingle index, embedding corpus). One registry instead of
  * per-op `def build + persist` so that:
  *
  *  - a frame is built and persisted ONCE per (session, key), not re-built
  *    per query call (round-1 logged "Asked to cache already cached data"
  *    WARNs from repeated persist() of plan-identical frames);
  *  - `clear(spark)` unpersists everything at the end of a Verify/Bench
  *    run, so caches don't pin executor memory for the life of a
  *    long-lived driver session (unbounded growth was a round-1 finding);
  *  - entries for stopped sessions are dropped eagerly on the next memo
  *    call, bounding growth across sessions in one JVM (test suites).
  */
object Caches {
  private val frames = TrieMap.empty[(SparkSession, String), DataFrame]
  private val values = TrieMap.empty[(SparkSession, String), Any]
  // Per-key build locks: TrieMap.getOrElseUpdate may evaluate `build`
  // concurrently in two threads (both results consistent, but an
  // expensive build — e.g. IVF centroid training — would run twice).
  private val locks = TrieMap.empty[(SparkSession, String), AnyRef]

  private def locked[T](k: (SparkSession, String))(body: => T): T = {
    // Locks for stopped sessions are swept here (like frames/values in
    // memo/memoValue) so lock entries can't pin dead session references
    // in a long-lived JVM. Live-session locks are NEVER removed — see
    // clear() — so a key always maps to one lock object for the
    // session's lifetime.
    locks.keys.filter(_._1.sparkContext.isStopped).foreach(locks.remove)
    locks.getOrElseUpdate(k, new AnyRef).synchronized(body)
  }

  /** Build-once persisted frame for this (session, key). */
  def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    frames.keys.filter(_._1.sparkContext.isStopped).foreach(frames.remove)
    val k = (spark, key)
    frames.get(k).getOrElse(locked(k) {
      frames.getOrElseUpdate(k, build.persist(StorageLevel.MEMORY_AND_DISK))
    })
  }

  /** Build-once plain value (e.g. a trained centroid table) under the
    * SAME lifecycle as the memoized frames: dropped by [[clear]] and on
    * stopped sessions — so derived state can't outlive (and silently
    * mismatch) the data frames it was trained on. */
  def memoValue[T](spark: SparkSession, key: String)(build: => T): T = {
    values.keys.filter(_._1.sparkContext.isStopped).foreach(values.remove)
    val k = (spark, key)
    values.get(k).getOrElse(locked(k) {
      values.getOrElseUpdate(k, build)
    }).asInstanceOf[T]
  }

  /** Register an EXTERNALLY persisted frame (e.g. the converged frontier
    * of an iterative algorithm) under a key so `clear(spark)` unpersists
    * it with the memoized frames — same lifecycle guarantee without
    * build-once semantics. Replaces (and unpersists) any previous frame
    * tracked under the same key. Returns the frame. */
  def track(spark: SparkSession, key: String, df: DataFrame): DataFrame = {
    untrack(spark, key)
    frames.put((spark, s"#tracked:$key"), df)
    df
  }

  /** Unpersist and forget a tracked frame (no-op when absent). Call at
    * the start of a rebuild so the stale cache can't shadow the new
    * build's persists ("already cached" WARNs). */
  def untrack(spark: SparkSession, key: String): Unit =
    frames.remove((spark, s"#tracked:$key")).foreach { old =>
      if (!spark.sparkContext.isStopped) old.unpersist(blocking = false)
    }

  private[graft] val CleanCheckpoints =
    "spark.cleaner.referenceTracking.cleanCheckpoints"

  /** [[pin]]'s strategy: `local` under a local master, else `reliable`
    * if a checkpoint dir exists and its files are cleaned, else `error`. */
  private[graft] def pinStrategy(isLocal: Boolean, hasDir: Boolean,
      cleansCheckpoints: Boolean): String =
    if (isLocal) "local" else if (hasDir && cleansCheckpoints) "reliable" else "error"

  // test seam: pins in `body` take the cluster branch under a local master
  private val clusterPins = new scala.util.DynamicVariable(false)
  private[graft] def reliablePins[T](body: => T): T = clusterPins.withValue(true)(body)

  /** Eager, lineage-truncating materialization of a multi-consumer
    * intermediate frame, by the master:
    *
    *  - local — `localCheckpoint()`. Its blocks live in the one driver
    *    process, whose loss is app loss anyway, so having no recompute
    *    fallback costs nothing; fastest, and keeps the CacheManager
    *    empty (the bench's x14/x29 no-plan-substitution convention).
    *  - cluster — `checkpoint()` to the shared dir
    *    (`spark.graft.checkpointDir` applies if the context has none).
    *    localCheckpoint blocks die with their executor; reliable files
    *    survive it and lineage ends at them, so a recompute re-reads the
    *    pinned rows (ids minted before the pin stay stable). Costs a
    *    second job per pin (OPTIMIZATION_r20.md). Spark deletes the files
    *    only under `cleanCheckpoints=true`, else a stream's per-wave pins
    *    fill the dir: a missing dir or cleaner conf fails the first pin,
    *    before any job runs. */
  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val confDir =
      spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty)
    pinStrategy(sc.isLocal && !clusterPins.value,
      sc.getCheckpointDir.nonEmpty || confDir.nonEmpty,
      sc.getConf.getBoolean(CleanCheckpoints, false)) match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        if (sc.getCheckpointDir.isEmpty) confDir.foreach(sc.setCheckpointDir)
        df.checkpoint()
      case _ =>
        throw new IllegalStateException("Caches.pin on a cluster needs a " +
          "shared checkpoint dir (set spark.graft.checkpointDir) and " +
          s"$CleanCheckpoints=true so the ContextCleaner deletes its files")
    }
  }

  /** Unpersist and forget every frame (and plain value) memoized under
    * this session. */
  def clear(spark: SparkSession): Unit = {
    frames.keys.filter(_._1 eq spark).foreach { k =>
      frames.remove(k).foreach { df =>
        if (!spark.sparkContext.isStopped) df.unpersist(blocking = false)
      }
    }
    values.keys.filter(_._1 eq spark).foreach(values.remove)
    // Live-session locks stay: another thread may hold one mid-build,
    // and removing it would mint a fresh lock for the next memo call —
    // re-enabling the duplicate concurrent build the locks exist to
    // prevent. They are tiny AnyRefs; stopped-session entries are swept
    // by locked() on the next memo/memoValue call.
  }
}
