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

  private val MaterializeModes: Set[String] = Set("auto", "local", "reliable", "persist")

  /** The strategy [[pin]] runs for a requested `spark.graft.materialize`
    * value. `auto` is `local` under a local master, else `reliable` when
    * a checkpoint dir exists, else `persist`. An unknown value is treated
    * as `auto`: a typo'd conf must degrade to the safe default, not crash
    * the query mid-plan (the Bench "slow, never dead" discipline). */
  def materializeMode(requested: String, isLocal: Boolean,
      hasCheckpointDir: Boolean): String = requested match {
    case "auto" =>
      if (isLocal) "local" else if (hasCheckpointDir) "reliable" else "persist"
    case m if MaterializeModes(m) => m
    case _ => materializeMode("auto", isLocal, hasCheckpointDir)
  }

  /** Scale-safe eager materialization of an intermediate frame (r20,
    * VERDICT #2). Every multi-consumer intermediate in the query paths
    * used to call `localCheckpoint()` directly — correct and fastest in
    * local mode, but a local-mode ASSUMPTION on a cluster:
    * `localCheckpoint` truncates lineage and stores the partitions on
    * the computing executors with no recompute fallback, so one
    * executor loss makes the whole job unrecoverable (guide §5), and
    * the pinned blocks tie the frame's lifetime to those executors.
    * `pin` picks the materialization by `spark.graft.materialize`:
    *
    *  - `local` — `localCheckpoint()`: the pre-r20 behaviour. In
    *    local[*] masters the blocks live in the ONE driver process,
    *    whose loss is app loss regardless of strategy, so lineage
    *    truncation costs nothing in fault tolerance there — and it
    *    keeps the CacheManager empty (the x14/x29 "no plan-cache
    *    substitution" honesty convention for the bench).
    *  - `reliable` — `checkpoint()` to the configured checkpoint dir
    *    (`spark.graft.checkpointDir` is applied to the context if no
    *    dir is set yet; in local mode a temp dir is minted). Survives
    *    executor loss: the data lives on the shared checkpoint store.
    *    Costs one extra computation of the frame (Spark writes
    *    reliable checkpoints in a second job) — measured r20 on the
    *    gram family, see OPTIMIZATION_r20.md.
    *  - `persist` — `persist(MEMORY_AND_DISK)` + eager count, returned
    *    behind a `createDataFrame(rdd, schema)` plan cut. Keeps RDD
    *    lineage, so executor loss RECOMPUTES instead of failing; no
    *    shared storage needed; the plan cut keeps iterative callers'
    *    logical plans bounded (ccStars' plan would otherwise grow 4^r
    *    — the round-level OOM localCheckpoint was added for). Costs an
    *    InternalRow↔Row conversion per read of the pinned frame and a
    *    CacheManager entry until [[unpin]]/[[clear]] — prefer
    *    `reliable` on clusters when a checkpoint dir exists.
    *  - `auto` (default) — `local` under a local master; otherwise
    *    `reliable` when a checkpoint dir is available, else `persist`
    *    (degrade to slower-but-safe, never to config-error).
    *
    * The bench/driver contract is untouched: under local[$CPUS] the
    * auto mode IS the pre-r20 plan, byte for byte. */
  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    def confDir: Option[String] =
      spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty)
    val requested =
      spark.conf.getOption("spark.graft.materialize").getOrElse("auto")
    if (!MaterializeModes(requested))
      System.err.println(
        s"[graft] unknown spark.graft.materialize '$requested', using auto")
    materializeMode(requested, sc.isLocal,
      sc.getCheckpointDir.nonEmpty || confDir.nonEmpty) match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        if (sc.getCheckpointDir.isEmpty) {
          confDir match {
            case Some(d) => sc.setCheckpointDir(d)
            case None if sc.isLocal =>
              sc.setCheckpointDir(java.nio.file.Files
                .createTempDirectory("graft-ckpt").toString)
            case None =>
              // reliable was requested but no shared dir exists —
              // persist is the only safe materialization left
              System.err.println("[graft] materialize=reliable with no " +
                "checkpoint dir (set spark.graft.checkpointDir); " +
                "falling back to persist")
              return pinPersist(df)
          }
        }
        df.checkpoint()
      case _ => pinPersist(df)
    }
  }

  // live persist-mode pins: seq -> (returned wrapper, persisted frame).
  // unpin accepts the wrapper (what callers hold); clear sweeps the rest.
  private val pinSeq = new java.util.concurrent.atomic.AtomicLong()
  private val pins =
    TrieMap.empty[(SparkSession, Long), (DataFrame, DataFrame)]
  private def pinPersist(df: DataFrame): DataFrame = {
    pins.keys.filter(_._1.sparkContext.isStopped).foreach(pins.remove)
    val spark = df.sparkSession
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count() // eager, like localCheckpoint: consumers must never race
    // plan cut: downstream plans see a leaf scan, not df's whole tree
    val cut = spark.createDataFrame(p.rdd, p.schema)
    pins.put((spark, pinSeq.incrementAndGet()), (cut, p))
    cut
  }

  /** Release a [[pin]]'d frame that no longer has consumers (iterative
    * algorithms pin per round; the previous round's frame is garbage
    * once the next is materialized). No-op for local/reliable pins —
    * those blocks are owned by the BlockManager/checkpoint store and
    * reclaimed by GC / clear. */
  def unpin(df: DataFrame): Unit =
    pins.find { case (_, (cut, p)) => (cut eq df) || (p eq df) }
      .foreach { case (k, (_, p)) =>
        pins.remove(k)
        if (!k._1.sparkContext.isStopped) p.unpersist(blocking = false)
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
    pins.keys.filter(_._1 eq spark).foreach { k =>
      pins.remove(k).foreach { case (_, p) =>
        if (!spark.sparkContext.isStopped) p.unpersist(blocking = false)
      }
    }
    // Live-session locks stay: another thread may hold one mid-build,
    // and removing it would mint a fresh lock for the next memo call —
    // re-enabling the duplicate concurrent build the locks exist to
    // prevent. They are tiny AnyRefs; stopped-session entries are swept
    // by locked() on the next memo/memoValue call.
  }
}
