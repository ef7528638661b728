package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[Caches.pin]] has two rules, chosen by the master: `localCheckpoint`
  * under a local master and a reliable `checkpoint()` on a cluster. The
  * suite reaches the cluster branch through the `Caches.reliablePins`
  * seam and gates that both rules compute identical results on the
  * operators whose internals route through pin — the gram/fuzzy family
  * (t12 + fuzzy + ranked + dim/gorder pins) and the ccStars loop (one
  * pin per round) — that the choice itself is the master-first table,
  * and that under reliable pins a recompute ends at the checkpoint
  * files: dropping every cached block leaves the n13 rows unchanged. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = SparkSuite.sf

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `body` with cold memos, restoring cold memos afterwards so suite
    * order can't leak pinned frames into another suite's timing or plans. */
  private def cold[T](body: => T): T = {
    Caches.clear(spark)
    spark.sharedState.cacheManager.clearCache()
    try body
    finally {
      Caches.clear(spark)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  /** Run `body` with pins on the cluster branch, writing to a fresh
    * checkpoint dir; the shared context is left without one afterwards
    * (`setCheckpointDir(null)` clears it). */
  private def reliable[T](body: => T): T = cold {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try Caches.reliablePins(body)
    finally {
      spark.conf.unset("spark.graft.checkpointDir")
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  private lazy val expectedGram =
    cold(rows(ops.LocationResolve.gramDictScale(spark, sf)))

  test("cluster pin without a checkpoint dir fails before any job runs") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val group = "materialize-spec-no-dir"
    sc.setJobGroup(group, "pin without a checkpoint dir")
    val e =
      try intercept[IllegalStateException] {
        Caches.reliablePins(Caches.pin(spark.range(10).toDF("id")))
      } finally sc.clearJobGroup()
    assert(e.getMessage.contains("spark.graft.checkpointDir"))
    assert(e.getMessage.contains(Caches.CleanCheckpoints))
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("gram family (n13 path) is mode-invariant: reliable ≡ local") {
    val got = reliable(rows(ops.LocationResolve.gramDictScale(spark, sf)))
    assert(got == expectedGram)
  }

  test("ccStars: reliable ≡ local") {
    import spark.implicits._
    // two chains and a triangle — enough structure for >1 CC round
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val base = cold { val (l, _) = ops.Dedup.ccStars(pairs); rows(l) }
    val got = reliable {
      val (l, rounds) = ops.Dedup.ccStars(pairs)
      assert(rounds > 1, "the pin loop must run more than one round")
      rows(l)
    }
    assert(got == base)
  }

  test("fault injection: dropped cached blocks recompute n13 from the reliable pins") {
    reliable {
      val sc = spark.sparkContext
      val df = ops.LocationResolve.gramDictScale(spark, sf)
      val before = rows(df)
      // the memo'd index frames (dimC, gram order, keyed index) persist
      assert(sc.getRDDStorageInfo.exists(_.numCachedPartitions > 0),
        "no cached block to drop: the gate would be vacuous")
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      assert(sc.getPersistentRDDs.isEmpty)
      // a fresh execution of the same plan: re-collecting `df` itself
      // would reuse its first run's shuffle files and read no dropped
      // block (under localCheckpoint pins this collect fails)
      assert(rows(df.select("*")) == before)
      assert(before == expectedGram)
    }
  }

  test("a pin over a join, sized at its rows, plans the joins above it as broadcasts") {
    import spark.implicits._
    // a 1000-row equi self-join keeps 1000 rows, but its estimate, which
    // the pin keeps, is the product of its sides (64 MB)
    val ids = spark.range(1000).toDF("id")
    val joined = ids.join(ids.select($"id".as("id2")), $"id" === $"id2")
    def size(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // joined against a side too large to broadcast itself
    def plan(side: DataFrame) = joined.select($"id")
      .join(side.select($"id"), "id").queryExecution.executedPlan.toString
    def check(): Unit = {
      val pinned = Caches.pin(joined)
      assert(size(pinned) == size(ids) * size(ids))
      assert(plan(pinned).contains("SortMergeJoin"), plan(pinned))
      val sized = org.apache.spark.sql.graft.PinnedSize(pinned, 1000L)
      assert(size(sized) == 1000 * 24) // 8 B row + two BIGINTs
      assert(plan(sized).contains("BroadcastHashJoin"), plan(sized))
      assert(rows(sized) == rows(pinned))
    }
    cold(check())
    reliable(check())
  }

  test("pin strategy: a local master decides alone; a cluster needs dir and cleaner") {
    // (local master, checkpoint dir, cleanCheckpoints) -> strategy
    val table = Seq(
      (true, false, false) -> "local",
      (true, true, false) -> "local",
      (true, false, true) -> "local",
      (true, true, true) -> "local",
      (false, true, true) -> "reliable",
      (false, true, false) -> "error",
      (false, false, true) -> "error",
      (false, false, false) -> "error")
    table.foreach { case ((local, dir, cleans), want) =>
      assert(Caches.pinStrategy(local, dir, cleans) == want,
        s"(local=$local, dir=$dir, cleanCheckpoints=$cleans)")
    }
  }
}
