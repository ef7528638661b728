package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** r20 (VERDICT #2): the query paths' eager materialization moved from
  * raw `localCheckpoint()` to [[Caches.pin]], whose strategy is
  * selected by `spark.graft.materialize` (local | reliable | persist |
  * auto). These gates pin that EVERY strategy computes byte-identical
  * results on the operators whose internals route through pin — the
  * gram/fuzzy family (t12 + fuzzy + ranked + dim/gorder pins) and the
  * ccStars loop (per-round pins + unpin of dead rounds) — and that the
  * persist strategy leaves no CacheManager residue after Caches.clear
  * (the bench-honesty requirement: pinned frames must not outlive a
  * run and shadow later plans). */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = SparkSuite.sf

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `body` under a materialize mode with cold memos, restoring the
    * default (and cold memos) afterwards so suite order can't leak a
    * mode's pinned frames into another suite's timing or plans. */
  private def withMode[T](mode: String)(body: => T): T = {
    Caches.clear(spark)
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("spark.graft.materialize", mode)
    try body
    finally {
      spark.conf.unset("spark.graft.materialize")
      Caches.clear(spark)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  private lazy val expectedGram =
    withMode("local")(rows(ops.LocationResolve.gramDictScale(spark, sf)))

  test("gram family (n13 path) is mode-invariant: persist ≡ local") {
    val got = withMode("persist")(rows(ops.LocationResolve.gramDictScale(spark, sf)))
    assert(got == expectedGram)
  }

  test("gram family (n13 path) is mode-invariant: reliable ≡ local") {
    val got = withMode("reliable")(rows(ops.LocationResolve.gramDictScale(spark, sf)))
    assert(got == expectedGram)
  }

  test("ccStars under persist mode: identical labels, rounds pinned and released") {
    import spark.implicits._
    // two chains and a triangle — enough structure for >1 CC round
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val base = withMode("local") { val (l, _) = ops.Dedup.ccStars(pairs); rows(l) }
    val got = withMode("persist") { val (l, _) = ops.Dedup.ccStars(pairs); rows(l) }
    assert(got == base)
  }

  test("persist-mode pins leave no CacheManager residue after clear") {
    withMode("persist") {
      rows(ops.LocationResolve.gramDictScale(spark, sf))
      Caches.clear(spark)
      assert(spark.sharedState.cacheManager.isEmpty,
        "Caches.clear must unpersist every persist-mode pin")
    }
  }

  test("unknown materialize mode degrades to a working default") {
    val got = withMode("definitely-not-a-mode") {
      rows(ops.LocationResolve.gramDictScale(spark, sf))
    }
    assert(got == expectedGram)
  }

  test("mode choice: an unknown mode takes the auto branch") {
    // (requested, local master, checkpoint dir) -> strategy
    val table = Seq(
      ("auto", true, true) -> "local",
      ("auto", false, true) -> "reliable",
      ("auto", false, false) -> "persist",
      ("local", false, false) -> "local",
      ("reliable", true, false) -> "reliable",
      ("persist", true, true) -> "persist",
      ("definitely-not-a-mode", true, true) -> "local",
      ("definitely-not-a-mode", false, true) -> "reliable",
      ("definitely-not-a-mode", false, false) -> "persist")
    table.foreach { case ((requested, local, dir), want) =>
      assert(Caches.materializeMode(requested, local, dir) == want,
        s"($requested, local=$local, dir=$dir)")
    }
  }
}
