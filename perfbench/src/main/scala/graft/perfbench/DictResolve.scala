package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry

/** Dictionary-scale resolution: the registered resolvers n13, n14 and
  * n15 over a generated `part` table (`<data>/part.parquet`). Their index
  * memos are built during set-up, so an op is one warm rotation: each of
  * the three resolve queries once, collected. Op latency therefore
  * weighs the three resolvers alike, and a change to any of them moves
  * its median.
  *
  * Output check: the first op saves each query's rows as parquet and
  * every op records a digest of each query's rows; run.py compares the
  * saved rows with `SparkEntry.oracleSql` in DuckDB and every digest with
  * the saved one's. */
class DictResolve extends Workload {
  val queries = Seq("n13_gram_blocked", "n14_cross_shape", "n15_multi_shape")
  // two rotations: a run is mostly set-up (the memo builds), and a full
  // benchmark pass must fit its hour; op_p50_s is their mean and
  // op_tail_s (p75 of two) the slower one
  override def minOps: Int = 2
  private var probes = 0L
  private var partBytes = 0L
  private var last: Seq[(String, Array[Row], DataFrame)] = Nil
  private val saved = scala.collection.mutable.Set.empty[String]

  override def setup(c: Ctx): Unit = {
    partBytes = Main.dirBytes(s"${c.data}/part.parquet")
    probes = c.spark.read.parquet(s"${c.data}/part.parquet").count()
    // the index memos (Caches.memo / memoValue) are built by the first
    // call of each resolver on this session
    val t0 = System.nanoTime()
    queries.foreach { q =>
      SparkEntry.queries(q)(c.spark, c.data).write.format("noop")
        .mode("overwrite").save()
    }
    c.sample("caches.build_s", (System.nanoTime() - t0) / 1e9)
    saved.clear()
  }

  override def op(c: Ctx, i: Int): (Long, Long) = {
    last = queries.map { q =>
      Trace.span("ops." + q.take(3)) {
        val df = Trace.span("ops.construct")(SparkEntry.queries(q)(c.spark, c.data))
        (q, Trace.span("ops.action")(df.collect()), df)
      }
    }
    (probes * queries.size, partBytes * queries.size)
  }

  override def after(c: Ctx, i: Int): Unit = {
    last.foreach { case (q, rows, df) =>
      val out = Map[String, Any]("op" -> i, "query" -> q,
        "rows" -> rows.length, "digest" -> Main.digest(rows))
      if (saved.add(q)) {
        val path = s"${c.work}/out/$q"
        Main.saveRows(c.spark, rows, df, path)
        c.outputs += (out + ("path" -> path))
      } else c.outputs += out
    }
    last = Nil
  }

  override def finish(c: Ctx): Unit = {
    c.facts("oracle_sql") = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    c.facts("parts") = probes
  }
}
