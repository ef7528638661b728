package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import graft.{Bench, Caches, SparkEntry}

/** Corpus curation: one op curates one generated document/embedding
  * shard (`<data>/shards/sNN/{documents,embeddings}.parquet`). It builds
  * the shard's `Caches` memos, runs a fixed list of registered
  * LLM-pipeline queries that have DuckDB oracles, collects each, then
  * clears the caches. Ops cycle through the shards.
  *
  * Output check as in [[DictResolve]]: the first op on each shard saves
  * every query's rows; later ops on that shard are compared by digest. */
class CorpusCuration extends Workload {
  val queries = Seq(
    "x13_dedup_jaccard" -> "ops.dedup",
    "x16_corpus_curation" -> "ops.dedup",
    "x29_semantic_dedup_cc" -> "ops.similarity",
    "x84_knn_clusters" -> "ops.similarity",
    "x87_label_propagation" -> "ops.similarity",
    "x55_bpe_merges" -> "ops.text",
    "x56_bpe_tokenize" -> "ops.text",
    "x62_bigram_surprise" -> "ops.text",
    "x75_pipeline_v2" -> "ops.pipeline",
    "x77_rejection_ledger" -> "ops.pipeline")
  /** The memoized artifacts those queries read (Bench's names). */
  val memos = Set("shingled", "curation_exact", "curation_shingled",
    "emb_corpus", "cc_labels", "semdedup_cc", "knn_edges", "knn_clusters",
    "bpe_merges", "classifier_weights")

  private var shards: Seq[String] = Nil
  private var shardDocs: Map[String, (Long, Long)] = Map.empty
  private var last: Seq[(String, Array[Row], DataFrame)] = Nil
  private val saved = scala.collection.mutable.Set.empty[(String, String)]

  override def setup(c: Ctx): Unit = {
    shards = new File(s"${c.data}/shards").listFiles().filter(_.isDirectory)
      .map(_.getAbsolutePath).sorted.toSeq
    shardDocs = shards.map { s =>
      s -> (c.spark.read.parquet(s"$s/documents.parquet").count(),
        Main.dirBytes(s"$s/documents.parquet") +
          Main.dirBytes(s"$s/embeddings.parquet"))
    }.toMap
    // warm the code paths on the first shard, then drop its memos
    curate(c, shards.head)
    Caches.clear(c.spark)
    saved.clear()
  }

  private def curate(c: Ctx, dir: String): Seq[(String, Array[Row], DataFrame)] = {
    val t0 = System.nanoTime()
    Trace.span("caches.build") {
      Bench.docFamilyFrames(c.spark, dir).filter(f => memos(f._1)).foreach {
        case (_, f) => f().write.format("noop").mode("overwrite").save()
      }
    }
    c.sample("caches.build_s", (System.nanoTime() - t0) / 1e9)
    queries.map { case (q, layer) =>
      Trace.span(layer) {
        val df = Trace.span("ops.construct")(SparkEntry.queries(q)(c.spark, dir))
        (q, Trace.span("ops.action")(df.collect()), df)
      }
    }
  }

  override def op(c: Ctx, i: Int): (Long, Long) = {
    val dir = shards(i % shards.size)
    last = curate(c, dir)
    Caches.clear(c.spark)
    shardDocs(dir)
  }

  override def after(c: Ctx, i: Int): Unit = {
    val dir = shards(i % shards.size)
    val shard = new File(dir).getName
    last.foreach { case (q, rows, df) =>
      val out = Map[String, Any]("op" -> i, "shard" -> shard, "query" -> q,
        "rows" -> rows.length, "digest" -> Main.digest(rows))
      if (saved.add((shard, q))) {
        val path = s"${c.work}/out/$shard/$q"
        Main.saveRows(c.spark, rows, df, path)
        c.outputs += (out + ("path" -> path))
      } else c.outputs += out
    }
    last = Nil
  }

  override def finish(c: Ctx): Unit =
    c.facts("oracle_sql") = queries.map { case (q, _) =>
      q -> SparkEntry.oracleSql(q) }.toMap
}
