package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** x66 — the END-TO-END LLM training-data pipeline, composing the proven
  * stages the way a production curation run chains them (the analog of
  * the reference's full-cycle composition, `Main.py:549-569`, which
  * chains extract → clean → analyze → sink):
  *
  *   quality prune (x38) → exact dedup (x10) → near-dup CC keep-best
  *   (x59) → benchmark decontamination (x19) → mixture sampling (x52)
  *   → per-source token budget (x53) → train/val/test split (x50)
  *
  * Each stage applies the SAME policy as its standalone query —
  * thresholds, hash families and tiebreaks are shared code, so the
  * composition cannot drift from the parts — but runs on the previous
  * stage's survivors, which is the composition semantics a pipeline
  * actually wants (dedup what survived pruning; budget what survived
  * sampling). Corpus-level artifacts keep their standalone scope: the
  * quality thresholds are the full-corpus per-language quartiles, the
  * near-dup cluster labels are the memoized full-corpus CC dim (built
  * once per corpus version, x28/x59's broadcast guard applies), and the
  * contamination pair set compares against the full benchmark slice.
  *
  * Scale shape: the expensive artifacts (shingle index, pair graph, CC
  * labels) are the memoized shared frames every dedup query reuses; the
  * pipeline itself adds one broadcast threshold join, one hash-groupBy
  * (shuffle ∝ surviving rows), one label join (guarded broadcast), two
  * anti joins against small dims, a map-side sampling filter, and one
  * final shuffle on `source` for the budget window — every inter-stage
  * boundary shrinks the data before the next shuffle, and nothing here
  * introduces a plan shape the standalone queries have not already
  * proven at the 10× probe. The full chain is SQL-expressible, so the
  * driver hash-checks the composition end to end.
  */
object Pipeline {

  def pipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val docs = Tables.spread(Tables.documents(spark, sfDir))
    // 1. quality prune — x38's exact policy (per-lang q25 + ulp slack)
    val scored = docs.select($"doc_id", $"lang", $"source", $"text",
      TextAnalysis.qualityScore($"text").as("quality_score"))
    val thresholds = scored.groupBy($"lang")
      .agg(expr("percentile(quality_score, 0.25)").as("q25"))
    val pruned = scored.join(broadcast(thresholds), "lang")
      .filter($"quality_score" >= $"q25" - lit(1e-12))
      .select($"doc_id", $"lang", $"source", $"text", $"quality_score")
    // 2. exact dedup — x10's keeper policy (min doc_id per sha256) as
    //    ONE window over the sha key (see pipelineV2: the groupBy +
    //    left-semi form paid a second corpus shuffle for the join);
    //    the sha exchange is also what ReuseExchange shares between
    //    the keep-best and singles branches below
    val wSha = Window.partitionBy($"h")
    val exact = pruned
      .withColumn("h", sha2($"text", 256))
      .withColumn("keeper", min($"doc_id").over(wSha))
      .filter($"doc_id" === $"keeper")
      .drop("h", "keeper")
    // 3. near-dup keep-best — x59's policy over the memoized full-corpus
    //    CC labels, ranked among the CURRENT survivors (x28/x59's
    //    broadcast guard: the label dim grows with corpus dup count);
    //    the label dim directly — dupClusters would bolt on a
    //    cluster_size window this consumer discards (the x59 route)
    val clusters = Dedup.ccLabels(spark, sfDir)
      .select($"id".as("doc_id"), $"label".as("cluster_id"))
    def dim(df: DataFrame): DataFrame =
      graft.Broadcasts(df, Dedup.ccLabelCount(spark, sfDir))
    val rkW = Window.partitionBy($"cluster_id")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    val best = exact.join(dim(clusters), "doc_id")
      .withColumn("rk", row_number().over(rkW))
      .filter($"rk" === 1)
      .select($"doc_id", $"lang", $"source", $"text", $"quality_score")
    val singles = exact
      .join(dim(clusters.select($"doc_id")), Seq("doc_id"), "left_anti")
    val survivors = best.unionByName(singles)
    // 4. decontaminate — x19's containment pairs; bench slice excluded.
    //    NO forced broadcast here: the contaminated dim's cardinality
    //    tracks contamination volume, not the CC label count the
    //    label gate above is sized for (benchmark text syndicated
    //    across a crawl could make this dim huge while labels stay
    //    small) — AQE picks broadcast vs shuffle from its actual size
    val contaminated = Dedup.decontaminate(spark, sfDir)
      .select($"train_id".as("doc_id")).distinct()
    val clean = survivors.filter($"doc_id" % 17 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 5. mixture sample — x52's pure-key-function admission
    val sampled = clean
      .withColumn("weight_permille",
        Sampling.sourceWeight($"source").cast("long"))
      .filter(Sampling.admitPermille($"doc_id") < $"weight_permille")
    // 6. token budget — x53's per-source running sum over survivors
    val budgetW = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sampled
      .withColumn("n_tokens", call_function("word_count", $"text").cast("long"))
      .withColumn("cum_tokens", sum($"n_tokens").over(budgetW))
      .filter($"cum_tokens" <= Sampling.TokensPerSource)
      // 7. split — x50's deterministic doc_id rule (shared definition)
      .withColumn("split", Sampling.splitOf($"doc_id"))
      .select($"doc_id", $"lang", $"source", $"quality_score",
        $"weight_permille", $"n_tokens", $"cum_tokens", $"split")
      .orderBy($"doc_id")
  }

  /** The composed oracle: every stage's standalone oracle fragment,
    * chained as CTEs in the same order (cluster labels via the x17
    * recursive-CTE closure — fixture scale only). */
  val pipelineE2eSql: String =
    s"""WITH RECURSIVE pp AS (${Dedup.jaccardPairsSql}),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pp
       |  UNION SELECT id_b, id_a FROM pp
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
       |), dd AS (
       |  SELECT doc_id, lang, source, text, string_split(text, ' ') AS w,
       |    CAST(LENGTH(text) AS BIGINT) AS n_chars
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, lang, source, text,
       |    ${TextAnalysis.qualityScoreSqlExpr("w", "n_chars")}
       |      AS quality_score
       |  FROM dd
       |), th AS (
       |  SELECT lang, quantile_cont(quality_score, 0.25) AS q25
       |  FROM sc GROUP BY lang
       |), pr AS (
       |  SELECT sc.doc_id, sc.lang, sc.source, sc.text, sc.quality_score
       |  FROM sc JOIN th ON sc.lang = th.lang
       |  WHERE quality_score >= q25 - 1e-12
       |), kp AS (
       |  SELECT MIN(doc_id) AS doc_id FROM pr GROUP BY sha256(text)
       |), ex AS (
       |  SELECT pr.* FROM pr JOIN kp ON pr.doc_id = kp.doc_id
       |), bst AS (
       |  SELECT doc_id FROM (
       |    SELECT ex.doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY comp.cluster_id
       |      ORDER BY ex.quality_score DESC, ex.doc_id ASC) AS rk
       |    FROM ex JOIN comp ON ex.doc_id = comp.doc_id) t
       |  WHERE rk = 1
       |), sv AS (
       |  SELECT ex.* FROM ex LEFT JOIN comp ON ex.doc_id = comp.doc_id
       |  WHERE comp.doc_id IS NULL OR ex.doc_id IN (SELECT doc_id FROM bst)
       |), ds AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), ss AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(w) - 1, 1)),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
       |  FROM ds
       |), ctm AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM ss a JOIN ss b ON a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
       |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / len(b.sh)
       |        >= ${Dedup.ContaminationThreshold}
       |), cl AS (
       |  SELECT sv.* FROM sv
       |  WHERE sv.doc_id % 17 <> 0
       |    AND sv.doc_id NOT IN (SELECT doc_id FROM ctm)
       |), ad AS (
       |  SELECT *, CASE
       |      WHEN source IN ('src0','src1','src2','src3') THEN 1000
       |      WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 500
       |      ELSE 250 END AS wgt
       |  FROM cl
       |  WHERE ((doc_id & 4294967295) * 1640531527) % 4294967296 % 1000 <
       |    CASE WHEN source IN ('src0','src1','src2','src3') THEN 1000
       |         WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 500
       |         ELSE 250 END
       |), tk AS (
       |  SELECT doc_id, lang, source, quality_score,
       |    CAST(wgt AS BIGINT) AS weight_permille,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
       |      OVER (PARTITION BY source ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_tokens
       |  FROM ad
       |)
       |SELECT doc_id, lang, source, quality_score, weight_permille,
       |  n_tokens, cum_tokens,
       |  CASE WHEN doc_id % 10 < 8 THEN 'train'
       |       WHEN doc_id % 10 = 8 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM tk WHERE cum_tokens <= ${Sampling.TokensPerSource}
       |ORDER BY doc_id""".stripMargin

  /** x73 — the CORPUS DATASHEET: the per-language summary a pipeline
    * materializes alongside every corpus version (the "datasheets for
    * datasets" practice, Gebru et al. 2021, arXiv:1803.09010 — and the
    * first artifact anyone debugging a training run asks for): document
    * and token volumes, source diversity, near-dup exposure, and the
    * token-length distribution, per language plus an ALL rollup row.
    *
    * Shape: one corpus map (token count) + ONE left join against the
    * memoized CC label dim (x28's guarded broadcast — dup fractions
    * grow with the corpus) + ONE rollup aggregation, every agg
    * map-side combinable except the median. All counters are exact
    * integers so the report is hash-reproducible; the median is the one
    * double (deterministic in both regimes).
    *
    * Median REGIME GATE (the same count-gated pattern as the CC label
    * broadcast): up to [[DatasheetExactMedianMaxRows]] corpus rows the
    * exact sort-based `percentile` runs (deterministic midpoint
    * interpolation — what the DuckDB oracle compares hash-exact); above
    * it the exact form's per-group sorted value buffer is the one
    * unbounded-memory agg in the report, so the SAME column switches to
    * `approx_percentile` (t-digest, fixed-size, mergeable — the x38→x39
    * swap, applied automatically instead of by manual query choice).
    * Both-regime parity is spec-pinned in CurationSpec; x74 stays the
    * full sketch form (HLL source diversity too) for users who want the
    * one-pass report at any size. */
  def corpusDatasheet(spark: SparkSession, sfDir: String): DataFrame =
    datasheetVia(spark, sfDir,
      exactMedian = docCount(spark, sfDir) <= DatasheetExactMedianMaxRows)

  /** Exact-median regime bound: 100M corpus rows keeps the largest
    * per-group sorted buffer (the ALL rollup group = the whole corpus)
    * around ~800 MB of longs spread across that group's sort — beyond
    * it the t-digest sketch takes over. Fixtures sit far below, so the
    * oracle always exercises the exact regime. */
  private[graft] val DatasheetExactMedianMaxRows: Long = 100L * 1000 * 1000

  /** Memoized corpus row count — one cheap count per (session, sfDir),
    * shared by every regime gate that needs corpus magnitude. */
  private[graft] def docCount(spark: SparkSession, sfDir: String): Long =
    graft.Caches.memoValue(spark, s"doc-count:$sfDir") {
      Tables.documents(spark, sfDir).count()
    }

  /** The datasheet in an explicit median regime (spec entry point). */
  private[graft] def datasheetVia(spark: SparkSession, sfDir: String,
      exactMedian: Boolean): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val labels = Dedup.ccLabels(spark, sfDir)
      .select($"id".as("doc_id"), $"label")
    val dim = graft.Broadcasts(labels, Dedup.ccLabelCount(spark, sfDir))
    val p50 =
      if (exactMedian) expr("percentile(n_tokens, 0.5)")
      else expr("approx_percentile(n_tokens, 0.5, 10000)").cast("double")
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source",
        call_function("word_count", $"text").cast("long").as("n_tokens"))
      .join(dim, Seq("doc_id"), "left")
      .rollup($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        countDistinct($"source").as("n_sources"),
        sum(when($"label".isNull, 0L).otherwise(1L)).as("n_dup_docs"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"),
        p50.as("p50_tokens"))
      .withColumn("lang", coalesce($"lang", lit("ALL")))
      .orderBy($"lang")
  }

  /** Oracle: GROUP BY ROLLUP with the same exact-integer aggs; DuckDB's
    * `median` over BIGINT interpolates the even-count midpoint like
    * Spark's `percentile(_, 0.5)`. */
  val corpusDatasheetSql: String =
    s"""WITH RECURSIVE p AS (${Dedup.jaccardPairsSql}),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc_id, MIN(b) AS label FROM reach GROUP BY a
       |), d AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), j AS (
       |  SELECT d.*, comp.label FROM d LEFT JOIN comp USING (doc_id)
       |)
       |SELECT COALESCE(lang, 'ALL') AS lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(SUM(CASE WHEN label IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_dup_docs,
       |  MIN(n_tokens) AS min_tokens,
       |  MAX(n_tokens) AS max_tokens,
       |  CAST(quantile_cont(n_tokens, 0.5) AS DOUBLE) AS p50_tokens
       |FROM j GROUP BY ROLLUP (lang)
       |ORDER BY COALESCE(lang, 'ALL')""".stripMargin

  /** x74 — the datasheet AT SCALE: same report shape as
    * [[corpusDatasheet]] with the two non-mergeable aggregates swapped
    * for their one-pass sketch forms — `approx_percentile` (t-digest)
    * for the median, exactly the x38→x39 swap, and
    * `approx_count_distinct` (HyperLogLog++) for source diversity,
    * whose exact form under a rollup is the ONE expensive piece of x73
    * at 100 TB (exact distinct expands every row per grouping set
    * before the shuffle; the HLL sketch is fixed-size and merges).
    * Engine-specific sketches → rows-only check; CurationSpec gates
    * every column against exact x73 (counters identical, sketches
    * within tolerance). */
  def corpusDatasheetApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val labels = Dedup.ccLabels(spark, sfDir)
      .select($"id".as("doc_id"), $"label")
    val dim = graft.Broadcasts(labels, Dedup.ccLabelCount(spark, sfDir))
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source",
        call_function("word_count", $"text").cast("long").as("n_tokens"))
      .join(dim, Seq("doc_id"), "left")
      .rollup($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        approx_count_distinct($"source").as("n_sources"),
        sum(when($"label".isNull, 0L).otherwise(1L)).as("n_dup_docs"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"),
        expr("approx_percentile(n_tokens, 0.5, 10000)").as("p50_tokens"))
      .withColumn("lang", coalesce($"lang", lit("ALL")))
      .orderBy($"lang")
  }

  /** x75 — pipeline v2, INGEST TO TRAINING ORDER: the modern-recipe
    * composition of the round's classifier/substring/split/shuffle
    * stages, complementing x66 (which chains the heuristic-era stages):
    *
    *   classifier admit (x69) → exact dedup (x10's keeper rule) →
    *   substring rewrite over the survivors (x70) → leakage-free
    *   split (x71, full-corpus CC labels) → shuffle-shard (x72)
    *
    * Composition semantics as in x66: every stage applies its
    * standalone policy via SHARED CODE, each stage runs on the
    * previous stage's survivors (the substring frequent-span dim is
    * computed within the surviving slice — cut what survives, not what
    * was already dropped), and corpus-level artifacts keep corpus
    * scope (the CC label dim is the memoized full-corpus artifact,
    * guarded broadcast as everywhere). The final (shard, pos) is
    * ranked within (split, shard) so each split's shards are
    * independently contiguous training files.
    *
    * Scale shape: one classifier map (no shuffle) → hash-groupBy on
    * sha256 (shuffle ∝ kept rows) → x70's gram pipeline on the shrunk
    * slice → guarded label join → shard window. Nothing here has a
    * plan shape the standalone ops haven't carried through the 10×
    * probe; every boundary shrinks the data first. */
  def pipelineV2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val wts = TextAnalysis.classifierWeights(spark, sfDir)
    val docs = Tables.spread(Tables.documents(spark, sfDir))
      .select($"doc_id", $"lang", $"text")
    // 1. classifier admission — x69's exact scoring path
    val admitted = docs
      .withColumn("w0", split($"text", " "))
      .withColumn("feat_sum_micro",
        TextAnalysis.classifierScoreMicro($"w0", wts))
      .filter($"feat_sum_micro" > 0)
      .select($"doc_id", $"lang", $"text", $"feat_sum_micro")
    // 2. exact dedup — x10's keeper policy (min doc_id per sha256),
    //    evaluated as ONE window over the sha key (x77's shape): the
    //    earlier groupBy + left-semi form paid a second shuffle of the
    //    admitted corpus (by doc_id, for the join) on top of the sha
    //    one; the window form pays only the sha exchange and filters
    //    in place — same keeper, one fewer corpus shuffle and no join
    val wSha = Window.partitionBy($"h")
    val exact = admitted
      .withColumn("h", sha2($"text", 256))
      .withColumn("keeper", min($"doc_id").over(wSha))
      .filter($"doc_id" === $"keeper")
      .drop("h", "keeper")
    v2TransformStages(spark, sfDir, exact)
      .select($"doc_id", $"lang", $"feat_sum_micro", $"n_removed",
        $"clean_text", $"split", $"shard", $"pos")
      .orderBy($"split", $"shard", $"pos")
  }

  /** Stages 3-5 of the v2 pipeline — the TRANSFORM stages (they reshape
    * or route, never drop): x70's substring rewrite within the
    * surviving slice, x71's leakage-free split over the memoized
    * full-corpus CC label dim, x72's hash-ordered shard rank. One
    * definition shared by [[pipelineV2]] and [[rejectionLedger]], so
    * the ledger's evidence columns are the pipeline's outputs by
    * construction, not a replica that can drift. Input: the stage-2
    * survivors with at least (doc_id, text); output: the input columns
    * plus (n_removed, clean_text, split, shard, pos). */
  private[graft] def v2TransformStages(spark: SparkSession, sfDir: String,
      exact: DataFrame): DataFrame = {
    import spark.implicits._
    // 3. substring rewrite within the surviving slice — x70's policy
    val rewritten = Dedup.substringRewriteCore(spark,
        exact.select($"doc_id", $"text"))
      .select($"doc_id", $"n_removed", $"clean_text")
    val surv = exact.join(rewritten, "doc_id")
    // 4. leakage-free split — x71's representative-keyed assignment
    //    over the memoized full-corpus label dim (guarded broadcast)
    val labels = Dedup.ccLabels(spark, sfDir)
      .select($"id".as("doc_id"), $"label")
    val dim = graft.Broadcasts(labels, Dedup.ccLabelCount(spark, sfDir))
    val split8 = surv.join(dim, Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"label", $"doc_id"))
      .withColumn("split", Sampling.splitOf($"rep"))
    // 5. shuffle-shard — x72's hash order, ranked within (split, shard)
    val h = call_function("fnv1a64", $"doc_id".cast("string"))
    val w = Window.partitionBy($"split", $"shard")
      .orderBy($"ukey", $"doc_id")
    split8
      .withColumn("h", h)
      .withColumn("shard", pmod($"h", lit(Sampling.ShuffleShards)).cast("int"))
      .withColumn("ukey", $"h".bitwiseXOR(lit(Long.MinValue)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("rep", "label", "h", "ukey")
  }

  /** x77 — the pipeline REJECTION LEDGER, full per-stage provenance
    * (since round 11): one row per ORIGINAL corpus document answering
    * "what happened to doc N" across the WHOLE v2 pipeline —
    *
    *  - the first x75 stage that rejected it (`classifier` |
    *    `exact_dup`) or `kept`, with the classifier score and, for
    *    dup-rejections, the keeper document the text lost to;
    *  - for kept docs, the TRANSFORM stages' evidence: the token count
    *    the x70 substring rewrite removed (`n_removed`) and the
    *    (split, shard, pos) training-file routing — NULL for dropped
    *    docs, which never reached those stages.
    *
    * This is the first artifact anyone asks for when a 100 TB corpus
    * shrinks unexpectedly between versions ("which stage ate 40% of my
    * docs?" / "where did doc N end up?"); per-stage drop counts and
    * routing audits are one groupBy over it.
    *
    * Shape: the SAME shared policies as the pipeline, in one pass over
    * the corpus — a classifier map, then ONE window over the sha256
    * key (the same shuffle x10's groupBy pays; both verdict branches
    * reuse that exchange). The kept slice then flows through
    * [[v2TransformStages]] — literally the pipeline's stage-3-5 code,
    * so the evidence equals x75's outputs by construction; those
    * stages' own shuffles are over SURVIVORS (and x70's span dim),
    * never a second full-corpus shuffle. Dropped rows ride the union
    * with typed NULL evidence. The streaming sibling
    * ([[graft.streaming.Streaming.ledgerUpdate]]) keeps verdict scope:
    * split/shard/pos are corpus-global ranks a micro-batch cannot
    * know, exactly the columns the spec compares by name. */
  def rejectionLedger(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val wts = TextAnalysis.classifierWeights(spark, sfDir)
    val w = Window.partitionBy($"h")
    val base = Tables.spread(Tables.documents(spark, sfDir))
      .select($"doc_id", $"text")
      .withColumn("w0", split($"text", " "))
      .withColumn("feat_sum_micro",
        TextAnalysis.classifierScoreMicro($"w0", wts))
      .withColumn("h", sha2($"text", 256))
      .withColumn("keeper",
        min(when($"feat_sum_micro" > 0, $"doc_id")).over(w))
      .withColumn("stage",
        when($"feat_sum_micro" <= 0, lit("classifier"))
          .when($"doc_id" =!= $"keeper", lit("exact_dup"))
          .otherwise(lit("kept")))
    val verdictCols = Seq($"doc_id", $"feat_sum_micro", $"stage",
      when($"feat_sum_micro" <= 0, lit(null).cast("long"))
        .otherwise($"keeper").as("keeper_id"))
    val dropped = base.filter($"stage" =!= "kept")
      .select(verdictCols :+ lit(null).cast("long").as("n_removed") :+
        lit(null).cast("string").as("split") :+
        lit(null).cast("int").as("shard") :+
        lit(null).cast("long").as("pos"): _*)
    val kept = v2TransformStages(spark, sfDir, base.filter($"stage" === "kept"))
      .select(verdictCols :+ $"n_removed" :+ $"split" :+ $"shard" :+
        $"pos": _*)
    dropped.unionByName(kept).orderBy($"doc_id")
  }

  /** x77's oracle: the base verdict replay (x69 scoring + a window min
    * over the sha256 partition — DuckDB's sha256 hex string is only a
    * partition key; it never crosses the engine boundary) LEFT JOINed
    * to the full v2-pipeline replay ([[v2Ctes]] — the same CTE chain
    * the x75 oracle selects from) for the kept docs' transform-stage
    * evidence. */
  val rejectionLedgerSql: String =
    s"""WITH RECURSIVE $v2Ctes, led AS (
       |  SELECT doc_id, feat_sum_micro,
       |    MIN(CASE WHEN feat_sum_micro > 0 THEN doc_id END)
       |      OVER (PARTITION BY sha256(text)) AS keeper
       |  FROM adm
       |)
       |SELECT l.doc_id, l.feat_sum_micro,
       |  CASE WHEN l.feat_sum_micro <= 0 THEN 'classifier'
       |       WHEN l.doc_id <> l.keeper THEN 'exact_dup'
       |       ELSE 'kept' END AS stage,
       |  CASE WHEN l.feat_sum_micro <= 0 THEN CAST(NULL AS BIGINT)
       |       ELSE l.keeper END AS keeper_id,
       |  v.n_removed, v.split, v.shard, v.pos
       |FROM led l LEFT JOIN v2out v ON l.doc_id = v.doc_id
       |ORDER BY l.doc_id""".stripMargin

  /** The composed v2 oracle: each stage's standalone oracle fragment
    * chained in order — the x69 FNV word-scoring lambda as the
    * admission WHERE, x10's sha keeper, x70's coverage-join rewrite on
    * the surviving slice, the x17 recursive-CTE labels for the split
    * key, and the x72 unsigned-FNV shard rank. */
  val pipelineV2Sql: String =
    s"""WITH RECURSIVE $v2Ctes
       |SELECT doc_id, lang, feat_sum_micro, n_removed, clean_text, split,
       |  shard, pos
       |FROM v2out ORDER BY split, shard, pos""".stripMargin

  /** The v2 oracle's CTE chain, shared by [[pipelineV2Sql]] and
    * [[rejectionLedgerSql]] exactly as [[v2TransformStages]] is shared
    * by the engine paths: `adm` scores every corpus doc, `v2out` is
    * the finished x75 relation. */
  private lazy val v2Ctes: String = {
    val idByte =
      "(strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1))-1)*16" +
        " + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1))-1)"
    val n = Dedup.SpanNgramWidth
    s"""${TextAnalysis.classifierTrainingCtes},
       |doc0 AS MATERIALIZED (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS w
       |  FROM documents
       |)${TextAnalysis.classifierScoreCtes("doc0", "clf_sc")},
       |p AS (${Dedup.jaccardPairsSql}),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc_id, MIN(b) AS label FROM reach GROUP BY a
       |), adm AS (
       |  SELECT d0.doc_id, d0.lang, d0.text, s.feat_sum_micro
       |  FROM doc0 d0 JOIN clf_sc s ON d0.doc_id = s.doc_id
       |), kept AS (
       |  SELECT * FROM adm WHERE feat_sum_micro > 0
       |), kp AS (
       |  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY sha256(text)
       |), ex AS (
       |  SELECT kept.* FROM kept JOIN kp ON kept.doc_id = kp.doc_id
       |), d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM ex
       |), g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    array_to_string(w[i:i+${n - 1}], ' ') AS ng
       |  FROM d, unnest(range(1, len(w) - ${n - 2})) t(i)
       |  WHERE len(w) >= $n
       |), freq AS (
       |  SELECT ng, MIN(doc_id * 1000000000 + pos) AS first_key
       |  FROM g GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2
       |), fl AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN freq USING (ng)
       |  WHERE g.doc_id * 1000000000 + g.pos <> freq.first_key
       |), toks AS (
       |  SELECT doc_id, CAST(j AS INT) AS j, w[CAST(j AS INT)] AS tok
       |  FROM d, unnest(range(1, len(w) + 1)) t(j)
       |), cov AS (
       |  SELECT t.doc_id, t.j, t.tok, COUNT(f.pos) AS ncov
       |  FROM toks t LEFT JOIN fl f
       |    ON f.doc_id = t.doc_id AND f.pos <= t.j AND t.j < f.pos + $n
       |  GROUP BY t.doc_id, t.j, t.tok
       |), rew AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN ncov = 0 THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_removed,
       |    COALESCE(string_agg(CASE WHEN ncov = 0 THEN tok END,
       |                        ' ' ORDER BY j), '') AS clean_text
       |  FROM cov GROUP BY doc_id
       |), sp AS (
       |  SELECT ex.doc_id, ex.lang, ex.feat_sum_micro,
       |    COALESCE(rew.n_removed, 0) AS n_removed,
       |    COALESCE(rew.clean_text, '') AS clean_text,
       |    CASE WHEN COALESCE(comp.label, ex.doc_id) % 10 < 8 THEN 'train'
       |         WHEN COALESCE(comp.label, ex.doc_id) % 10 = 8 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM ex LEFT JOIN rew ON ex.doc_id = rew.doc_id
       |          LEFT JOIN comp ON ex.doc_id = comp.doc_id
       |), fv AS (
       |  SELECT sp.*, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(0, octet_length(encode(hx0))),
       |        i -> CAST($idByte AS HUGEINT))),
       |    (acc, x) -> (xor(acc, x) * 1099511628211)
       |                  % CAST(18446744073709551616 AS HUGEINT)) AS fnvu
       |  FROM (SELECT sp.*, CAST(doc_id AS VARCHAR) AS hx0,
       |          hex(encode(CAST(doc_id AS VARCHAR))) AS hx FROM sp) sp
       |), v2out AS (
       |  SELECT doc_id, lang, feat_sum_micro, n_removed, clean_text, split,
       |    CAST(fnvu % ${Sampling.ShuffleShards} AS INT) AS shard,
       |    CAST(ROW_NUMBER() OVER (
       |      PARTITION BY split, fnvu % ${Sampling.ShuffleShards}
       |      ORDER BY fnvu, doc_id) AS BIGINT) AS pos
       |  FROM fv
       |)""".stripMargin
  }

  // ------------------------------------------------ x82 snapshot diff

  /** x82 — CORPUS SNAPSHOT DIFF, the recrawl-reconciliation step every
    * continuously-refreshed training corpus needs: given crawl snapshot
    * OLD and crawl snapshot NEW, report which documents were ADDED
    * (crawled for the first time), REMOVED (gone from the new crawl)
    * or CHANGED (same id, different content) — the delta that drives
    * incremental reprocessing (re-dedup only the added/changed slice via
    * x18, retire removed docs from the index, leave the unchanged ~99%
    * untouched).
    *
    * The two snapshots derive deterministically from the documents
    * table, the fixture convention every split/increment query here
    * uses: OLD omits `doc_id % 17 == 3` (not yet crawled then), NEW
    * omits `doc_id % 13 == 5` (dropped out of the new crawl) and
    * recrawls `doc_id % 11 == 2` with changed content (a ' [rev2]'
    * suffix).
    *
    * Scale shape: each side is a map-side filter + sha256 PROJECTION —
    * the join carries (doc_id, 64-byte hash), never the document text,
    * so shuffle width is ~72 bytes/row regardless of document size. One
    * full-outer sort-merge equi-join on doc_id (both sides corpus-sized:
    * the one shuffle the semantics require — snapshots stored bucketed
    * by doc_id join co-partitioned with no shuffle at all, the j05
    * layout), and unchanged rows — the overwhelming majority of a real
    * recrawl — are filtered before anything leaves the executors. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    snapshotDiffOf(oldSnapshotHashes(docs), newSnapshotHashes(docs))
  }

  /** The general diff operator over two (doc_id, h) snapshot hash
    * frames — the form a library caller feeds their own crawl
    * snapshots (the registered x82 query derives its fixture slices
    * via [[oldSnapshotHashes]]/[[newSnapshotHashes]]). PropertySpec
    * pins the algebra: diff(a, a) is empty, and on content-disjoint
    * snapshots every id is added/removed/changed by key membership
    * alone. */
  private[graft] def snapshotDiffOf(oldSnap: DataFrame,
      newSnap: DataFrame): DataFrame = {
    val spark = oldSnap.sparkSession
    import spark.implicits._
    val old = oldSnap.select($"doc_id".as("o_id"), $"h".as("o_h"))
    val neu = newSnap.select($"doc_id".as("n_id"), $"h".as("n_h"))
    old.join(neu, $"o_id" === $"n_id", "full_outer")
      .withColumn("status",
        when($"o_id".isNull, lit("added"))
          .when($"n_id".isNull, lit("removed"))
          .otherwise(lit("changed")))
      // null-SAFE content compare: a hash that is NULL on exactly one
      // side (a caller's null text) is a CHANGE, not silently unchanged
      .filter($"o_id".isNull || $"n_id".isNull || !($"o_h" <=> $"n_h"))
      .select(coalesce($"o_id", $"n_id").as("doc_id"), $"status")
      .orderBy($"doc_id")
  }

  /** The OLD-snapshot (doc_id, h) projection — shared by batch x82 and
    * the streamed reconciliation's frozen store, so the two cannot
    * diverge on the snapshot definition. */
  private[graft] def oldSnapshotHashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter($"doc_id" % 17 =!= 3)
      .select($"doc_id", sha2($"text", 256).as("h"))
  }

  /** The NEW-snapshot (doc_id, text) corpus — the %13 drop-out and the
    * %11 recrawl rewrite — shared by the hash projection below and
    * x86's reprocessing slice, so the recrawl semantics exist once. */
  private[graft] def newSnapshotText(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter($"doc_id" % 13 =!= 5)
      .select($"doc_id",
        when($"doc_id" % 11 === 2, concat($"text", lit(" [rev2]")))
          .otherwise($"text").as("text"))
  }

  /** The NEW-snapshot (doc_id, h) projection — shared by batch x82 and
    * the streamed per-batch probe. */
  private[graft] def newSnapshotHashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    newSnapshotText(docs).select($"doc_id", sha2($"text", 256).as("h"))
  }

  /** Membership predicate for the recrawl delta WITHIN the new corpus:
    * added (first crawl) or changed (recrawled content). */
  private def isDeltaId(id: org.apache.spark.sql.Column) =
    id % 17 === 3 || id % 11 === 2

  /** The new-crawl shingle frame — the per-crawl-version shared
    * artifact (memoized + prewarmed like `Dedup.shingled`). */
  private[graft] def newSnapshotShingled(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"newsnap-shingled:$sfDir") {
      newSnapshotText(Tables.spread(Tables.documents(spark, sfDir)))
        .select(col("doc_id"), graft.ops.Dedup.shingles(col("text")).as("sh"))
        .withColumn("nsh", size(col("sh")))
    }

  /** The new-crawl band index — at deployment the frame persisted
    * bucketed by (band, bh) per crawl version; the probe equi-joins
    * it. */
  private[graft] def newSnapshotBands(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"newsnap-bands:$sfDir") {
      graft.ops.Dedup.bandsOf(newSnapshotShingled(spark, sfDir))
    }

  /** x86 — DELTA-DRIVEN INCREMENTAL REPROCESSING: the composition
    * x82's scaladoc promises, made a real query — the recrawl delta
    * (added + changed docs, x82's statuses derived from the same id
    * arithmetic) is the ONLY slice re-deduped: its band keys probe the
    * band index of the UNCHANGED corpus through exactly x18's
    * machinery ([[graft.ops.Dedup.bandsOf]] — shared code, shared
    * recall argument), with exact Jaccard verification of candidates,
    * emitting which new/changed documents near-duplicate content the
    * corpus already holds. The unchanged ~99% of a real recrawl is
    * never pairwise-compared with itself — cost ∝ delta × collisions,
    * the whole point of maintaining the index.
    *
    * Scale shape: the new corpus's shingle frame and band index are
    * MEMOIZED shared artifacts (Caches, prewarmed like every other
    * index: a real pipeline persists the crawl version's band index
    * once — x18's premise applied to the recrawl; unmemoized, the
    * 10× probe measured the per-run index rebuild at 9.3×-linear,
    * drowning the probe cost the operator is about), so the timed
    * query is the (band, bh) equi probe join + candidate-only exact
    * verify — cost ∝ delta × collisions. */
  def deltaReprocess(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val sh = newSnapshotShingled(spark, sfDir)
    val bands = newSnapshotBands(spark, sfDir)
    val cand = bands.filter(isDeltaId($"doc_id")).as("a")
      .join(bands.filter(!isDeltaId($"doc_id")).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("hist_id"))
      .distinct()
    val inc = sh.filter(isDeltaId($"doc_id"))
      .select($"doc_id".as("inc_id"), $"sh".as("sh_a"), $"nsh".as("na"))
    val hist = sh.filter(!isDeltaId($"doc_id"))
      .select($"doc_id".as("hist_id"), $"sh".as("sh_b"), $"nsh".as("nb"))
    cand.join(inc, "inc_id").join(hist, "hist_id")
      .withColumn("inter",
        call_function("array_intersect_count", $"sh_a", $"sh_b"))
      .withColumn("jaccard", $"inter" / ($"na" + $"nb" - $"inter"))
      .filter($"jaccard" >= 0.3)
      .select($"inc_id",
        when($"inc_id" % 17 === 3, lit("added")).otherwise(lit("changed"))
          .as("status"),
        $"hist_id", $"jaccard")
      .orderBy($"inc_id", $"hist_id")
  }

  /** x86's oracle: the recrawl text CTE + the O(delta × unchanged)
    * exhaustive formulation (fixture scale only), x18's recipe. Like
    * x18, hash parity additionally asserts band recall = 1 at
    * J ≥ 0.3 on this corpus — a fixture planting band-marginal pairs
    * would fail loudly here and demote x86 to rows-only. */
  val deltaReprocessSql: String =
    """WITH nd AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 2 THEN text || ' [rev2]'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 5
      |), d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM nd
      |), s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(w) - 1, 1)),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM d
      |)
      |SELECT a.doc_id AS inc_id,
      |  CASE WHEN a.doc_id % 17 = 3 THEN 'added' ELSE 'changed' END AS status,
      |  b.doc_id AS hist_id,
      |  len(list_intersect(a.sh, b.sh)) * 1.0 /
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |FROM s a JOIN s b
      |  ON (a.doc_id % 17 = 3 OR a.doc_id % 11 = 2)
      | AND NOT (b.doc_id % 17 = 3 OR b.doc_id % 11 = 2)
      |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
      |ORDER BY inc_id, hist_id""".stripMargin

  val snapshotDiffSql: String =
    """WITH old AS (
      |  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 17 <> 3
      |), neu AS (
      |  SELECT doc_id,
      |    sha256(CASE WHEN doc_id % 11 = 2 THEN text || ' [rev2]'
      |                ELSE text END) AS h
      |  FROM documents WHERE doc_id % 13 <> 5
      |)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       ELSE 'changed' END AS status
      |FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
      |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
      |   OR o.h IS DISTINCT FROM n.h
      |ORDER BY doc_id""".stripMargin
}
