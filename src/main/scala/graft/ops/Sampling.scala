package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Dataset-splitting / sampling operators of a training-data pipeline.
  *
  *  - x50 deterministic split: train/val/test assignment must be a pure
  *    function of the document key (reproducible across runs, engines and
  *    re-partitions — never `rand()`), here `doc_id mod 10` → 8/1/1.
  *    Map-only + one aggregation shuffle.
  *  - x51 per-source cap: "at most K documents per domain" is the
  *    standard anti-domination guard before training. One shuffle on
  *    `source`, per-group ordered row_number, cap filter. At 100 TB a
  *    pre-pass aggregation can skip sorting sources already under the
  *    cap; AQE handles the skewed-source partitions.
  */
object Sampling {

  /** The 80/10/10 split rule over any integer key — ONE definition
    * shared by x50 (keyed by doc_id), x71 (keyed by the cluster
    * representative) and the pipelines' final stage, so the documented
    * x50 ≡ x71-on-singletons invariant cannot drift by editing one
    * copy of the ratio. */
  private[graft] def splitOf(key: Column): Column =
    when(key % 10 < 8, "train")
      .when(key % 10 === 8, "val")
      .otherwise("test")

  /** x50 — deterministic 80/10/10 split, audited per (split, lang). */
  def splitCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("split", splitOf($"doc_id"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"split", $"lang")
  }

  val splitCountsSql: String =
    """SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
      |            WHEN doc_id % 10 = 8 THEN 'val'
      |            ELSE 'test' END AS split,
      |       lang, COUNT(*) AS n
      |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  private val CapPerSource = 100

  /** x51 — keep at most [[CapPerSource]] docs per source (doc_id order). */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    Tables.documents(spark, sfDir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= CapPerSource)
      .select($"source", $"doc_id", $"rk".cast("int").as("rk"))
      .orderBy($"source", $"doc_id")
  }

  val sourceCapSql: String =
    s"""SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |  FROM documents) t
       |WHERE rk <= $CapPerSource ORDER BY source, doc_id""".stripMargin

  /** x52 — deterministic MIXTURE resampling: the data-mixing step of a
    * training-data pipeline ("web at 25%, curated at 100%") as a pure
    * function of the document key — per-source keep-probability in
    * permille, admission decided by a 32-bit multiplicative hash of
    * doc_id, so the sample is reproducible across runs, engines and
    * partitionings (never `rand()`), map-only, and monotone: lowering a
    * source's weight only REMOVES docs (the kept set at w₁ ⊂ kept set
    * at w₂ for w₁ < w₂ — stable ablations). Overflow-safe at any
    * doc_id: the key is masked to 32 bits and the Fibonacci multiplier
    * 1640531527 is < 2³¹, so the product stays < 2⁶³ — Spark can't
    * silently wrap negative and DuckDB can't raise BIGINT overflow
    * (Knuth's 2654435761 > 2³¹ broke both for doc_id ≳ 3.5e9). */
  /** x52's admission hash as a reusable Column: permille bucket in
    * [0, 1000) from the low 32 bits of the key. Factored out so the
    * PropertySpec can pin the overflow-safety claim at the regime the
    * fix was made for (doc_id ≈ 2⁴⁰, where the old Knuth multiplier
    * overflowed int64 and wrapped negative). */
  private[graft] def admitPermille(docId: Column): Column =
    (docId.bitwiseAND(lit(4294967295L)) * lit(1640531527L)) %
      lit(4294967296L) % 1000

  /** x52's per-source keep-probability (permille) — shared with the
    * streaming sibling so batch and stream admit the identical set. */
  private[graft] def sourceWeight(source: Column): Column =
    when(source.isin("src0", "src1", "src2", "src3"), 1000)
      .when(source.isin("src4", "src5", "src6", "src7", "src8", "src9"), 500)
      .otherwise(250)

  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val weight = sourceWeight($"source")
    val h = admitPermille($"doc_id")
    Tables.documents(spark, sfDir)
      .withColumn("w", weight)
      .filter(h < $"w")
      .select($"doc_id", $"source", $"w".cast("long").as("weight_permille"))
      .orderBy($"doc_id")
  }

  val mixtureSampleSql: String =
    """SELECT doc_id, source, CAST(w AS BIGINT) AS weight_permille FROM (
      |  SELECT doc_id, source,
      |    CASE WHEN source IN ('src0','src1','src2','src3') THEN 1000
      |         WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 500
      |         ELSE 250 END AS w
      |  FROM documents) t
      |WHERE ((doc_id & 4294967295) * 1640531527) % 4294967296 % 1000 < w
      |ORDER BY doc_id""".stripMargin

  /** Per-source token budget for x53 (tokens ≈ whitespace words, the
    * x30 convention). */
  val TokensPerSource = 3000L

  /** x53 — token-BUDGET packing: fill each source's token allowance in
    * deterministic doc_id order and stop — how a training run caps each
    * corpus slice by tokens, not documents (x51's doc cap under-fills
    * sources with short docs). One shuffle on `source`, a running-sum
    * window inside each partition, map-side filter; at 100 TB identical
    * shape, with AQE handling source skew. */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", call_function("word_count", $"text").cast("long"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= TokensPerSource)
      .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
      .orderBy($"source", $"doc_id")
  }

  val tokenBudgetSql: String =
    s"""SELECT source, doc_id, n_tokens, cum_tokens FROM (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
       |      OVER (PARTITION BY source ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_tokens
       |  FROM documents) t
       |WHERE cum_tokens <= $TokensPerSource ORDER BY source, doc_id""".stripMargin

  /** x49 sequence length (tokens per packed training sequence). */
  val PackSeqLen = 512L

  /** x49 — SEQUENCE PACKING, the concat-and-chunk step that turns a
    * document stream into fixed-length training sequences (every LM
    * pretraining pipeline ends with it): within each source, documents
    * are concatenated in deterministic doc_id order and the token
    * stream is cut every [[PackSeqLen]] tokens; each document reports
    * its start offset and the first/last sequence it lands in (a doc
    * spanning a cut gets `crosses_boundary` — the fraction of split
    * docs is the signal packing pipelines monitor). Same plan shape as
    * x53: one shuffle on `source`, a running-sum window per source
    * partition, map-side arithmetic after — no global ordering is ever
    * required because sources pack independently (the production
    * layout: one packed shard family per source; a single global
    * stream would serialize the cumsum). */
  def sequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", call_function("word_count", $"text").cast("long"))
      .withColumn("start_off", sum($"n_tokens").over(w) - $"n_tokens")
      .withColumn("first_seq", expr(s"start_off div $PackSeqLen"))
      .withColumn("last_seq",
        expr(s"(start_off + n_tokens - 1) div $PackSeqLen"))
      .withColumn("crosses_boundary", $"first_seq" =!= $"last_seq")
      .select($"source", $"doc_id", $"n_tokens", $"start_off",
        $"first_seq", $"last_seq", $"crosses_boundary")
      .orderBy($"source", $"doc_id")
  }

  val sequencePackSql: String =
    s"""SELECT source, doc_id, n_tokens, start_off,
       |  start_off // $PackSeqLen AS first_seq,
       |  (start_off + n_tokens - 1) // $PackSeqLen AS last_seq,
       |  start_off // $PackSeqLen <> (start_off + n_tokens - 1) // $PackSeqLen
       |    AS crosses_boundary
       |FROM (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
       |      OVER (PARTITION BY source ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT)
       |      - CAST(len(string_split(text, ' ')) AS BIGINT) AS start_off
       |  FROM documents) t
       |ORDER BY source, doc_id""".stripMargin

  /** x54 knobs — total training budget as a permille of the corpus
    * tokens (900 = the budget is 90% of the corpus, so the water level
    * must bite somewhere), per-source consumption cap as a permille of
    * that source's tokens (1000 = at most one epoch of any source; in
    * UniMax's own budget ≫ corpus regime this is 2000-4000 and the
    * algorithm is unchanged). */
  val UnimaxBudgetPermille = 900L
  val UnimaxEpochCapPermille = 1000L

  /** x54 — UniMax-style budget allocation (Chung et al. 2023,
    * arXiv:2304.09151): split a total token budget across sources so
    * that no source exceeds its epoch cap and every uncapped source
    * gets the same share — the greedy per-source loop of the paper is
    * exactly water-filling, computed here in closed form. Sort sources
    * by cap c₍ᵢ₎ ascending with prefix sums Pᵢ; f(m) = Pₘ + (k−m)·cₘ is
    * non-decreasing in m, so the capped set is the largest prefix m*
    * with f(m*) ≤ B and the water level is θ = (B − Pₘ*) div (k − m*):
    * sources with rank ≤ m* get their full cap, the rest get θ. All
    * arithmetic is exact BIGINT (permille knobs, DIV), so the oracle
    * hash-matches.
    *
    * Scale shape: one shuffle (the per-source token sum over the
    * corpus); everything after runs on the k-row source dimension — the
    * rank window and the single-row (B, k, m*, Pₘ*) reduction are
    * driver-scale frames, exactly like the percent-of-total pattern in
    * q1/x38. At 100 TB: same plan, k is still tiny. */
  def unimaxAlloc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val perSource = Tables.documents(spark, sfDir)
      .withColumn("n_tokens", call_function("word_count", $"text").cast("long"))
      .groupBy($"source").agg(sum($"n_tokens").as("n_tokens"))
      .withColumn("cap_tokens",
        expr(s"n_tokens * $UnimaxEpochCapPermille div 1000"))
    val w = Window.orderBy($"cap_tokens", $"source")
    val ranked = perSource
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("pfx", sum($"cap_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val dim = perSource.agg(
      expr(s"sum(n_tokens) * $UnimaxBudgetPermille div 1000").as("budget"),
      count(lit(1)).cast("long").as("k"))
    val flagged = ranked.crossJoin(broadcast(dim))
      .withColumn("fits", $"pfx" + ($"k" - $"rk") * $"cap_tokens" <= $"budget")
    val star = flagged.agg(
      coalesce(max(when($"fits", $"rk")), lit(0L)).as("m_star"),
      coalesce(max(when($"fits", $"pfx")), lit(0L)).as("pfx_star"))
    flagged.crossJoin(broadcast(star))
      .withColumn("alloc_tokens",
        when($"rk" <= $"m_star", $"cap_tokens").otherwise(
          expr("(budget - pfx_star) div (k - m_star)")))
      .withColumn("capped", $"rk" <= $"m_star")
      .select($"source", $"n_tokens", $"cap_tokens", $"alloc_tokens", $"capped")
      .orderBy($"source")
  }

  val unimaxAllocSql: String =
    s"""WITH per_source AS (
       |  SELECT source,
       |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
       |      AS n_tokens
       |  FROM documents GROUP BY source
       |), capped AS (
       |  SELECT source, n_tokens,
       |    n_tokens * $UnimaxEpochCapPermille // 1000 AS cap_tokens
       |  FROM per_source
       |), ranked AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS BIGINT) AS rk,
       |    CAST(SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pfx
       |  FROM capped
       |), dim AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) * $UnimaxBudgetPermille // 1000
       |      AS budget,
       |    CAST(COUNT(*) AS BIGINT) AS k
       |  FROM capped
       |), star AS (
       |  SELECT COALESCE(MAX(CASE WHEN fits THEN rk END), 0) AS m_star,
       |    COALESCE(MAX(CASE WHEN fits THEN pfx END), 0) AS pfx_star
       |  FROM (SELECT r.rk, r.pfx,
       |          r.pfx + (d.k - r.rk) * r.cap_tokens <= d.budget AS fits
       |        FROM ranked r, dim d) t
       |)
       |SELECT r.source, r.n_tokens, r.cap_tokens,
       |  CAST(CASE WHEN r.rk <= s.m_star THEN r.cap_tokens
       |       ELSE (d.budget - s.pfx_star) // (d.k - s.m_star) END AS BIGINT)
       |    AS alloc_tokens,
       |  r.rk <= s.m_star AS capped
       |FROM ranked r, dim d, star s
       |ORDER BY r.source""".stripMargin

  /** x71 — LEAKAGE-FREE split: x50's deterministic 8/1/1 assignment
    * keyed by the near-dup CLUSTER representative instead of the raw
    * document id, so every near-duplicate cluster lands wholly on one
    * side. A doc_id-keyed split leaks: near-identical documents straddle
    * train and test, and held-out evaluation silently measures
    * memorization (the group-aware-split rule of thumb; near-dup
    * clusters are the groups a text corpus actually has). The key is
    * `coalesce(cc_label, doc_id)` — the label is the component's min
    * doc id ([[graft.ops.Dedup.ccLabels]], the x17 artifact a pipeline
    * materializes once per corpus version), so singletons reduce
    * EXACTLY to x50's assignment and clustered docs inherit their
    * representative's.
    *
    * Scale: one left join of the corpus against the label dim —
    * broadcast while [[graft.Broadcasts]] fits it at the memoized label
    * count, shuffle join beyond (web-crawl dup fractions make the dim
    * corpus-sized — the x28 lesson), then one map-side-combinable
    * aggregation. */
  def leakageFreeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    leakageFreeAssign(spark, sfDir)
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"label".isNull, 0L).otherwise(1L)).as("n_clustered"))
      .orderBy($"split", $"lang")
  }

  /** Per-doc assignment — the spec surface for the
    * no-cluster-spans-two-splits gate. */
  private[graft] def leakageFreeAssign(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val labels = Dedup.ccLabels(spark, sfDir)
      .select($"id".as("doc_id"), $"label")
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang")
      .join(graft.Broadcasts(labels, Dedup.ccLabelCount(spark, sfDir)),
        Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"label", $"doc_id"))
      .withColumn("split", splitOf($"rep"))
  }

  /** Oracle: recursive-CTE CC labels (x17's formulation) feeding the
    * same representative-keyed modulo assignment. */
  val leakageFreeSplitSql: String =
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
       |), asg AS (
       |  SELECT d.doc_id, d.lang, c.label,
       |    CASE WHEN COALESCE(c.label, d.doc_id) % 10 < 8 THEN 'train'
       |         WHEN COALESCE(c.label, d.doc_id) % 10 = 8 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |)
       |SELECT split, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN label IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_clustered
       |FROM asg GROUP BY split, lang ORDER BY split, lang""".stripMargin

  /** x72 shard count. Fixture-sized; in production shards are chosen so
    * corpus_bytes / shards ≈ the target output-file size, and the count
    * MUST divide 2⁶⁴ (be a power of two) for the signed/unsigned modulo
    * identity the scaladoc below relies on. */
  private[graft] val ShuffleShards = 32L

  /** x72 — deterministic corpus SHUFFLE-AND-SHARD: the training-order
    * step. Every epoch must read documents in a fixed pseudo-random
    * order, reproducible across runs, engines and partitionings — so
    * the permutation is a pure function of the key (never `rand()`,
    * x52's rule): order key = FNV-1a 64 of the doc_id's decimal string
    * (the custom codegen expression, oracle-replayable byte for byte),
    * shard = pmod(key, [[ShuffleShards]]), position = rank of the key
    * within the shard.
    *
    * Scale: one corpus map (the hash) + ONE shuffle keyed by shard,
    * each shard sorted independently by the window — corpus/shards
    * rows per sort, the local-sort-per-shard pattern that replaces a
    * global total sort (whose range-partition step is the scale
    * bottleneck of naive orderBy). Signed/unsigned subtlety, pinned by
    * the oracle: Spark orders the SIGNED hash with the sign bit
    * flipped (`h XOR Long.MinValue` — signed order of the flipped
    * value IS unsigned order of h), DuckDB orders the raw unsigned
    * HUGEINT accumulator; pmod(signed, 32) equals unsigned mod 32
    * because 32 divides 2⁶⁴. */
  def shuffleShards(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val h = call_function("fnv1a64", $"doc_id".cast("string"))
    val w = Window.partitionBy($"shard")
      .orderBy($"ukey", $"doc_id")
    Tables.documents(spark, sfDir)
      .select($"doc_id", h.as("h"))
      .withColumn("shard", pmod($"h", lit(ShuffleShards)).cast("int"))
      .withColumn("ukey", $"h".bitwiseXOR(lit(Long.MinValue)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"shard", $"doc_id", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** Oracle: the FNV-1a recurrence over the doc_id's decimal-string
    * bytes (ASCII, so encode() is identity), kept UNSIGNED as HUGEINT —
    * modulo and rank order on the unsigned value match the engine's
    * flipped-sign-bit trick exactly. */
  val shuffleShardsSql: String = {
    val byteAt =
      "(strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1))-1)*16" +
        " + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1))-1)"
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
       |    octet_length(encode(CAST(doc_id AS VARCHAR))) AS len
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(0, len), i -> CAST($byteAt AS HUGEINT))),
       |    (acc, x) -> (xor(acc, x) * 1099511628211)
       |                  % CAST(18446744073709551616 AS HUGEINT)) AS fnvu
       |  FROM d
       |)
       |SELECT CAST(fnvu % $ShuffleShards AS INT) AS shard, doc_id,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY fnvu % $ShuffleShards
       |    ORDER BY fnvu, doc_id) AS BIGINT) AS pos
       |FROM f ORDER BY shard, pos""".stripMargin
  }
}
