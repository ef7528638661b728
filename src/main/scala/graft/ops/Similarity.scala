package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over `embeddings.embedding: array<float>`.
  *
  *  - x20 brute-force top-k: the correctness baseline. Query set broadcast
  *    against the corpus; cosine via zip_with/aggregate higher-order
  *    functions (codegen'd, no UDF); ranks only in the output so the
  *    oracle compares ordering, not float round-off.
  *  - x14 cosine near-dup pairs: exact threshold join, distributed as a
  *    tiled shuffled self-join (bounded per-task memory, no broadcast
  *    nested loop — see the method's scaladoc for why the 0.4 threshold
  *    regime admits no sound LSH blocking).
  *  - x21 ANN: random-projection sketch scan + exact rescore of the top
  *    third (PQ/ADC architecture). The scale path: the first pass reads
  *    only the narrow sketch table; full vectors are fetched for
  *    candidates via an equi join.
  *
  * Norms are precomputed per vector before any join (never inside the
  * pair loop).
  */
object Similarity {

  /** array<float> → array<double>. */
  private def vecD(c: Column): Column = transform(c, _.cast("double"))

  /** Allocation-free codegen dot product (functions.CustomExprs) — the
    * zip_with/aggregate HOF form is the readable equivalent but builds an
    * intermediate array per evaluated pair. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.CustomExprs.vector_dot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Materialized (vec_id, double-vector, norm): reused by both join sides
    * and all three similarity ops; norms precomputed once per vector. */
  private[graft] def corpus(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"sim-corpus:$sfDir") {
      corpusOf(Tables.spread(Tables.embeddings(spark, sfDir)))
    }

  /** The (vec_id, v, nrm) normalization over an arbitrary
    * (vec_id, embedding) frame — the composable form a streaming
    * micro-batch runs (no memo: a batch is consumed once). */
  private[graft] def corpusOf(raw: DataFrame): DataFrame = {
    graft.functions.CustomExprs.register(raw.sparkSession)
    raw.select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  /** The (query_id, qv, qn) dim of the first `nQueries` corpus vectors —
    * always the broadcast side of every ANN variant's scoring join. */
  private[graft] def queriesDim(all: DataFrame, nQueries: Int): DataFrame =
    all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))

  /** The shared top-k tail every ANN variant ends with: rank a
    * (query_id, vec_id, cos) frame per query by exact cosine (tiebreak
    * vec_id asc — ONE definition, so the five variants' shared oracles
    * cannot drift on ordering) and keep the top `topK`. */
  private[graft] def rankTopK(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Candidate fetch + exact rescore, shared by the sketch/PQ/IVF-PQ
    * variants: (query_id, vec_id) candidates fetch their full vectors
    * via an equi join, score against the broadcast query dim, and run
    * the [[rankTopK]] tail. */
  private[graft] def rescoreTopK(candidates: DataFrame, all: DataFrame,
      nQueries: Int, topK: Int): DataFrame =
    rankTopK(candidates
      .join(all, "vec_id")
      .join(broadcast(queriesDim(all, nQueries)), "query_id")
      .withColumn("cos",
        dot(col("v"), col("qv")) / (col("nrm") * col("qn"))),
      topK)

  /** x20 — brute-force cosine top-5 for the first 8 query vectors. */
  def bruteForceTopK(spark: SparkSession, sfDir: String): DataFrame =
    bruteForceTopKOf(corpus(spark, sfDir), 8, 5)

  /** Brute-force top-k over an arbitrary (vec_id, v, nrm) corpus — the
    * exact baseline every approximate variant is measured against. */
  private[graft] def bruteForceTopKOf(all: DataFrame, nQueries: Int,
      topK: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    rankTopK(all.join(broadcast(queriesDim(all, nQueries)),
        $"vec_id" =!= $"query_id")
      .withColumn("cos", dot($"v", $"qv") / ($"nrm" * $"qn")), topK)
  }

  val bruteForceTopKSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id ASC) AS rank
      |  FROM e JOIN q ON e.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM scored
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Tile count for the exact pair join. At the test SFs 8 tiles give
    * 36 block tasks over 32 cores; at deployment choose
    * B ≈ n / targetRowsPerTile so a block (two tiles) fits one task's
    * memory. */
  private val Tiles = 8

  /** Near-dup cosine threshold, shared by x14's pair filter, its DuckDB
    * oracle, and x23's SemDeDup oracle — ONE constant so the Spark path
    * and the SQL oracles cannot silently diverge. The fixture's planted
    * semantic dups all sit in the 0.4-0.6 cosine band (no pair reaches
    * 0.6 at sf0.01), so τ = 0.4 is the meaningful cut here; both
    * policies are τ-independent. */
  private[graft] val NearDupTau = 0.4

  /** x14 — embedding-cosine near-dup pairs (exact threshold join; ids only
    * so the oracle is robust to last-ulp float differences).
    *
    * Scale design — tiled shuffled self-join, NOT a broadcast nested loop:
    * the 0.4 threshold is θ≈66°, where the qualifying pairs are the tail of
    * the random-cosine distribution (measured on the fixture: all 920
    * sf0.1 pairs lie in cos 0.40-0.60, none are planted high-sim dups).
    * At that angle no LSH/blocking family is sound — a sign-LSH probe
    * radius that catches a 66°-apart pair scans the whole corpus (per-plane
    * agreement ≈0.63) — so EXACT semantics here are intrinsically all-pairs
    * compute. What must scale is the *distribution* of that compute: each
    * vector in tile t is replicated to the B block keys {(min(t,u),
    * max(t,u))}, both sides shuffle on the block key (an equi hash join —
    * never a BroadcastNestedLoopJoin/CartesianProduct over the corpus), and
    * each of the B(B+1)/2 block tasks holds only 2n/B vectors. Shuffle
    * volume is n·B rows; per-task memory is bounded regardless of n.
    * For the tight-threshold regime (real near-dups, cos ≥ 0.8) the sound
    * sub-quadratic path is x21's sign-LSH / x11's banding. */
  def cosineNearDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    cosineNearDupPairsOf(corpus(spark, sfDir), NearDupTau)
  // NOTE deliberately NOT memoized: persisting this frame would make
  // Spark's plan-cache substitution serve x14's identical plan from the
  // cache (measured: 2.9 s → 0.09 s), silently erasing the one number
  // PLANS.md keeps as the honest intrinsic-O(n²) measurement. x29
  // memoizes its derived LABEL dim instead, which shares no plan with
  // x14's output.

  /** The tiled exact pair generator over an arbitrary (vec_id, v, nrm)
    * corpus at an arbitrary threshold — shared by x14 (fixture τ) and the
    * x24 spec's exact-baseline on its planted high-τ fixture. */
  private[graft] def cosineNearDupPairsOf(all: DataFrame, tau: Double): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val tiled = all
      .withColumn("t", pmod($"vec_id", lit(Tiles)).cast("int"))
    // left side owns blocks (t, j ≥ t); right side owns blocks (i ≤ t, t)
    val lhs = tiled.select($"vec_id".as("id_l"), $"v".as("vl"), $"nrm".as("nl"),
      explode(sequence($"t", lit(Tiles - 1))).as("j"), $"t".as("i"))
      .withColumn("block", $"i" * Tiles + $"j")
    val rhs = tiled.select($"vec_id".as("id_r"), $"v".as("vr"), $"nrm".as("nr"),
      explode(sequence(lit(0), $"t")).as("i"), $"t".as("j"))
      .withColumn("block", $"i" * Tiles + $"j")
    lhs.join(rhs, lhs("block") === rhs("block") && $"id_l" =!= $"id_r")
      .withColumn("cos", dot($"vl", $"vr") / ($"nl" * $"nr"))
      .filter($"cos" >= tau)
      // same-tile blocks see each pair in both orders; canonicalize + dedup
      .select(least($"id_l", $"id_r").as("id_a"),
        greatest($"id_l", $"id_r").as("id_b"))
      .distinct()
      .orderBy($"id_a", $"id_b")
  }

  val cosineNearDupPairsSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.v, b.v) >= $NearDupTau
       |ORDER BY id_a, id_b""".stripMargin

  /** x78 — SEMANTIC decontamination: flag every training vector whose
    * embedding lies within cosine τ of ANY benchmark vector (the
    * embedding-space sibling of x19's n-gram containment flag — catches
    * paraphrased/reformatted benchmark leakage that shares no 8-gram).
    * Benchmark slice is the x19 convention transplanted to vec space
    * (vec_id % 17); output is (train_id, n_hits) — ids and integer
    * counts only, so the oracle is robust to last-ulp float differences
    * (x14's rule).
    *
    * Scale design — bipartite 2-D tiled equi join, the x14 tiling
    * adapted to two sides: train tile t is replicated across bench
    * tiles u, bench tile u across train tiles t, so every (train,
    * bench) pair meets in EXACTLY ONE of the T² block tasks (no
    * distinct needed) and each task holds (n_t + n_b)/T vectors —
    * bounded memory regardless of corpus size, never a
    * BroadcastNestedLoopJoin (the benchmark side is n/17: far too big
    * to broadcast at 100 TB, unlike x19's inverted-index dim). Exact
    * semantics at this τ is intrinsically all-pairs (x14's argument:
    * τ = 0.4 ⇒ θ ≈ 66°, no sound blocking family); the sub-quadratic
    * deployment path for the tight-τ regime is the x24/x26 celled
    * composition over the same corpus. */
  def semanticDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val all = corpus(spark, sfDir)
    val isBench = col("vec_id") % 17 === 0
    val lhs = all.filter(!isBench)
      .withColumn("t", pmod($"vec_id", lit(Tiles)).cast("int"))
      .select($"vec_id".as("train_id"), $"v".as("vt"), $"nrm".as("nt"),
        $"t", explode(sequence(lit(0), lit(Tiles - 1))).as("u"))
      .withColumn("block", $"t" * Tiles + $"u")
    val rhs = all.filter(isBench)
      .withColumn("u", pmod($"vec_id", lit(Tiles)).cast("int"))
      .select($"vec_id".as("bench_id"), $"v".as("vb"), $"nrm".as("nb"),
        $"u", explode(sequence(lit(0), lit(Tiles - 1))).as("t"))
      .withColumn("block", $"t" * Tiles + $"u")
    lhs.join(rhs, "block")
      .withColumn("cos", dot($"vt", $"vb") / ($"nt" * $"nb"))
      .filter($"cos" >= NearDupTau)
      .groupBy($"train_id")
      .agg(count($"bench_id").as("n_hits"))
      .orderBy($"train_id")
  }

  val semanticDecontaminateSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |)
       |SELECT t.vec_id AS train_id, CAST(COUNT(*) AS BIGINT) AS n_hits
       |FROM e t JOIN e b
       |  ON b.vec_id % 17 = 0 AND t.vec_id % 17 <> 0
       | AND list_cosine_similarity(t.v, b.v) >= $NearDupTau
       |GROUP BY 1 ORDER BY train_id""".stripMargin

  private val SketchDims = 32

  /** Deterministic random-projection family (seeded Scala PRNG — fixed
    * across runs; the projection family is engine-internal state like any
    * index). */
  private lazy val sketchPlanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(SketchDims)(Array.fill(64)(rnd.nextGaussian() / math.sqrt(SketchDims)))
  }

  /** Normalized random-projection sketch of a vector column. */
  private def sketchOf(v: Column, nrm: Column): Column =
    array(sketchPlanes.map(p =>
      dot(v, array(p.map(lit).toIndexedSeq: _*)) / nrm).toIndexedSeq: _*)

  /** x21 — ANN top-5 for the first 8 queries via sketch-scan + exact
    * rescore (the unquantized form of the PQ/ADC architecture).
    *
    * Why not bucketed LSH/IVF here: the fixture embeddings are isotropic
    * (measured: flat singular spectrum, uniform k-means cells, 5th-NN
    * cosine ≈ 0.36) — the known worst case for partition indexes, which
    * plateau near recall 0.6 at a 1/3 scan on this data regardless of
    * plane count, probe order, or centroid count. A rank-then-rescore
    * index has no such cliff: score EVERY vector with a 32-dim projection
    * sketch (½ of the full-precision bytes — at 100 TB the sketch table is
    * the only thing the first pass reads), keep the top third per query by
    * sketch score (`ntile(3)`), and fetch full vectors ONLY for those
    * candidates via an equi join for exact cosine rescoring. Measured
    * recall@5 ≈ 0.88 at exactly 1/3 full-vector scan (gate 0.8 in
    * DedupSimilaritySpec). HASH-checked since round 10: approximate
    * relative to exact top-k, but fully deterministic given the seeded
    * planes — [[lshTopKSql]] inlines the plane constants and replays
    * sketch, ntile candidate cut and exact rescore in DuckDB. */
  def lshTopK(spark: SparkSession, sfDir: String): DataFrame =
    lshTopKOf(corpus(spark, sfDir), 8, 5)

  /** x21's oracle: the seeded projection family inlined as literal
    * plane vectors (Double.toString round-trips through DuckDB's
    * parser), then the same sketch → ntile(3) top-third → exact-rescore
    * arithmetic. The approx score Σₚ skₓ[p]·sk_q[p] is summed by a
    * per-plane join + SUM group — float addition order differs from the
    * engine's sequential dot, but candidate membership is decided by an
    * ORDER BY over scores separated far beyond double round-off on this
    * fixture (and rank comes from the exact rescore, the same arithmetic
    * x20's hash-green oracle already trusts). */
  def lshTopKSql: String = {
    val planeRows = sketchPlanes.zipWithIndex.map { case (p, i) =>
      p.map(_.toString).mkString(s"($i, [", ", ", "])")
    }.mkString(",\n       ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
       |), pl(p, w) AS (VALUES
       |  $planeRows),
       |proj AS (
       |  SELECT vec_id, p,
       |    list_dot_product(v, CAST(w AS DOUBLE[])) / nrm AS pr
       |  FROM n, pl
       |), ap AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS vec_id,
       |    SUM(x.pr * q.pr) AS approx
       |  FROM proj x JOIN proj q USING (p)
       |  WHERE q.vec_id < 8 AND x.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      NTILE(3) OVER (PARTITION BY query_id
       |        ORDER BY approx DESC, vec_id ASC) AS tile
       |    FROM ap) WHERE tile = 1
       |), scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY list_cosine_similarity(x.v, q.v) DESC, c.vec_id ASC)
       |      AS rank
       |  FROM cand c
       |  JOIN e x ON x.vec_id = c.vec_id
       |  JOIN e q ON q.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
       |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private[graft] def lshTopKOf(all: DataFrame, nQueries: Int,
      topK: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    // the sketch pass: narrow (vec_id, sketch) table, every row scored
    val sketches = all.select($"vec_id", sketchOf($"v", $"nrm").as("sk"))
    val qsk = sketches.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"sk".as("qsk"))
    val approx = sketches.join(broadcast(qsk), $"vec_id" =!= $"query_id")
      .withColumn("approx", dot($"sk", $"qsk"))
    val tileW = Window.partitionBy($"query_id")
      .orderBy($"approx".desc, $"vec_id".asc)
    val candidates = approx.withColumn("tile", ntile(3).over(tileW))
      .filter($"tile" === 1)
      .select($"query_id", $"vec_id")
    // candidate fetch + exact rescore: equi joins only (shared tail)
    rescoreTopK(candidates, all, nQueries, topK)
  }

  /** x22's oracle: the ENTIRE IVF path replayed in DuckDB — the same
    * unrolling insight as the x55 oracle (a fixed round count is just
    * CTE stages). The seeded init centroids are inlined as literal
    * vectors (like x21's planes), the [[IvfLloydRounds]] Lloyd rounds
    * unroll as assignment → (cell, pos) mean → empty-cell carry-over →
    * renormalize stages, then index assignment, top-[[IvfProbes]]
    * multi-probe (ties: higher cell — [[probeCellsOf]]'s reversed
    * sort) and exact rescore. Fixture-pinned constants: k = 16 (the
    * [[IvfMinCells]] floor holds up to 4096 vectors — far above the
    * oracle's sf0.01 corpus; a bigger corpus would hash-mismatch
    * loudly, not silently), dim = 64, no train-sample stride (n ≪
    * cap). Assignment ties break to the LOWEST cell
    * (array_position-of-max = first max), probe ties to the highest —
    * both replayed. Vocabulary-style MATERIALIZED hints keep the
    * round chain from exponential re-inlining. */
  private def ivfOracleFinalCents = s"c$IvfLloydRounds"

  /** Shared oracle prolog: corpus + seeded init + unrolled Lloyd
    * rounds + final index assignment `idx` over the trained centroids
    * `c<rounds>` — the CTE base x22/x24/x61's oracles all build on. */
  private def ivfOracleProlog: String = {
    val k = IvfMinCells
    val dim = 64
    val rounds = IvfLloydRounds
    val seeds = ivfSeedCentroids(k, dim)
    val c0 = seeds.zipWithIndex.map { case (c, i) =>
      c.map(_.toString).mkString(s"($i, [", ", ", "])")
    }.mkString(",\n  ")
    def assign(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT n.vec_id, n.v, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |        ORDER BY list_dot_product(n.v, c.cw) DESC, c.cell ASC) AS rk
         |    FROM n, $cents c) WHERE rk = 1
         |)""".stripMargin
    val lloyd = (1 to rounds).map { r =>
      s"""${assign(s"a$r", s"c${r - 1}")}, m$r AS (
         |  SELECT cell, CAST(i AS INT) - 1 AS pos,
         |    AVG(v[CAST(i AS INT)]) AS mv
         |  FROM a$r, UNNEST(range(1, ${dim + 1})) t(i)
         |  GROUP BY cell, pos
         |), x$r AS (
         |  SELECT g.cell, g.j, COALESCE(m.mv, g.pv) AS val
         |  FROM (
         |    SELECT p.cell, CAST(j AS INT) AS j,
         |      p.cw[CAST(j AS INT)] AS pv
         |    FROM c${r - 1} p, UNNEST(range(1, ${dim + 1})) t(j)) g
         |  LEFT JOIN m$r m ON m.cell = g.cell AND m.pos = g.j - 1
         |), c$r AS MATERIALIZED (
         |  SELECT cell,
         |    CASE WHEN nrm2 = 0 THEN cw2
         |         ELSE list_transform(cw2, x -> x / nrm2) END AS cw
         |  FROM (
         |    SELECT cell, list(val ORDER BY j) AS cw2,
         |      sqrt(SUM(val * val)) AS nrm2
         |    FROM x$r GROUP BY cell)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), n AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
       |), c0(cell, cw) AS (VALUES
       |  $c0),
       |$lloyd, ${assign("idx", s"c$rounds")}""".stripMargin
  }

  def ivfTopKSql: String =
    ivfOracleProlog +
      s""", pr AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.v, c.cw) DESC, c.cell DESC) AS rk
       |    FROM n q, $ivfOracleFinalCents c WHERE q.vec_id < 8)
       |  WHERE rk <= $IvfProbes
       |), cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM pr p JOIN idx a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |), scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY list_dot_product(x.v, q.v) / (x.nrm * q.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |  FROM cand c
       |  JOIN n x ON x.vec_id = c.vec_id
       |  JOIN n q ON q.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
       |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** x24's oracle on the same trained-centroid prolog: top-2 multi-cell
    * assignment (probe tiebreak: higher cell), within-cell pairs at
    * τ = [[SemDedupTauHigh]] with exact cosine, keep-no-lower-id. */
  def semanticDedupCelledSql: String =
    ivfOracleProlog +
      s""", mp AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cw) DESC, c.cell DESC) AS rk
       |    FROM n, $ivfOracleFinalCents c)
       |  WHERE rk <= $SemDedupAssignProbes
       |), drops AS (
       |  SELECT DISTINCT b.vec_id AS id_b
       |  FROM mp a JOIN mp b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN n x ON x.vec_id = a.vec_id
       |  JOIN n y ON y.vec_id = b.vec_id
       |  WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm)
       |          >= $SemDedupTauHigh
       |)
       |SELECT e.vec_id, e.label FROM embeddings e
       |LEFT JOIN drops d ON e.vec_id = d.id_b
       |WHERE d.id_b IS NULL ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------- x83 kNN graph

  /** Neighbors per vector in the x83 graph. */
  private[graft] val KnnGraphK = 5

  /** x83 — kNN GRAPH construction: for EVERY vector (not a bounded
    * query set — the difference from x20-x26), its [[KnnGraphK]]
    * nearest neighbors by cosine among the candidates sharing one of
    * its top-[[SemDedupAssignProbes]] IVF cells. The kNN graph is the
    * substrate for graph-based corpus curation — SemDeDup-style
    * cluster pruning, density estimation, and label propagation all
    * start from exactly this edge list.
    *
    * Plan: multi-probe cell assignment (map + broadcast/dim-join
    * scoring, the x24 machinery) → cell equi self-join with the cosine
    * computed PIPELINED in the join's own projection, exactly
    * [[cellNearDupPairsOf]]'s shape — the vectors ride only the
    * corpus-sized shuffle into the cell join (p·n rows) and are dropped
    * in the same stage, so every downstream shuffle row is
    * (src, dst, cos) ≈ 24 bytes → max-aggregate to collapse the
    * duplicate emit of a pair co-assigned to both probed cells (cos
    * equal on both; map-side partial aggregation halves it before the
    * exchange) → per-source top-k window.
    *
    * Scale shape: candidates are Σ_cell |cell|² = p²·n²/k, linear in n
    * at fixed cell size (k ∝ n, IVF practice), and — the part a naive
    * candidates→rescore-join plan gets fatally wrong — the candidate
    * stream that shuffles is ids+score only. (The first cut re-joined
    * ids-only candidates back to the corpus for vectors: the second
    * rescore join then sorts candidates × 1 KB of vectors ≈ 100 GB at
    * the 100× probe and dies spilling. Carrying vectors through the
    * cell join and scoring in-stage is x24's proven shape.) The window
    * partitions by src with bounded (p · cell-size) rows per
    * partition; an index bucketed by cell self-joins co-partitioned.
    * Recall boundary (documented, same as x24): a true neighbor
    * sharing NO probed cell with its query is missed — multi-probe
    * narrows the Voronoi-boundary gap, and DedupSimilaritySpec gates
    * celled ≡ brute-force on a planted clustered fixture where
    * co-assignment is structural. */
  def knnGraph(spark: SparkSession, sfDir: String): DataFrame =
    // ids+rank only (the x14 float-robust output convention); the cos
    // column stays internal for x85's density read
    knnEdges(spark, sfDir).select(col("src"), col("dst"), col("rk"))
      .orderBy(col("src"), col("rk"))

  /** The memoized per-corpus-version edge list — the shared artifact
    * x83/x84/x85/x87 all consume (the kNN graph IS the frame a real
    * pipeline materializes once and its consumers read; same
    * convention as ivfIndex/ccLabels/newSnapshotBands — Bench prewarms
    * it, cold build in cache_build_sec). */
  private[graft] def knnEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"knn-edges:$sfDir") {
      knnEdgesOf(corpus(spark, sfDir), centroids(spark, sfDir), KnnGraphK)
    }

  /** x83 over an arbitrary (vec_id, v, nrm) corpus + trained centroids
    * — the form the planted-fixture spec gates against brute force. */
  private[graft] def knnGraphOf(all: DataFrame, cents: Array[Array[Double]],
      k: Int): DataFrame =
    knnEdgesOf(all, cents, k).select(col("src"), col("dst"), col("rk"))
      .orderBy(col("src"), col("rk"))

  /** The UNORDERED x83 edge list — the composable form x84 clusters
    * (an output sort between composed stages would just be dropped
    * work). */
  private[graft] def knnEdgesOf(all: DataFrame, cents: Array[Array[Double]],
      k: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val assigned = multiCellAssign(all, cents, SemDedupAssignProbes)
    val lhs = assigned.select($"cell", $"vec_id".as("src"),
      $"v".as("sv"), $"nrm".as("sn"))
    val rhs = assigned.select($"cell", $"vec_id".as("dst"),
      $"v".as("dv"), $"nrm".as("dn"))
    val edges = lhs.join(rhs, Seq("cell"))
      .filter($"src" =!= $"dst")
      .select($"src", $"dst", (dot($"sv", $"dv") / ($"sn" * $"dn")).as("cos"))
      .groupBy($"src", $"dst").agg(max($"cos").as("cos"))
    val w = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
    edges.withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"src", $"dst", $"rk".cast("int").as("rk"), $"cos")
  }

  /** The x83 scored-edge CTE chain (multi-cell assignment, distinct
    * within-cell candidate pairs, exact cosine, per-src rank) — shared
    * by the x83/x84/x85 oracles on top of [[ivfOracleProlog]]. */
  private def knnScoredCtes: String =
    s""", mp AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cw) DESC, c.cell DESC) AS rk
       |    FROM n, $ivfOracleFinalCents c)
       |  WHERE rk <= $SemDedupAssignProbes
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM mp a JOIN mp b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |), scored AS (
       |  SELECT c.src, c.dst,
       |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY c.src
       |      ORDER BY list_dot_product(x.v, y.v) / (x.nrm * y.nrm) DESC,
       |        c.dst ASC) AS rk
       |  FROM cand c
       |  JOIN n x ON x.vec_id = c.src
       |  JOIN n y ON y.vec_id = c.dst)""".stripMargin

  /** x83's oracle: the x24 trained-centroid prolog + the shared scored
    * CTEs, top-[[KnnGraphK]] per src. */
  def knnGraphSql: String =
    ivfOracleProlog + knnScoredCtes +
      s"""
       |SELECT src, dst, CAST(rk AS INT) AS rk
       |FROM scored WHERE rk <= $KnnGraphK ORDER BY src, rk""".stripMargin

  // ------------------------------------------ x84 mutual-kNN clusters

  /** x84 — MUTUAL-kNN CLUSTERING: connected components over the MUTUAL
    * edge set of the x83 graph (an edge survives iff each endpoint is
    * in the OTHER's top-k). This is the threshold-free, rank-based
    * clustering the embedding-curation literature builds on: where
    * x29's semantic CC needs a global cosine τ (wrong in both
    * directions when density varies — dense regions under-merge,
    * sparse regions over-merge), mutuality adapts to LOCAL density, and
    * spurious one-directional edges out of sparse regions (a lonely
    * vector's top-5 are far away, but it is nobody's top-5) are
    * structurally removed.
    *
    * Shape: the mutual filter is one equi self-join of the ids-only
    * edge list on the reversed key (k·n 16-byte rows a side), then
    * [[graft.ops.Dedup.ccStars]] — the same O(log n)
    * large/small-star engine as x17/x29, loud on non-convergence —
    * over a graph with ≤ k·n/2 edges and degree ≤ k, and one label
    * window for sizes. Nothing broadcasts, nothing collects; like x17
    * the output covers the vectors IN the mutual graph (a vector with
    * no mutual neighbor is its own singleton, omitted). */
  def knnClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // the label dim is the memoized shared artifact (x29's convention:
    // built once per session; Bench prewarms this query so the edge
    // build + CC rounds land in cache_build_sec)
    val labels = graft.Caches.memoValue(spark, s"knn-cc-labels:$sfDir") {
      val (l, _) = graft.ops.Dedup.ccStars(mutualEdgesOf(
        knnEdges(spark, sfDir)))
      graft.Caches.track(spark, s"knn-cc-labels:$sfDir", l)
    }
    clustersFromLabels(labels)
  }

  /** x84 over an arbitrary (src, dst, rk) edge list (un-memoized — the
    * fixture-spec form). */
  private[graft] def knnClustersOf(g: DataFrame): DataFrame = {
    val (labels, _) = graft.ops.Dedup.ccStars(mutualEdgesOf(g))
    clustersFromLabels(labels)
  }

  /** The mutual filter, lineage-truncated before CC: ccStars scans its
    * input several times before its first checkpoint (pre-loop star
    * check + round 1), and without this each scan re-executes the full
    * kNN pipeline upstream (measured 6.8 s → ~2 s at sf0.1).
    * pin (localCheckpoint under the bench's local master, keeping the
    * CacheManager empty; a reliable checkpoint on a cluster, see
    * Caches.pin). Ids-only, ≤ k·n/2 rows. */
  private def mutualEdgesOf(g: DataFrame): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    val ids = g.select($"src", $"dst")
    graft.Caches.pin(ids.as("a")
      .join(ids.as("b"), $"a.src" === $"b.dst" && $"a.dst" === $"b.src")
      .filter($"a.src" < $"a.dst")
      .select($"a.src".as("id_a"), $"a.dst".as("id_b")))
  }

  private def clustersFromLabels(labels: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy($"label")))
      .select($"id".as("vec_id"), $"label".as("cluster_id"),
        $"cluster_size")
      .orderBy($"vec_id")
  }

  /** x84's oracle: the FULL x83 oracle embedded as a CTE, the mutual
    * self-join, then x17's recursive-CTE reachability closure (the
    * symmetric edge set makes every node reach itself through any
    * neighbor, so MIN(reachable) is the component minimum). */
  def knnClustersSql: String =
    s"""WITH RECURSIVE g AS ($knnGraphSql),
       |mut AS (
       |  SELECT a.src AS id_a, a.dst AS id_b FROM g a JOIN g b
       |    ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM mut
       |  UNION SELECT id_b, id_a FROM mut
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS vec_id, MIN(b) AS cluster_id FROM reach GROUP BY a
       |)
       |SELECT vec_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp ORDER BY vec_id""".stripMargin

  // --------------------------------------- x87 kNN label propagation

  /** Synchronous propagation rounds (fixed, so the oracle unrolls —
    * the x55/x22 insight). */
  private[graft] val LabelPropRounds = 2



  /** x87 — kNN LABEL PROPAGATION: the third kNN-graph consumer the
    * x83 scaladoc names (after clustering x84 and density x85) —
    * semi-supervised label spreading, the cheap way to extend a small
    * human-labeled (or classifier-labeled, x69) seed set over an
    * unlabeled corpus: each round, every still-unlabeled vector takes
    * the MAJORITY label among its k nearest labeled neighbors (ties:
    * smaller label), synchronously, for [[LabelPropRounds]] fixed
    * rounds. Output tags provenance (`seed` / `round1` / `round2` /
    * `unlabeled`) so downstream sampling can weight by label
    * confidence. The seed SLICE is a corpus signal, not an id-mod
    * mask (r13 verdict item 5): the labeling pass covered the TOP
    * HALF of the corpus by x30 quality — exactly how real labeling
    * campaigns pick what to annotate — and each covered doc seeds
    * its embedding with the corpus's labeled-data column; the
    * quality tail is filled by propagation. (The verdict's other
    * seed candidate, x31 lang-ID confidence, is degenerate on this
    * fixture: 'a'/'the' sit in the shared word soup, so every doc
    * predicts 'en' — PLANS.md r14.)
    *
    * Scale shape: the edge list is built once (linear, x83) and
    * lineage-truncated; each round is one ids-only equi join onto the
    * current label dim + a (src, label) count aggregate + a per-src
    * argmax window + a left join back — every frame skinny, rounds
    * fixed, nothing driver-side. */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = knnEdges(spark, sfDir).select($"src", $"dst")
    labelPropagationOf(edges, qualitySeedLabels(spark, sfDir))
      .select($"vec_id", $"lbl".cast("int").as("lbl"), $"origin")
      .orderBy($"vec_id")
  }

  /** The x87 seed frame: the labeled-data slice is quality-driven —
    * docs at or above the corpus's exact lower-median x30 quality
    * blend (the deterministic multiset element, x69's threshold
    * machinery) seed their embedding (vec_id keys the same corpus
    * entity as doc_id in the fixture, equal id ranges by
    * construction) with the corpus label column; the rest start
    * unlabeled. One corpus-sized equi join, everything else a pure
    * map over the projected quality expression. */
  private[graft] def qualitySeedLabels(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val docsQ = Tables.documents(spark, sfDir).select(
      $"doc_id".as("vec_id"),
      graft.ops.TextAnalysis.qualityScore($"text").as("qs"))
    // the threshold is a per-corpus constant — memoValue like the
    // x69 trainer's, so repeat x87 runs skip the count + sorted-limit
    // jobs (the join-side quality projection still runs per call)
    val thr = graft.Caches.memoValue(spark, s"x87-seed-thr:$sfDir") {
      val n = docsQ.count()
      docsQ.orderBy($"qs").limit(((n + 1) / 2).toInt)
        .orderBy($"qs".desc).select($"qs").head.getDouble(0)
    }
    Tables.spread(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"label")
      .join(docsQ, Seq("vec_id"), "left")
      .select($"vec_id",
        when($"qs" >= thr, $"label").as("lbl"),
        when($"qs" >= thr, lit("seed"))
          .otherwise(lit("unlabeled")).as("origin"))
  }

  /** The propagation rounds over an arbitrary (src, dst) edge list and
    * (vec_id, lbl-nullable, origin) seed frame — shared by the
    * registered query and the fixture spec, so the round semantics
    * exist once. Each intermediate label dim is lineage-truncated
    * (the x84 lesson: the next round reads it twice). */
  private[graft] def labelPropagationOf(edges: DataFrame,
      seeded: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = graft.Caches.pin(edges)
    var labels = graft.Caches.pin(seeded)
    for (r <- 1 to LabelPropRounds) {
      val votes = g
        .join(labels.filter($"lbl".isNotNull)
          .select($"vec_id".as("dst"), $"lbl".as("nl")), "dst")
        .groupBy($"src", $"nl").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"src").orderBy($"c".desc, $"nl".asc)
      val best = votes.withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"src".as("vec_id"), $"nl".as("new_lbl"))
      labels = graft.Caches.pin(labels.join(best, Seq("vec_id"), "left")
        .select($"vec_id",
          coalesce($"lbl", $"new_lbl").as("lbl"),
          when($"lbl".isNotNull, $"origin")
            .when($"new_lbl".isNotNull, lit(s"round$r"))
            .otherwise($"origin").as("origin")))
    }
    labels
  }

  /** x87's oracle: the shared x83 edge CTEs + [[LabelPropRounds]]
    * unrolled majority rounds. */
  def labelPropagationSql: String = {
    val rounds = (1 to LabelPropRounds).map { r =>
      s"""v$r AS (
         |  SELECT e.src, l.lbl AS nl, COUNT(*) AS c
         |  FROM g e JOIN l${r - 1} l ON l.vec_id = e.dst
         |  WHERE l.lbl IS NOT NULL GROUP BY e.src, l.lbl
         |), b$r AS (
         |  SELECT src, nl FROM (
         |    SELECT src, nl, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY c DESC, nl ASC) AS rk FROM v$r)
         |  WHERE rk = 1
         |), l$r AS MATERIALIZED (
         |  SELECT p.vec_id, COALESCE(p.lbl, b.nl) AS lbl,
         |    CASE WHEN p.lbl IS NOT NULL THEN p.origin
         |         WHEN b.nl IS NOT NULL THEN 'round$r'
         |         ELSE p.origin END AS origin
         |  FROM l${r - 1} p LEFT JOIN b$r b ON b.src = p.vec_id
         |)""".stripMargin
    }.mkString(", ")
    ivfOracleProlog + knnScoredCtes +
      s""", g AS (
       |  SELECT src, dst FROM scored WHERE rk <= $KnnGraphK
       |), lq AS (
       |  SELECT doc_id,
       |    ${graft.ops.TextAnalysis.qualityScoreSqlExpr("w", "n_chars")}
       |      AS qs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
       |          CAST(LENGTH(text) AS BIGINT) AS n_chars
       |        FROM documents) d
       |), lthr AS (
       |  SELECT qs AS t FROM (
       |    SELECT qs, row_number() OVER (ORDER BY qs) AS rn FROM lq) r
       |  WHERE rn = (SELECT (count(*)+1)//2 FROM lq)
       |), l0 AS (
       |  SELECT e.vec_id,
       |    CASE WHEN q.qs >= (SELECT t FROM lthr) THEN e.label END AS lbl,
       |    CASE WHEN q.qs >= (SELECT t FROM lthr) THEN 'seed'
       |         ELSE 'unlabeled' END AS origin
       |  FROM embeddings e LEFT JOIN lq q ON q.doc_id = e.vec_id
       |), $rounds
       |SELECT vec_id, CAST(lbl AS INT) AS lbl, origin
       |FROM l$LabelPropRounds ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------- x85 kNN density pruning

  /** Fraction of the corpus pruned as low-density outliers. */
  private[graft] val KnnDensityPruneQ = 0.05

  /** x85 — kNN-DENSITY OUTLIER PRUNING: a vector's local density is
    * its cosine to its k-th nearest neighbor (the classic kNN-distance
    * outlier score, LOF's cheap cousin); drop the sparsest
    * [[KnnDensityPruneQ]] tail. The LOCAL-density complement of x61's
    * prototypicality (distance to the own cell CENTROID): a small
    * tight cluster far from its centroid is low-prototypicality but
    * high-density — x61 prunes it, x85 keeps it; an isolated vector
    * inside a dense cell is the reverse. Real curation runs want both
    * signals.
    *
    * Shape: the x83 edge list (linear, see [[knnEdgesOf]]) → per-src
    * (deg, cos@deg) aggregate — one skinny shuffle — → ONE global
    * exact percentile (single-row dim, x38's pattern at the corpus
    * stratum) cross-joined back broadcast, map-side filter with x38's
    * 1e-12 interpolation slack. Vectors whose rank-k neighborhood is
    * truncated (deg < k: their probed cells ran out of candidates)
    * score by their weakest FOUND neighbor — already a sparsity
    * signal. At 100 TB the exact percentile swaps for
    * approx_percentile, x39's documented trade, same plan shape. */
  def knnDensityPrune(spark: SparkSession, sfDir: String): DataFrame =
    knnDensityPruneOf(knnEdges(spark, sfDir))

  /** x85 over an arbitrary (src, dst, rk, cos) edge list — shared by
    * the registered query and the fixture spec (x84/x87's convention),
    * so the density/threshold/slack semantics exist once. */
  private[graft] def knnDensityPruneOf(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val dens = edges
      .groupBy($"src")
      .agg(max($"rk").as("deg"), max_by($"cos", $"rk").as("kcos"))
    val thr = dens.agg(
      expr(s"percentile(kcos, $KnnDensityPruneQ)").as("p05"))
    dens.crossJoin(broadcast(thr))
      .filter($"kcos" >= $"p05" - lit(1e-12))
      .select($"src".as("vec_id"), $"deg", $"kcos", $"p05")
      .orderBy($"vec_id")
  }

  /** x85's oracle: shared scored CTEs, per-src density, quantile_cont
    * threshold (the x38 parity recipe), same 1e-12 slack. */
  def knnDensityPruneSql: String =
    ivfOracleProlog + knnScoredCtes +
      s""", dens AS (
       |  SELECT src, CAST(MAX(rk) AS INT) AS deg,
       |    max_by(cos, rk) AS kcos
       |  FROM scored WHERE rk <= $KnnGraphK GROUP BY src
       |), thr AS (
       |  SELECT quantile_cont(kcos, $KnnDensityPruneQ) AS p05 FROM dens
       |)
       |SELECT src AS vec_id, deg, kcos, p05
       |FROM dens, thr
       |WHERE kcos >= p05 - 1e-12
       |ORDER BY vec_id""".stripMargin

  /** x61's oracle: cosine to the own trained centroid, per-cell
    * prototypicality rank, keep the top [[ProtoKeepFraction]]. */
  def prototypicalitySql: String =
    ivfOracleProlog +
      s""", sc AS (
       |  SELECT a.vec_id, a.cell,
       |    list_dot_product(a.v, c.cw) /
       |      (sqrt(list_dot_product(a.v, a.v)) *
       |       sqrt(list_dot_product(c.cw, c.cw))) AS cos
       |  FROM idx a JOIN $ivfOracleFinalCents c ON c.cell = a.cell
       |), rk AS (
       |  SELECT vec_id, cell,
       |    ROW_NUMBER() OVER (PARTITION BY cell
       |      ORDER BY cos DESC, vec_id ASC) AS rk,
       |    COUNT(*) OVER (PARTITION BY cell) AS n_cell
       |  FROM sc
       |)
       |SELECT vec_id, cell, CAST(rk AS INT) AS rk,
       |  CAST(n_cell AS BIGINT) AS n_cell
       |FROM rk WHERE rk <= CEIL(n_cell * $ProtoKeepFraction)
       |ORDER BY vec_id""".stripMargin

  /** PQ oracle prolog (appended after [[ivfOracleProlog]] when cells
    * are needed, or used standalone): normalized subvectors, seeded
    * codebook literals, [[PqLloydRounds]] unrolled training rounds
    * (argmin by the engine's ‖c‖² − 2·sv·c score, ties to the lowest
    * code; per-(s, code, pos) means; empty-code carry-over; NO
    * normalization — PQ books aren't unit), and the final code
    * assignment `cd`. */
  private def pqOracleCtes: String = {
    val dim = 64
    val d = dim / PqSubspaces
    val rounds = PqLloydRounds
    val b0 = pqSeedBooks(dim).zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, code) =>
        c.map(_.toString).mkString(s"($s, $code, [", ", ", "])")
      }
    }.mkString(",\n  ")
    def assign(name: String, books: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, s, sv, code FROM (
         |    SELECT sv.vec_id, sv.s, sv.sv, b.code,
         |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s
         |        ORDER BY (list_dot_product(b.cw, b.cw)
         |          - 2.0 * list_dot_product(sv.sv, b.cw)) ASC,
         |          b.code ASC) AS rk
         |    FROM sv, $books b WHERE b.s = sv.s) WHERE rk = 1
         |)""".stripMargin
    val lloyd = (1 to rounds).map { r =>
      s"""${assign(s"q$r", s"b${r - 1}")}, mm$r AS (
         |  SELECT s, code, CAST(i AS INT) - 1 AS pos,
         |    AVG(sv[CAST(i AS INT)]) AS mv
         |  FROM q$r, UNNEST(range(1, ${d + 1})) t(i)
         |  GROUP BY s, code, pos
         |), b$r AS MATERIALIZED (
         |  SELECT s, code, list(val ORDER BY j) AS cw FROM (
         |    SELECT g.s, g.code, g.j, COALESCE(m.mv, g.pv) AS val
         |    FROM (
         |      SELECT p.s, p.code, CAST(j AS INT) AS j,
         |        p.cw[CAST(j AS INT)] AS pv
         |      FROM b${r - 1} p, UNNEST(range(1, ${d + 1})) t(j)) g
         |    LEFT JOIN mm$r m
         |      ON m.s = g.s AND m.code = g.code AND m.pos = g.j - 1)
         |  GROUP BY s, code
         |)""".stripMargin
    }.mkString(", ")
    s""", sv AS MATERIALIZED (
       |  SELECT vec_id, CAST(s AS INT) AS s,
       |    list_transform(v, x -> x / nrm)
       |      [CAST(s * $d + 1 AS INT):CAST(s * $d + $d AS INT)] AS sv
       |  FROM n, UNNEST(range(0, $PqSubspaces)) t(s)
       |), b0(s, code, cw) AS (VALUES
       |  $b0),
       |$lloyd, ${assign("cd", s"b$rounds")}""".stripMargin
  }

  private def pqOracleFinalBooks = s"b$PqLloydRounds"

  /** The ADC score replayed with the engine's left-to-right subspace
    * summation (list_reduce fold over s-ordered terms — a SUM group
    * would reassociate the float adds). */
  private def adcCtes: String = {
    // subvector width derived exactly as the engine derives it — a
    // hardcoded 4 would silently skew ADC scores if PqSubspaces or the
    // embedding dim ever changed
    val d = 64 / PqSubspaces
    s""", qh AS (
       |  SELECT vec_id AS query_id,
       |    list_transform(v, x -> x / nrm) AS qhat
       |  FROM n WHERE vec_id < 8
       |), terms AS (
       |  SELECT q.query_id, c.vec_id, c.s,
       |    list_dot_product(
       |      q.qhat[CAST(c.s * $d + 1 AS INT):CAST(c.s * $d + $d AS INT)],
       |      b.cw) AS term
       |  FROM qh q, cd c
       |  JOIN $pqOracleFinalBooks b ON b.s = c.s AND b.code = c.code
       |  WHERE c.vec_id <> q.query_id
       |), ap AS MATERIALIZED (
       |  SELECT query_id, vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(term ORDER BY s)), (a, x) -> a + x) AS approx
       |  FROM terms GROUP BY query_id, vec_id
       |)""".stripMargin
  }

  /** x25's oracle: unrolled PQ training + ADC first pass + ntile(3)
    * candidate cut + exact rescore — x21's oracle shape over the
    * quantized index. */
  def pqTopKSql: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), n AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
       |)""".stripMargin +
      pqOracleCtes + adcCtes +
      s""", cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      NTILE(3) OVER (PARTITION BY query_id
       |        ORDER BY approx DESC, vec_id ASC) AS tile
       |    FROM ap) WHERE tile = 1
       |), scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY list_dot_product(x.v, q.v) / (x.nrm * q.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |  FROM cand c
       |  JOIN n x ON x.vec_id = c.vec_id
       |  JOIN n q ON q.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
       |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** x26's oracle: the x22 probe composed with the x25 ADC — probed
    * cells only, top [[IvfPqRescoreFactor]]·k ADC candidates, exact
    * rescore. */
  def ivfPqTopKSql: String =
    ivfOracleProlog + pqOracleCtes + adcCtes +
      s""", pr AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.v, c.cw) DESC, c.cell DESC) AS rk
       |    FROM n q, $ivfOracleFinalCents c WHERE q.vec_id < 8)
       |  WHERE rk <= $IvfProbes
       |), cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT a.query_id, a.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.query_id
       |        ORDER BY a.approx DESC, a.vec_id ASC) AS rk
       |    FROM ap a
       |    JOIN idx i ON i.vec_id = a.vec_id
       |    JOIN pr p ON p.query_id = a.query_id AND p.cell = i.cell)
       |  WHERE rk <= ${IvfPqRescoreFactor * 5}
       |), scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY list_dot_product(x.v, q.v) / (x.nrm * q.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |  FROM cand c
       |  JOIN n x ON x.vec_id = c.vec_id
       |  JOIN n q ON q.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
       |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------- x22 IVF

  /** Coarse-quantizer sizing: the cell count is DERIVED FROM THE CORPUS
    * SIZE, k = max([[IvfMinCells]], ⌈n / [[IvfTargetCellRows]]⌉), so the
    * expected cell population stays ≈ [[IvfTargetCellRows]] however big
    * the corpus is. With probes a small constant, the probe's touched
    * fraction p/k then FALLS as the corpus grows (the sublinear property
    * x21's whole-corpus sketch scan lacks), and x24's within-cell
    * candidate volume p²·n²/k grows LINEARLY in n instead of
    * quadratically — the 10× probe measured the quadratic term emerging
    * when k was a compile-time 16 (PLANS.md), which is why this is
    * computed, not configured. DedupSimilaritySpec pins cell population
    * and touched fraction at two corpus sizes 4× apart.
    *
    * Representation regime: up to [[IvfMaxLiteralCells]] the centroids
    * are plan literals (codegen'd dot products — the cheapest map-only
    * assignment); beyond it the SAME centroid table becomes a
    * broadcast-join DIMENSION and assignment/probing are a join plus a
    * min-by-distance aggregation ([[assignCellsVia]]/[[multiProbeVia]]),
    * so k keeps tracking ⌈n/target⌉ with no ceiling — a megabyte
    * expression tree is never compiled, and the sublinear probe claim
    * holds at any corpus size. The two regimes are output-identical
    * (same dot arithmetic, same tiebreak) — spec-pinned. */
  private[graft] val IvfMinCells = 16
  private[graft] val IvfTargetCellRows = 256
  private[graft] val IvfMaxLiteralCells = 256
  private[graft] def ivfCellCount(n: Long): Int = {
    val k = math.max(IvfMinCells.toLong,
      (n + IvfTargetCellRows - 1) / IvfTargetCellRows)
    // 100 TB sanity: Int is ample (2³¹ cells × 256 rows ≫ any corpus)
    k.toInt
  }
  private[graft] val IvfProbes = 2
  private val IvfLloydRounds = 3

  /** Lloyd TRAINING is bounded to a deterministic hash-sample of at most
    * ~[[TrainSampleCap]] vectors (standard IVF/PQ practice — FAISS trains
    * coarse quantizers on a bounded sample as a matter of course):
    * `pmod(xxhash64(vec_id), ⌈n/cap⌉) = 0` keeps every stride-th id with
    * no rand() (identical across runs/executors/retries), and the per-
    * round (cell, pos) mean + k×dim collect now scan/aggregate the
    * SAMPLE, so no `.collect()` in the trainer path has a row count that
    * grows with the corpus (the collect is ≤ min(k, sample)×dim rows,
    * ≤ cap×dim). Full-corpus work stays map-only assignment/encode.
    * Below the cap the sample IS the corpus — small fixtures and every
    * existing spec train exactly as before. Sample-vs-full recall parity
    * at two corpus sizes is pinned in DedupSimilaritySpec. */
  private[graft] val TrainSampleCap: Long = 1L << 20
  private[graft] def trainSampleOf(df: DataFrame, n: Long,
      cap: Long = TrainSampleCap): DataFrame =
    if (n <= cap) df
    else df.filter(pmod(xxhash64(col("vec_id")), lit((n + cap - 1) / cap)) === 0)

  /** array<double> literal column. */
  private def litArr(c: Array[Double]): Column =
    array(c.map(lit).toIndexedSeq: _*)

  /** Deterministic seeded unit-vector init (engine-internal state, like
    * the sketch planes — no rand(), identical across runs/executors). */
  private def ivfSeedCentroids(k: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(k) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  /** Nearest-centroid (max-dot) cell id for a raw vector column. Row
    * norms don't affect the argmax; centroids are unit-normalized at
    * build time so cross-centroid comparison is cosine. Pure codegen'd
    * expression — assignment is map-only. */
  private[graft] def cellOf(v: Column, cents: Array[Array[Double]]): Column = {
    val dots = array(cents.map(c => dot(v, litArr(c))).toIndexedSeq: _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Top-p probe cells for a query vector, best first. */
  private[graft] def probeCellsOf(qv: Column, cents: Array[Array[Double]],
      p: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(dot(qv, litArr(c)).as("s"), lit(i).as("cell"))
    }.toIndexedSeq: _*)
    transform(slice(reverse(array_sort(scored)), 1, p), s => s.getField("cell"))
  }

  /** The centroid table as a broadcast-join DIMENSION — the
    * representation beyond [[IvfMaxLiteralCells]]: one row per cell,
    * k×dim doubles total (at k = 400k cells / 100 M vectors and dim 64
    * that is ~200 MB — inside the broadcast budget, far outside the
    * expression-tree one). */
  private[graft] def centroidDim(spark: SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) =>
      (i, c, math.sqrt(c.map(x => x * x).sum))
    }.toSeq.toDF("cell", "cv", "cn")
  }

  /** Nearest-centroid assignment in either representation regime,
    * appending a `cell` column to `df` (which must carry a `vec_id` row
    * key and the raw vector under `v`). Literal regime: map-only
    * [[cellOf]]. Join regime: score rows are the SKINNY
    * (vec_id, cell, dot) projection of the broadcast centroid join —
    * [[multiProbeVia]]'s shape — argmin'd per key and joined back.
    * The projection is the load-bearing part: an earlier form kept the
    * full row (vector included) through the n×k fan-out and aggregated
    * `first(v)` alongside the min_by — array-typed aggregation buffers
    * force SortAggregate, which SORTS n×k × ~1 KB rows (measured:
    * a 66 GB disk-full spill at the 200k-vector 100× probe, inside
    * Lloyd training of all things). Skinny rows keep the argmin a
    * ~24 B/row aggregation; the vectors ride only the final n-row
    * equi join. Tiebreak matches [[cellOf]] exactly (max dot, then
    * lowest cell), so the regimes are output-identical —
    * spec-pinned. */
  private[graft] def assignCellsVia(df: DataFrame,
      cents: Array[Array[Double]], literal: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (literal) df.withColumn("cell", cellOf($"v", cents))
    else {
      val best = df.select($"vec_id", $"v")
        .join(broadcast(centroidDim(spark, cents)))
        .select($"vec_id", $"cell", dot($"v", $"cv").as("#s"))
        .groupBy($"vec_id")
        .agg(min_by($"cell", struct((-$"#s").as("nd"), $"cell")).as("cell"))
      df.join(best, "vec_id")
        .select((df.columns :+ "cell").map(col).toIndexedSeq: _*)
    }
  }

  /** Regime-switched assignment: the public composition point. */
  private[graft] def assignCells(df: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    assignCellsVia(df, cents, cents.length <= IvfMaxLiteralCells)

  /** Top-p multi-probe assignment in either regime: one output row per
    * (input row, probed cell), keyed by `keyCol`, probing with the raw
    * vector in `vCol`. Join regime: score rows are the SKINNY
    * (key, cell, dot) projection, ranked per key, then joined back —
    * the n×k fan-out never carries the vectors through a shuffle.
    * Tiebreak matches [[probeCellsOf]] (descending (dot, cell)), so
    * the regimes are output-identical — spec-pinned. */
  private[graft] def multiProbeVia(df: DataFrame, keyCol: String,
      vCol: String, cents: Array[Array[Double]], p: Int,
      literal: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (literal)
      df.withColumn("cell", explode(probeCellsOf(col(vCol), cents, p)))
    else {
      val scored = df.select(col(keyCol), col(vCol))
        .join(broadcast(centroidDim(spark, cents)))
        .select(col(keyCol), $"cell", dot(col(vCol), $"cv").as("#s"))
      val w = Window.partitionBy(col(keyCol)).orderBy($"#s".desc, $"cell".desc)
      val top = scored.withColumn("#rk", row_number().over(w))
        .filter($"#rk" <= p).select(col(keyCol), $"cell")
      df.join(top, keyCol)
        .select((df.columns :+ "cell").map(col).toIndexedSeq: _*)
    }
  }

  /** k-means coarse quantizer trained with a few Lloyd rounds from the
    * seeded init, over the BOUNDED [[trainSampleOf]] hash-sample (the
    * full corpus below the cap). Per round: map-only assignment of the
    * sample, then a (cell, pos) mean — one shuffle of ≤ cap·dim skinny
    * rows — and a ≤ min(k, cap)×dim driver collect. The driver-held
    * centroid ARRAY stays k×dim because that table IS the broadcast
    * dimension every assignment/probe joins against (~200 MB at 100 M
    * vectors, dim 64 — the broadcast budget, not a trainer artifact).
    * The full corpus is never scanned by the trainer; assignment over it
    * stays map-only in [[ivfIndex]]. Empty cells keep their previous
    * (seeded) centroid. */
  private[graft] def ivfCentroidsOf(all: DataFrame, k: Int = 0,
      rounds: Int = IvfLloydRounds,
      sampleCap: Long = TrainSampleCap): Array[Array[Double]] = {
    val spark = all.sparkSession
    import spark.implicits._
    // one cheap count on a memoized/persisted frame, paid once per index:
    // sizes the quantizer (k = 0 default) AND decides the sample stride
    val n = all.count()
    val kk = if (k > 0) k else ivfCellCount(n)
    val dim = all.select(size($"v")).head.getInt(0)
    val literal = kk <= IvfMaxLiteralCells
    val sampled = n > sampleCap
    val train0 = trainSampleOf(all.select($"vec_id", $"v"), n, sampleCap)
    // persist the sample iff the filter engaged: Lloyd re-reads it every
    // round, and re-scanning the full corpus per round just to re-filter
    // would forfeit the bound's whole I/O advantage
    val train = if (sampled) train0.persist() else train0
    try {
      var cents = ivfSeedCentroids(kk, dim)
      for (_ <- 0 until rounds) {
        val sums = assignCellsVia(train, cents, literal)
          .select($"cell", posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"cell", $"pos").agg(avg($"x").as("m"))
          .collect()
        val next = Array.tabulate(kk)(i => cents(i).clone())
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        }
        cents = next.map { c =>
          val nn = math.sqrt(c.map(x => x * x).sum)
          if (nn == 0) c else c.map(_ / nn)
        }
      }
      cents
    } finally if (sampled) { train.unpersist(); () }
  }

  /** Memoized per-(session, sfDir) centroid table — held in the shared
    * [[graft.Caches]] registry so `Caches.clear` drops it together with
    * the frames it was trained on (a privately-cached copy could survive
    * a clear and silently mismatch a regenerated corpus). */
  private[graft] def centroids(spark: SparkSession, sfDir: String): Array[Array[Double]] =
    graft.Caches.memoValue(spark, s"ivf-centroids:$sfDir") {
      ivfCentroidsOf(corpus(spark, sfDir))
    }

  /** The cell-assigned index: (vec_id, v, nrm, cell), memoized. At
    * deployment this is the frame you WRITE partitioned/bucketed by
    * `cell`, so a probe's candidate fetch is file-level partition
    * pruning; in-session it's the persisted index the probe join hits. */
  private[graft] def ivfIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"ivf-index:$sfDir") {
      assignCells(corpus(spark, sfDir), centroids(spark, sfDir))
    }

  /** x22 — ANN top-5 via an IVF-style partition-pruned index: assign
    * every vector to its nearest of k centroids once (map-only, memoized
    * as the index); per query, probe only the top-p cells and exact-
    * rescore inside them. Unlike x21's rank-then-rescore (which reads
    * EVERY corpus sketch row per query batch), the probe touches ≈ p/k
    * of the corpus — and with k sized from the corpus count
    * ([[ivfCellCount]]: fixed target cell population) the fraction
    * shrinks as the corpus grows. The isotropic fixture is the known worst case for partition
    * indexes (recall plateaus ≈ 0.6 — measured and documented in
    * PLANS.md, which is WHY x21 exists); on clustered embeddings — the
    * regime IVF is for — recall ≥ 0.8 at < 20% touched rows is gated by
    * DedupSimilaritySpec's planted-centroid fixture. Rows-only driver
    * check (approximate by design). */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame =
    ivfTopKOf(ivfIndex(spark, sfDir), centroids(spark, sfDir), 8, 5, IvfProbes)

  /** The probe plan over an arbitrary cell-assigned index. */
  private[graft] def ivfTopKOf(cells: DataFrame, cents: Array[Array[Double]],
      nQueries: Int, topK: Int, probes: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val probed = ivfProbes(cells, cents, nQueries, probes)
    // candidate fetch: equi join on the cell key (partition pruning at
    // deployment); exact cosine only inside probed cells — the probe
    // rows already carry (qv, qn), so scoring needs no second join
    rankTopK(cells.join(broadcast(probed), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos", dot($"v", $"qv") / ($"nrm" * $"qn")), topK)
  }

  /** (query_id, qv, qn, cell) — one row per (query, probed cell); the
    * spec also uses it to measure the touched-rows fraction. */
  private[graft] def ivfProbes(cells: DataFrame, cents: Array[Array[Double]],
      nQueries: Int, probes: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    multiProbeVia(
      cells.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn")),
      "query_id", "qv", cents, probes,
      literal = cents.length <= IvfMaxLiteralCells)
  }

  // -------------------------------------------------------------- x25 PQ

  /** PQ geometry: m subspaces × k codes. 16 subspaces of 4 dims over the
    * 64-dim fixture embeddings, 16 centroids per subspace → a code row
    * is 16 × 1 byte vs 256 bytes of float32 — a 16× smaller first-pass
    * scan (the whole point at 100 TB: the ADC pass reads ONLY this
    * narrow code table plus m·k-double codebooks, and per-query work is
    * a table lookup per subspace, not a d-dim dot product). */
  private[graft] val PqSubspaces = 16
  private[graft] val PqCodes = 16
  private val PqLloydRounds = 3

  /** An already-normalized vector split into the m subvectors, as an
    * array-of-structs column ready to explode. Callers MUST pass a
    * projected normalized column (never an inline `transform(v, _/nrm)`
    * expression — inlined, the 64-element division would re-execute
    * once per subspace slice, a 16× constant on the encode pass). */
  private def pqSubvecs(vhat: Column, dim: Int): Column = {
    val d = dim / PqSubspaces
    array((0 until PqSubspaces).map { s =>
      struct(lit(s).as("s"), slice(vhat, s * d + 1, d).as("sv"))
    }.toIndexedSeq: _*)
  }

  /** Argmin-L2 code for a subvector against one subspace's codebook —
    * ‖sv − c‖² = ‖sv‖² − 2·sv·c + ‖c‖², and ‖sv‖² is constant under the
    * argmin, so the scored array is ‖c‖² − 2·sv·c (pure codegen'd
    * expressions, map-only assignment like [[cellOf]]). */
  private def pqCodeOf(sv: Column, codebook: Array[Array[Double]]): Column = {
    val scores = array(codebook.map { c =>
      lit(c.map(x => x * x).sum) - lit(2.0) * dot(sv, litArr(c))
    }.toIndexedSeq: _*)
    (array_position(scores, array_min(scores)) - 1).cast("int")
  }

  /** Seeded codebook init, shared by the trainer and the x25/x26 SQL
    * oracles (which inline these exact doubles as literals). */
  private def pqSeedBooks(dim: Int): Array[Array[Array[Double]]] = {
    val d = dim / PqSubspaces
    val rnd = new scala.util.Random(17)
    val compStd = 1.0 / math.sqrt(dim.toDouble)
    Array.fill(PqSubspaces, PqCodes)(
      Array.fill(d)(rnd.nextGaussian() * compStd))
  }

  /** Per-subspace codebooks trained with a few Lloyd rounds — ALL
    * subspaces in one relational pass per round (assignment is map-only;
    * the (s, code, pos) mean is one shuffle of skinny rows; the
    * m·k·(dim/m) = k·dim-double codebook collect is a bounded dimension,
    * like the IVF centroid table). Seeded init at the subvector scale
    * (unit full vector → E‖sv‖² = 1/m); empty codes keep their previous
    * centroid. Training scans only the bounded [[trainSampleOf]]
    * hash-sample (standard PQ practice); encoding stays map-only over
    * the full corpus in [[pqIndexOf]]. */
  private[graft] def pqCodebooksOf(all: DataFrame,
      rounds: Int = PqLloydRounds,
      sampleCap: Long = TrainSampleCap): Array[Array[Array[Double]]] = {
    val spark = all.sparkSession
    import spark.implicits._
    val n = all.count()
    val dim = all.select(size($"v")).head.getInt(0)
    var books = pqSeedBooks(dim)
    val sampled = n > sampleCap
    val subvecs0 = trainSampleOf(all, n, sampleCap)
      .withColumn("vhat", transform($"v", _ / $"nrm"))
      .select(explode(pqSubvecs($"vhat", dim)).as("e"))
      .select($"e.s".as("s"), $"e.sv".as("sv"))
    // persist iff the sample filter engaged — same rationale as the IVF
    // trainer: Lloyd re-reads the sample once per round
    val subvecs = if (sampled) subvecs0.persist() else subvecs0
    try for (_ <- 0 until rounds) {
      val b = books // stable capture for the expression tree
      val codeCol = (0 until PqSubspaces).foldLeft(lit(-1)) { (acc, s) =>
        when($"s" === s, pqCodeOf($"sv", b(s))).otherwise(acc)
      }
      val sums = subvecs.select($"s", codeCol.as("code"),
          posexplode($"sv").as(Seq("pos", "x")))
        .groupBy($"s", $"code", $"pos").agg(avg($"x").as("m"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      books = next
    } finally if (sampled) { subvecs.unpersist(); () }
    books
  }

  private def pqBooks(spark: SparkSession, sfDir: String): Array[Array[Array[Double]]] =
    graft.Caches.memoValue(spark, s"pq-codebooks:$sfDir") {
      pqCodebooksOf(corpus(spark, sfDir))
    }

  /** The compressed index: (vec_id, codes array<tinyint> of length m) —
    * 16 bytes of payload per vector vs 256 float bytes, the only table
    * the ADC pass scans. Memoized like the IVF index. */
  private[graft] def pqIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"pq-index:$sfDir") {
      pqIndexOf(corpus(spark, sfDir), pqBooks(spark, sfDir))
    }

  /** The m-byte PQ code column over a NORMALIZED vector column — the
    * encode shared by the batch index, the incremental index
    * maintainer, and anything else that must emit codes the frozen
    * codebooks decode. */
  private def pqCodesCol(vhat: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val dim = books.length * books(0)(0).length
    transform(pqSubvecs(vhat, dim), e =>
      (0 until PqSubspaces).foldLeft(lit(-1)) { (acc, s) =>
        when(e.getField("s") === s, pqCodeOf(e.getField("sv"), books(s)))
          .otherwise(acc)
      }.cast("byte"))
  }

  /** Map-only encode of an arbitrary (vec_id, v, nrm) corpus. */
  private[graft] def pqIndexOf(all: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    all.withColumn("vhat", transform($"v", _ / $"nrm"))
      .select($"vec_id", pqCodesCol($"vhat", books).as("codes"))
  }

  /** x25 — ANN top-5 via PQ/ADC (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the quantized sibling
    * of x21's rank-then-rescore. First pass scans ONLY the 16-byte code
    * table and scores each vector as Σₛ LUT lookups — here the lookup is
    * element_at into the m×k literal codebook arrays, dot(q̂ₛ, Cₛ[code])
    * — keeps the top third per query (ntile, mirroring x21's candidate
    * cut exactly so the two first passes are comparable: 16 B/vector
    * here vs 256 B of sketch floats there), then exact-rescores
    * candidates via an equi join to the full vectors. Approximate by
    * design → rows-only driver check; recall gated in the spec. */
  def pqTopK(spark: SparkSession, sfDir: String): DataFrame =
    pqTopKOf(corpus(spark, sfDir), pqIndex(spark, sfDir),
      pqBooks(spark, sfDir), 8, 5)

  /** The ADC approximate-dot column: per subspace, look the code's
    * centroid up in the literal codebook and dot it with the query's
    * subvector — no full corpus vector is read where this evaluates. */
  private def adcScore(books: Array[Array[Array[Double]]], qhat: Column,
      codes: Column): Column = {
    val d = books(0)(0).length
    (0 until PqSubspaces).map { s =>
      val cents = array(books(s).map(litArr).toIndexedSeq: _*)
      dot(slice(qhat, s * d + 1, d),
        element_at(cents, element_at(codes, s + 1).cast("int") + 1))
    }.reduce(_ + _)
  }

  private[graft] def pqTopKOf(all: DataFrame, index: DataFrame,
      books: Array[Array[Array[Double]]], nQueries: Int, topK: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val queries = all.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), transform($"v", _ / $"nrm").as("qhat"))
    val adc = adcScore(books, $"qhat", $"codes")
    val candW = Window.partitionBy($"query_id")
      .orderBy($"approx".desc, $"vec_id".asc)
    val candidates = index.join(broadcast(queries),
        $"vec_id" =!= $"query_id")
      .withColumn("approx", adc)
      .withColumn("tile", ntile(3).over(candW))
      .filter($"tile" === 1)
      .select($"query_id", $"vec_id")
    // exact rescore: equi joins only, full vectors fetched (shared tail)
    rescoreTopK(candidates, all, nQueries, topK)
  }

  // ---------------------------------------------------------- x26 IVF-PQ

  /** ADC candidates kept per query for exact rescoring (a small multiple
    * of top-k, FAISS-style). */
  private[graft] val IvfPqRescoreFactor = 4

  /** The composed narrow index: (cell, vec_id, codes) — a cell id plus
    * 16 bytes of codes per vector. Neither the probe join nor the ADC
    * pass reads a full vector; at deployment this is the table written
    * partitioned by `cell`. */
  private[graft] def ivfPqIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"ivfpq-index:$sfDir") {
      import spark.implicits._
      ivfIndex(spark, sfDir).select($"vec_id", $"cell")
        .join(pqIndex(spark, sfDir), "vec_id")
    }

  /** One-pass MAP encode of an arbitrary (vec_id, v, nrm) corpus under
    * a FROZEN model: (cell, vec_id, codes) with no join — the per-
    * micro-batch work of the incremental index maintainer
    * ([[graft.streaming.Streaming.ivfPqIndexUpdate]]). Content-equal
    * to [[ivfPqIndex]] under the same centroids/codebooks (the batch
    * form composes the two memoized halves; this fuses them because a
    * batch is consumed once). */
  private[graft] def ivfPqIndexOf(all: DataFrame,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame =
    assignCells(all, cents)
      .withColumn("vhat", transform(col("v"), _ / col("nrm")))
      .select(col("cell"), col("vec_id"),
        pqCodesCol(col("vhat"), books).as("codes"))

  /** The frozen (coarse quantizer, PQ codebooks) pair an incremental
    * index maintainer captures at index-build time — retraining shifts
    * every stored code, so a live index NEVER retrains per batch (the
    * FAISS deployment contract: train offline, add online). */
  private[graft] def frozenIvfPqModel(spark: SparkSession, sfDir: String):
      (Array[Array[Double]], Array[Array[Array[Double]]]) =
    (centroids(spark, sfDir), pqBooks(spark, sfDir))

  /** x26 — ANN top-5 via IVF-PQ, the composition of x22 and x25 and the
    * standard production architecture (FAISS IVFPQ; Jégou et al. 2011
    * §IV): probe the top-p cells per query (sublinear — touches ≈ p/k of
    * the corpus, shrinking as [[ivfCellCount]] grows k with n), ADC-score ONLY the probed cells'
    * 16-byte code rows (memory-bound — no full vector read), keep
    * [[IvfPqRescoreFactor]]·k candidates, exact-rescore those via an
    * equi join to the full vectors. x22 bounds WHICH rows are touched;
    * x25 bounds HOW MANY BYTES each touched row costs; the rescore pins
    * exactness of the final ranking over the candidate set. Same
    * clustered-regime caveat as x22 (gated on the planted-centroid
    * fixture; isotropic data is the documented worst case). Rows-only
    * driver check (approximate by design). */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqTopKOf(corpus(spark, sfDir), ivfPqIndex(spark, sfDir),
      centroids(spark, sfDir), pqBooks(spark, sfDir), 8, 5, IvfProbes)

  /** One row per (query, probed cell), carrying the normalized query
    * (probing on the RAW vector like x22 — scale-invariant argmax — so
    * both regimes and both ops rank cells identically). Shared by the
    * in-session probe and the materialized-index probe. */
  private[graft] def ivfPqProbes(all: DataFrame, cents: Array[Array[Double]],
      nQueries: Int, probes: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    multiProbeVia(
      all.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"v",
          transform($"v", _ / $"nrm").as("qhat")),
      "query_id", "v", cents, probes,
      literal = cents.length <= IvfMaxLiteralCells)
      .select($"query_id", $"qhat", $"cell")
  }

  private[graft] def ivfPqTopKOf(all: DataFrame, index: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nQueries: Int, topK: Int, probes: Int): DataFrame =
    ivfPqTopKVia(all, index, ivfPqProbes(all, cents, nQueries, probes),
      books, nQueries, topK)

  /** The ADC + rescore tail over an ALREADY-ROUTED probe frame — split
    * out so the materialized-index path can route once and feed both
    * the partition filter and this join from the same rows. */
  private[graft] def ivfPqTopKVia(all: DataFrame, index: DataFrame,
      qprobes: DataFrame, books: Array[Array[Array[Double]]],
      nQueries: Int, topK: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val candW = Window.partitionBy($"query_id")
      .orderBy($"approx".desc, $"vec_id".asc)
    val candidates = index.join(broadcast(qprobes), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("approx", adcScore(books, $"qhat", $"codes"))
      .withColumn("rk", row_number().over(candW))
      .filter($"rk" <= IvfPqRescoreFactor * topK)
      .select($"query_id", $"vec_id")
    rescoreTopK(candidates, all, nQueries, topK)
  }

  /** DEPLOYMENT form of the x26 index: the (vec_id, codes, cell) table
    * written as CELL-PARTITIONED parquet — one file per cell (the
    * repartition keys each cell's rows to one task, the production
    * small-files discipline), so a probe's candidate fetch becomes
    * FILE-LEVEL partition pruning instead of an in-session join. This
    * is the claim x22/x26's scaladoc makes ("at deployment this is the
    * table written partitioned by cell"), made runnable and
    * spec-proven. */
  private[graft] def materializeIvfPqIndex(spark: SparkSession,
      sfDir: String, indexDir: String): Unit =
    ivfPqIndex(spark, sfDir)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)

  /** The distinct cell ids the query batch probes — nQueries × p ints,
    * the driver-side routing lookup of a serving layer. */
  private[graft] def probedCellIds(spark: SparkSession, sfDir: String,
      nQueries: Int = 8, probes: Int = IvfProbes): Array[Int] = {
    import spark.implicits._
    ivfPqProbes(corpus(spark, sfDir), centroids(spark, sfDir),
        nQueries, probes)
      .select($"cell").distinct().collect().map(_.getInt(0)).sorted
  }

  /** The pruned read of the materialized index: a literal IN-list on
    * the partition column, so Catalyst prunes partition directories
    * before any file is opened. */
  private[graft] def prunedIndexRead(spark: SparkSession, indexDir: String,
      cellList: Array[Int]): DataFrame =
    spark.read.parquet(indexDir)
      .filter(col("cell").isin(cellList.map(Int.box).toIndexedSeq: _*))

  /** x26 over the MATERIALIZED index: the probed cells become a literal
    * IN-list partition filter on the parquet read — Catalyst prunes to
    * the matching partition directories before any file is opened
    * (`PartitionFilters` in the scan node; PlanAuditSpec asserts it and
    * counts touched files ∝ probed cells). The routing runs ONCE: the
    * collected (query, qhat, cell) rows — nQueries × p of them, the
    * lookup a serving layer does against its routing table — feed BOTH
    * the partition IN-list and the ADC join dim, so the filter cells
    * and the join probes cannot drift and the centroid argmax isn't
    * paid twice. The downstream ADC + rescore is [[ivfPqTopKVia]]
    * unchanged, so the result is row-identical to in-session x26 —
    * spec-pinned. */
  private[graft] def ivfPqTopKMaterialized(spark: SparkSession,
      sfDir: String, indexDir: String, nQueries: Int = 8, topK: Int = 5,
      probes: Int = IvfProbes): DataFrame =
    ivfPqTopKMaterializedDirs(spark, sfDir, Seq(indexDir), nQueries,
      topK, probes)

  /** Same, over a SET of index roots — the incremental maintainer's
    * committed version slices are each their own cell-partitioned
    * table, and the live index is their union; every root gets the
    * same pushed cell IN-list, so pruning holds slice by slice. */
  private[graft] def ivfPqTopKMaterializedDirs(spark: SparkSession,
      sfDir: String, indexDirs: Seq[String], nQueries: Int = 8,
      topK: Int = 5, probes: Int = IvfProbes): DataFrame =
    ivfPqTopKMaterializedVia(corpus(spark, sfDir), indexDirs,
      centroids(spark, sfDir), pqBooks(spark, sfDir), nQueries, topK,
      probes)

  /** The fully-parameterized materialized-index query: `all` is the
    * vector store the queries come from and the exact rescore reads
    * (for the incremental path, the union of slice vector stores — so
    * vectors that arrived ONLY via the stream are first-class), and
    * the frozen model arrives explicitly (an index encoded under one
    * model must never be decoded with another corpus's codebooks). */
  private[graft] def ivfPqTopKMaterializedVia(all: DataFrame,
      indexDirs: Seq[String], cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nQueries: Int, topK: Int,
      probes: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val routed = ivfPqProbes(all, cents, nQueries, probes)
      .select($"query_id".cast("long"), $"qhat", $"cell".cast("int"))
      .as[(Long, Seq[Double], Int)].collect()
    val cells = routed.map(_._3).distinct.sorted
    val qprobes = spark.createDataset(routed.toIndexedSeq)
      .toDF("query_id", "qhat", "cell")
    val pruned = indexDirs.map(prunedIndexRead(spark, _, cells))
      .reduce(_ unionByName _)
    ivfPqTopKVia(all, pruned, qprobes, books, nQueries, topK)
  }

  /** x23 — SEMANTIC dedup (the SemDeDup policy, Abbas et al. 2023,
    * arXiv:2303.09540): drop every vector that has a lower-id neighbor
    * at cos ≥ τ; i.e. keep every vector with NO lower-id neighbor at the
    * threshold. Note this keeps all local-id-minima, not one-per-group:
    * a transitive chain whose middle holds the min (2~3, 1~3, 1!~2 at
    * τ) keeps both 1 and 2 of one duplicate component — x29
    * ([[semanticDedupCC]]) closes the chain with connected components
    * when one-per-component semantics are wanted. This is the embedding-space sibling of x15's
    * MinHash survivor set — lexical dedup (x10-x15) can't see
    * paraphrases; this can. The pair generator is x14's tiled exact
    * self-join (bounded per-task memory, no broadcast nested loop) at
    * the shared [[NearDupTau]]; at 100 TB in the production τ ≥ 0.8
    * regime use x24 ([[semanticDedupCelled]]) — SemDeDup's own
    * within-k-means-cluster candidate generator over x22's IVF cells —
    * whose keep-no-lower-id policy is identical. */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val drops = cosineNearDupPairs(spark, sfDir)
      .select($"id_b".as("vec_id")).distinct()
    Tables.spread(Tables.embeddings(spark, sfDir))
      .join(drops, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label")
      .orderBy($"vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
       |)
       |SELECT vec_id, label FROM e
       |WHERE vec_id NOT IN (
       |  SELECT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.v, b.v) >= $NearDupTau)
       |ORDER BY vec_id""".stripMargin

  // --------------------------------------- x29 one-per-component SemDeDup

  /** x29 — one-survivor-PER-COMPONENT SemDeDup: x23 keeps every vector
    * with no lower-id neighbor at τ, which on a transitive chain
    * (1~2, 2~3, 1!~3) keeps BOTH endpoints {1, 3}; this variant closes
    * the chain with x17's connected components (large/small-star,
    * O(log n) rounds) and keeps exactly ONE vector — the minimum id —
    * per component, the semantics SemDeDup's "keep one exemplar per
    * duplicate group" prose actually describes. Singletons (no neighbor
    * at τ) are kept untouched as in x23.
    *
    * Scale shape: the pair graph is the shared x14 tiled exact join
    * (τ-regime caveats documented there); CC is O(log n) rounds over
    * the pair graph ONLY — a tiny fraction of the corpus — and the
    * final drop set joins back LEFT ANTI against the corpus scan, so
    * the full embedding table is never shuffled. */
  def semanticDedupCC(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the label dim is the memoized shared artifact (built once per
    // session, like Dedup.ccLabels; Bench prewarms this query so the
    // pair join + CC rounds land in cache_build_sec)
    val labels = graft.Caches.memoValue(spark, s"semdedup-cc-labels:$sfDir") {
      // pin the pair edge set before CC: ccStars scans its input
      // three times (edges checkpoint + both sides of the nodes
      // union), and the O(n²) tiled cosine join is the suite's most
      // expensive — without this it would execute 3× per cold session.
      // Under the local master pin = localCheckpoint, keeping the
      // CacheManager empty, so x14's
      // no-plan-cache-substitution honesty note still holds.
      val pairs = graft.Caches.pin(cosineNearDupPairs(spark, sfDir)
        .select($"id_a", $"id_b"))
      val (l, _) = Dedup.ccStars(pairs)
      graft.Caches.track(spark, s"semdedup-cc-labels:$sfDir", l)
    }
    val drops = labels.filter($"id" =!= $"label").select($"id".as("vec_id"))
    Tables.spread(Tables.embeddings(spark, sfDir))
      .join(drops, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label")
      .orderBy($"vec_id")
  }

  /** Oracle: recursive-CTE transitive closure over the exact cosine
    * pair graph (fixture-scale only); a node's component id is the min
    * of its reachable set (self included via any a→b→a path), and a
    * vector survives iff it is outside the graph or IS that minimum. */
  val semanticDedupCCSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.v, b.v) >= $NearDupTau
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, g.b FROM reach r JOIN edges g ON r.b = g.a
       |), comp AS (
       |  SELECT a AS vec_id, MIN(b) AS cid FROM reach GROUP BY a
       |)
       |SELECT emb.vec_id, emb.label FROM embeddings emb
       |LEFT JOIN comp c ON emb.vec_id = c.vec_id
       |WHERE c.vec_id IS NULL OR c.cid = emb.vec_id
       |ORDER BY emb.vec_id""".stripMargin

  // ------------------------------------------------ x24 celled SemDeDup

  /** Production SemDeDup threshold for the celled variant. The Abbas et
    * al. recipe operates at high similarity (their ε corresponds to
    * cos ≳ 0.9); at this regime a near-dup pair is nearly colinear, so
    * both endpoints land in the same coarse-quantizer cell — which is
    * exactly why the paper generates candidates within k-means clusters
    * only. */
  private[graft] val SemDedupTauHigh = 0.8

  /** Cells each vector is replicated to for candidate generation.
    * Single assignment (the naive SemDeDup recipe) misses a near-dup
    * pair whenever it straddles a Voronoi boundary — measured 7 of 80
    * planted cos ≈ 0.99 pairs lost on the spec fixture. With top-2
    * assignment a pair is missed only when the two vectors share NONE
    * of their top-2 cells (a 3-cell corner case): the spec's planted
    * set comes back complete. Candidate volume is p²·n²/k — the p² is
    * the price of the recall. */
  private[graft] val SemDedupAssignProbes = 2

  /** Multi-probe cell assignment: (vec_id, v, nrm, cell) with each
    * vector replicated to its top-p cells by centroid dot product. */
  private[graft] def multiCellAssign(all: DataFrame,
      cents: Array[Array[Double]], probes: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    multiProbeVia(all.select($"vec_id", $"v", $"nrm"),
      "vec_id", "v", cents, probes,
      literal = cents.length <= IvfMaxLiteralCells)
  }

  /** Within-cell near-dup candidate pairs over a cell-assigned
    * (vec_id, v, nrm, cell) corpus: an equi self-join on the cell key
    * with exact cosine rescoring — never an all-pairs product. A pair
    * sharing several cells (multi-probe assignment) emits once.
    *
    * Scale shape: per-cell work is (p·n/k)² and total p²·n²/k, so with
    * k ∝ n / targetCellRows (IVF practice) the candidate volume grows
    * LINEARLY in n at a fixed cell size. The join key is `cell`, so an
    * index persisted partitioned/bucketed by cell self-joins
    * co-partitioned (no shuffle), and an oversized skewed cell is split
    * by AQE skew-join handling. */
  private[graft] def cellNearDupPairsOf(cells: DataFrame, tau: Double): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val lhs = cells.select($"cell", $"vec_id".as("id_a"), $"v".as("va"), $"nrm".as("na"))
    val rhs = cells.select($"cell", $"vec_id".as("id_b"), $"v".as("vb"), $"nrm".as("nb"))
    lhs.join(rhs, Seq("cell"))
      .filter($"id_a" < $"id_b")
      .withColumn("cos", dot($"va", $"vb") / ($"na" * $"nb"))
      .filter($"cos" >= tau)
      .select($"id_a", $"id_b")
      .distinct()
  }

  /** Keep-no-lower-id survivor ids of a cell-assigned corpus (possibly
    * multi-probe-assigned, i.e. several rows per vec_id) — the
    * composable form the x24 spec runs on its planted fixture. */
  private[graft] def semanticDedupCelledOf(cells: DataFrame, tau: Double): DataFrame = {
    val drops = cellNearDupPairsOf(cells, tau)
      .select(col("id_b").as("vec_id")).distinct()
    cells.select(col("vec_id")).distinct()
      .join(drops, Seq("vec_id"), "left_anti")
  }

  /** x24 — SemDeDup with the paper's own sub-quadratic candidate
    * generator (Abbas et al. 2023 §3: pairs within k-means clusters
    * only), at the production τ where the recipe is sound: x22's IVF
    * centroids provide the clusters (k sized from the corpus count via
    * [[ivfCellCount]], so cell size — and with it the per-cell pair
    * volume — stays fixed as n grows), each vector is assigned to its
    * top-2 cells ([[SemDedupAssignProbes]] — closing the
    * Voronoi-boundary recall gap single assignment measurably has),
    * candidates are within-cell pairs (equi join on the cell key —
    * p²·n²/k total work, linear in n at fixed cell size), exact cosine
    * rescore, then x23's keep-no-lower-id policy. Approximate by design
    * (a τ-pair sharing none of its top-2 cells can be missed) →
    * rows-only driver check; DedupSimilaritySpec gates celled ≡ exact
    * pair AND survivor sets on a planted high-τ clustered fixture plus
    * a candidate-pairs fraction < 20%. x23 is the exact sibling at the
    * fixture's low-τ regime where no blocking family is sound. */
  def semanticDedupCelled(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assigned = multiCellAssign(corpus(spark, sfDir),
      centroids(spark, sfDir), SemDedupAssignProbes)
    val drops = cellNearDupPairsOf(assigned, SemDedupTauHigh)
      .select($"id_b".as("vec_id")).distinct()
    Tables.spread(Tables.embeddings(spark, sfDir))
      .join(drops, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label")
      .orderBy($"vec_id")
  }

  // ------------------------------------- x79 celled semantic decontam

  /** Within-cell (train, bench) decontamination flags over a
    * cell-assigned corpus: the bipartite sibling of
    * [[cellNearDupPairsOf]] under the x19/x78 benchmark-slice
    * convention (vec_id % 17). A pair sharing several probed cells
    * emits once. */
  private[graft] def celledDecontFlagsOf(cells: DataFrame,
      tau: Double): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val lhs = cells.filter($"vec_id" % 17 =!= 0)
      .select($"cell", $"vec_id".as("train_id"), $"v".as("vt"), $"nrm".as("nt"))
    val rhs = cells.filter($"vec_id" % 17 === 0)
      .select($"cell", $"vec_id".as("bench_id"), $"v".as("vb"), $"nrm".as("nb"))
    lhs.join(rhs, Seq("cell"))
      .withColumn("cos", dot($"vt", $"vb") / ($"nt" * $"nb"))
      .filter($"cos" >= tau)
      .select($"train_id").distinct()
  }

  /** x79 — celled semantic decontamination: x78's flag at the
    * production τ = [[SemDedupTauHigh]] through x24's sub-quadratic
    * candidate generator — train and benchmark vectors share the x22
    * IVF cells (top-2 assignment, closing the Voronoi-boundary recall
    * gap), candidates are within-cell bipartite pairs only, exact
    * cosine rescore, output the CLEAN training slice. The regime split
    * mirrors x23/x24 exactly: x78 is the exact all-pairs form (sound at
    * any τ, intrinsically quadratic), x79 the deployment form for the
    * tight-τ regime where a qualifying pair is near-colinear and hence
    * co-assigned — per-cell work (p·n/k)², total linear in n at fixed
    * cell size, co-partitioned when the index is bucketed by cell.
    * Full oracle: the x24 unrolled-Lloyd prolog replays the centroids,
    * assignment, bipartite flags and anti-join in DuckDB;
    * DedupSimilaritySpec gates celled ≡ brute-force flags on the
    * planted high-τ fixture (where flags actually fire — the isotropic
    * sf corpus has no pair above 0.6, so the registered query's honest
    * answer there is "nothing to remove"). */
  def semanticDecontaminateCelled(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assigned = multiCellAssign(corpus(spark, sfDir),
      centroids(spark, sfDir), SemDedupAssignProbes)
    val flagged = celledDecontFlagsOf(assigned, SemDedupTauHigh)
    Tables.spread(Tables.embeddings(spark, sfDir))
      .filter($"vec_id" % 17 =!= 0)
      .join(flagged.select($"train_id".as("vec_id")), Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label")
      .orderBy($"vec_id")
  }

  /** x79's oracle on the x24 trained-centroid prolog: top-2 assignment,
    * within-cell bipartite (train, bench) flags at τ, anti-join. */
  def semanticDecontaminateCelledSql: String =
    ivfOracleProlog +
      s""", mp AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cw) DESC, c.cell DESC) AS rk
       |    FROM n, $ivfOracleFinalCents c)
       |  WHERE rk <= $SemDedupAssignProbes
       |), flagged AS (
       |  SELECT DISTINCT t.vec_id
       |  FROM mp t JOIN mp b ON t.cell = b.cell
       |    AND t.vec_id % 17 <> 0 AND b.vec_id % 17 = 0
       |  JOIN n x ON x.vec_id = t.vec_id
       |  JOIN n y ON y.vec_id = b.vec_id
       |  WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm)
       |          >= $SemDedupTauHigh
       |)
       |SELECT e.vec_id, e.label FROM embeddings e
       |LEFT JOIN flagged f ON e.vec_id = f.vec_id
       |WHERE e.vec_id % 17 <> 0 AND f.vec_id IS NULL
       |ORDER BY e.vec_id""".stripMargin

  // ------------------------------------------------ x61 prototypicality

  /** Fraction of each cell kept by x61 — the most-prototypical 80%,
    * the ballpark SSL-prototype pruning operates in. */
  private[graft] val ProtoKeepFraction = 0.8

  /** x61 — PROTOTYPICALITY pruning (the semantic-quality companion to
    * SemDeDup from the same literature: Sorscher et al. 2022
    * "Beyond neural scaling laws", arXiv:2206.14486, SSL prototypes —
    * also DataComp's embedding filters): rank every vector by cosine to
    * its OWN cluster centroid and keep the most-prototypical
    * [[ProtoKeepFraction]] of each cell — embedding-space outliers
    * (noise, mislabeled content, off-distribution scrapes) rank at the
    * bottom of whatever cell they fall into and are dropped. Dedup
    * removes redundancy; this removes isolation — the two ends of the
    * same density spectrum.
    *
    * Shape: rides x22's memoized cell index (map-only assignment,
    * already built); cosine-to-own-centroid is a literal-array lookup
    * by cell id (k ≤ 256 centroids as plan literals — the x22
    * representation) so scoring is map-only; the rank window partitions
    * by `cell`, whose population is fixed by [[ivfCellCount]], so
    * window state per task is bounded as n grows. Centroids are not
    * SQL-expressible → rows-only driver check; DedupSimilaritySpec
    * plants noise outliers in the clustered fixture and gates that they
    * are dropped while per-cell keep counts hold exactly. */
  def prototypicality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    prototypicalityOf(ivfIndex(spark, sfDir), centroids(spark, sfDir))
      .orderBy($"vec_id")
  }

  /** The pruning plan over an arbitrary (vec_id, v, nrm, cell) index. */
  private[graft] def prototypicalityOf(cells: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    prototypicalityVia(cells, cents,
      literal = cents.length <= IvfMaxLiteralCells)

  /** Both scoring regimes of x61: literal element_at lookup for small
    * codebooks, own-cell broadcast-dim equi join beyond
    * [[IvfMaxLiteralCells]] — identical cosine arithmetic, so the
    * regimes are output-identical (spec-pinned). */
  private[graft] def prototypicalityVia(cells: DataFrame,
      cents: Array[Array[Double]], literal: Boolean): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val scored =
      if (literal) {
        val centArr = array(cents.toIndexedSeq.map(litArr): _*)
        val centNrm = array(cents.toIndexedSeq
          .map(c => lit(math.sqrt(c.map(x => x * x).sum))): _*)
        cells.withColumn("cos",
          dot($"v", element_at(centArr, $"cell" + 1)) /
            ($"nrm" * element_at(centNrm, $"cell" + 1)))
      } else
        cells.join(broadcast(centroidDim(spark, cents)), "cell")
          .withColumn("cos", dot($"v", $"cv") / ($"nrm" * $"cn"))
          .drop("cv", "cn")
    val rankW = Window.partitionBy($"cell")
      .orderBy($"cos".desc, $"vec_id".asc)
    val cellW = Window.partitionBy($"cell")
    scored
      .withColumn("rk", row_number().over(rankW))
      .withColumn("n_cell", count(lit(1)).over(cellW))
      .filter($"rk" <= ceil($"n_cell" * lit(ProtoKeepFraction)))
      .select($"vec_id", $"cell", $"rk", $"n_cell")
  }
}
