package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication family over `documents` — the operators a 100 TB
  * training-data pipeline needs. All pure built-in expressions (codegen'd),
  * no UDFs:
  *
  *  - exact:   content hash → groupBy (one shuffle on the hash)
  *  - minhash: shingle → 32 minhash sigs → 8×4 LSH bands → bucket join →
  *             exact-Jaccard verify of candidates only (never O(n²))
  *  - simhash: 64-bit sign-vote fingerprint → 8×8-bit chunk blocking
  *             (pigeonhole: hamming ≤7 ⇒ some chunk equal) → bit_count verify
  *  - n-gram Jaccard: inverted shingle index join (sparse similarity join)
  *
  * Scale notes: every candidate-generation path is blocked/banded so the
  * pair space stays near-linear in the duplicate count; the only O(n²)
  * formulation lives in the DuckDB oracle (which runs at sf0.01 only).
  * Common-shingle skew is the known hazard of the inverted-index join; the
  * LSH path is the skew-safe variant at scale.
  */
object Dedup {

  /** Distinct word-trigram shingles (empty below 3 words).
    *
    * PERF: pass a MATERIALIZED word-array column (project `split(text)`
    * into its own column first), not `split(text, " ")` inline. Spark's
    * higher-order functions run interpreted (no codegen), and interpreted
    * eval re-executes every subtree per lambda invocation — an inlined
    * split is recomputed 3·(n−2) times per document, turning a linear map
    * into O(words²) (measured: 12.9 s vs 0.6 s for x42 at sf0.1). A
    * projected column is an attribute reference inside the lambda, and
    * CollapseProject keeps multi-referenced non-trivial aliases
    * materialized rather than re-inlining them. */
  def shinglesOfWords(w: Column): Column =
    when(size(w) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ",
          element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))

  /** Convenience form over raw text — ONLY for one-shot plans that
    * project it once; hot paths should pre-split (see [[shinglesOfWords]]). */
  def shingles(text: Column): Column = shinglesOfWords(split(text, " "))

  /** x10 — exact dedup: sha256 content hash, keep-first per group. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy(sha2($"text", 256).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper_doc_id"))
      .orderBy($"keeper_doc_id")
  }

  val exactDedupSql: String =
    """SELECT sha256(text) AS content_hash, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keeper_doc_id
      |FROM documents GROUP BY sha256(text) ORDER BY keeper_doc_id""".stripMargin

  /** Per-doc shingle frame + inverted index. */
  /** Materialized (doc_id, shingles, count) — persisted because (a) every
    * dedup variant and both sides of each self-join reuse it, and (b) it
    * blocks Catalyst from pushing the join's isnotnull filter (which
    * inlines the whole shingle expression) below the widening repartition
    * onto the single-split scan. Size ∝ corpus text — the standard
    * materialize-the-signature-table step of a dedup pipeline. */
  private[graft] def shingled(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"shingled:$sfDir") {
      shingledOf(Tables.spread(Tables.documents(spark, sfDir)))
    }

  /** The shingle computation over an arbitrary (doc_id, text, …) frame —
    * the composable form a streaming micro-batch runs (no memo: a batch
    * is consumed once). */
  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " ")) // see shinglesOfWords PERF note
      .select(col("doc_id"), shinglesOfWords(col("w")).as("sh"))
      .withColumn("nsh", size(col("sh")))

  /** Skew guard for the inverted-index join: shingles appearing in more
    * than max(floor, ceil(frac·n_docs)) docs are dropped from CANDIDATE
    * GENERATION only (verification always recomputes exact Jaccard from
    * the full shingle arrays, so emitted pairs are never approximate —
    * the cap can only affect recall). Rationale: a shingle shared by >1%
    * of the corpus is boilerplate; a J ≥ 0.3 pair shares ≥ 23% of its
    * shingle union and is (on any non-pathological corpus) identified by
    * its rarer shared shingles. DedupSimilaritySpec proves the fixture
    * pair set is unchanged vs the uncapped join; PLANS.md quantifies the
    * worst-bucket shrink. */
  val ShingleDfCapFraction = 0.01
  val ShingleDfCapFloor = 5L

  /** x13 — exact n-gram Jaccard near-dup pairs via inverted-index join. */
  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairsOf(shingled(spark, sfDir))

  /** Same, over an arbitrary (doc_id, sh, nsh) shingle frame — lets the
    * corpus-curation pipeline run near-dup detection on an already
    * filtered subset. `dfCap` overrides the relative skew cap (negative =
    * use the relative default; Long.MaxValue = uncapped, the spec's
    * reference form).
    *
    * Shape: the self-join + groupBy-count runs over the CAPPED inverted
    * index only (bounding every join bucket at cap²/2 rows), and the
    * intersection contribution of the dropped high-df shingles is added
    * back exactly from tiny per-doc dropped-shingle arrays — so emitted
    * (pair, jaccard) values are exact under any cap. The only recall
    * edge: a pair whose EVERY shared shingle is high-df generates no
    * candidate row (impossible for the fixtures — DedupSimilaritySpec
    * proves the pair set unchanged — and pathological for J ≥ 0.3 on any
    * real corpus, where near-dup pairs share rare shingles too). When the
    * cap doesn't bite, `dropped` is empty and the plan degenerates to the
    * plain inverted-index join at zero extra cost. */
  def jaccardPairsOf(docs: DataFrame, dfCap: Long = -1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // relative-cap sizing counts the (persisted) shingle frame once per
    // call — measured negligible next to the join itself at every probed
    // SF (round-4 scaling probe), so no caller-supplied count is taken
    val cap =
      if (dfCap >= 0) dfCap
      else math.max(ShingleDfCapFloor,
        math.ceil(ShingleDfCapFraction * docs.count()).toLong)
    val inv = docs.select($"doc_id", $"nsh", explode($"sh").as("s"))
    // the dropped-shingle set is small by construction — at most
    // (total shingle occurrences / cap) survivors of the df > cap filter
    // (≈ avg-shingles-per-doc / cap-fraction strings corpus-wide,
    // independent of n_docs) — so it is a collectible dimension, like any
    // broadcast dim. Collecting it lets the common no-skew case keep the
    // single-pass plan with zero guard overhead. df > Long.MaxValue is
    // unsatisfiable — skip the aggregation job entirely when uncapped.
    val droppedShingles =
      if (cap == Long.MaxValue) Seq.empty[String]
      else inv.groupBy($"s").agg(count(lit(1)).as("sdf"))
        .filter($"sdf" > cap).select($"s").as[String].collect().toSeq

    def pairsFrom(index: DataFrame, interAddBack: DataFrame => DataFrame) = {
      val partial = index.as("a").join(index.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.nsh").as("na"), col("b.nsh").as("nb"))
        .agg(count(lit(1)).as("inter_kept"))
      interAddBack(partial)
        .withColumn("jaccard", $"inter" / ($"na" + $"nb" - $"inter"))
        .filter($"jaccard" >= 0.3)
        .select($"id_a", $"id_b", $"jaccard")
        .orderBy($"id_a", $"id_b")
    }

    if (droppedShingles.isEmpty)
      // cap never bites: the plain single-pass inverted-index join
      pairsFrom(inv, _.withColumn("inter", $"inter_kept"))
    else {
      val dropped = droppedShingles.toDF("s")
      val kept = inv.join(broadcast(dropped), Seq("s"), "left_anti")
      // per-doc array of its high-df shingles (empty for most docs);
      // nsh rides along so the audit below needs no join back onto docs
      val droppedPerDoc = inv.join(broadcast(dropped), "s")
        .groupBy($"doc_id").agg(collect_list($"s").as("ds"),
          first($"nsh").as("nshd"))
      // a capped run must be distinguishable from an uncapped one: the
      // cap's only possible recall edge is a doc whose ENTIRE shingle set
      // is high-df (it can't seed any candidate), so count those loudly —
      // one small aggregate over the affected docs, only when the cap bites
      val fullyDropped = droppedPerDoc.filter(size($"ds") === $"nshd").count()
      val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")
      log.warn(s"jaccardPairs df-cap engaged: cap=$cap, " +
        s"droppedShingles=${droppedShingles.size}, " +
        s"docsWithAllShinglesDropped=$fullyDropped" +
        (if (fullyDropped > 0)
          " — these docs generate no candidates; raise the cap if they matter"
         else ""))
      val emptyArr = array().cast("array<string>")
      pairsFrom(kept, partial => partial
        .join(droppedPerDoc.select($"doc_id".as("id_a"), $"ds".as("ds_a")),
          Seq("id_a"), "left")
        .join(droppedPerDoc.select($"doc_id".as("id_b"), $"ds".as("ds_b")),
          Seq("id_b"), "left")
        .withColumn("inter", $"inter_kept" + call_function(
          "array_intersect_count",
          coalesce($"ds_a", emptyArr), coalesce($"ds_b", emptyArr))))
    }
  }

  /** The O(n²) oracle formulation (sf0.01 only — 500 docs). */
  val jaccardPairsSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(w) - 1, 1)),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM d
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  len(list_intersect(a.sh, b.sh)) * 1.0 /
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  private val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = 4

  /** x11 — MinHash + LSH banding; candidates verified with exact Jaccard.
    * Shares the exact x13 oracle: measured on the fixtures, every pair at
    * J ≥ 0.3 actually has J ≥ 0.85 (the planted dups), where 8×4 banding
    * catches with probability 1-(1-J⁴)⁸ ≥ 0.997 — and the hash family is
    * DETERMINISTIC (xxhash64 seeded by permutation index, no stored
    * coefficients), so "catches" is a fixed fact of the fixture, verified
    * by DedupSimilaritySpec's set-equality against exact x13, not a
    * per-run coin flip. If future fixtures plant mid-band pairs
    * (0.3 ≤ J < 0.8), this oracle should move to rows-only + the spec's
    * superset check. */
  def minhashLshPairs(spark: SparkSession, sfDir: String): DataFrame =
    // memoized shared artifact: the verified pair table feeds x11 (the
    // query itself), x15 (survivors) and x17 (clusters) — a real pipeline
    // materializes it once, like the shingle table (Bench prewarms it and
    // charges the build to cache_build_sec)
    graft.Caches.memo(spark, s"lsh-pairs:$sfDir") {
      buildMinhashLshPairs(spark, sfDir)
    }

  /** (doc_id, band, bh) LSH band keys over a (doc_id, sh, nsh) shingle
    * frame — the banded index both the batch self-join (x11) and the
    * incremental history probe (x18) hang off. */
  private[graft] def bandsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val inv = docs.select($"doc_id", explode($"sh").as("s"))
    val sigAggs = (0 until NumHashes)
      .map(i => min(xxhash64(lit(i), $"s")).as(s"m$i"))
    val sigs = inv.groupBy($"doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val bandStructs = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bh"))
    }
    sigs
      .select($"doc_id", explode(array(bandStructs: _*)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.bh".as("bh"))
  }

  /** Within-set LSH candidate pairs: the (band, bh) self-join with
    * id_a < id_b dedup — the candidate-generation head shared by batch
    * x11 and the streamed datasheet's within-batch stage. */
  private[graft] def bandSelfCandidates(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** Exact-Jaccard verification of an (id_a, id_b) candidate frame
    * against (doc_id, sh, nsh) shingle frames — the shared tail of every
    * banded path (batch x11, the x18 streaming probe, the streamed
    * datasheet): J recomputed from the stored arrays, kept at the dedup
    * family's J ≥ 0.3 gate. Emitted pairs are exact; only candidate
    * RECALL is the banding's concern. */
  private[graft] def verifyJaccard(cand: DataFrame, left: DataFrame,
      right: DataFrame): DataFrame = {
    graft.functions.CustomExprs.register(cand.sparkSession)
    cand
      .join(left.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("nsh").as("na")), "id_a")
      .join(right.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("nsh").as("nb")), "id_b")
      .withColumn("inter",
        call_function("array_intersect_count", col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  private def buildMinhashLshPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = shingled(spark, sfDir)
    verifyJaccard(bandSelfCandidates(bandsOf(docs)), docs, docs)
      .orderBy($"id_a", $"id_b")
  }

  /** x12 — SimHash near-dup: 64-bit sign-vote over word hashes, blocked by
    * 8×8-bit chunks, hamming ≤ 6 verified with bit_count(xor). HASH-checked
    * since round 10: the word-hash family is FNV-1a, so the oracle replays
    * the whole pipeline — per-word byte recurrence (x33's HUGEINT replay,
    * applied per word), ±1 bit votes, signed signature assembly, chunk
    * blocking, hamming verify — as pure integer SQL in DuckDB.
    *
    * The signature stage is the custom codegen'd [[graft.functions
    * .CustomExprs.SimHash64]] expression — a pure map over documents. The
    * relational formulation it replaced (word explode + 64 vote-sum
    * aggregate columns, i.e. a words-sized shuffle) is kept as
    * [[simhashSigsViaAgg]] purely as the independent reference
    * implementation for DedupSimilaritySpec's equivalence gate. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val sigs = simhashSigs(spark, sfDir)
    simhashBlockedPairs(sigs)
  }

  /** Expression-form signatures: map-only, no explode, no shuffle. */
  def simhashSigs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    Tables.spread(Tables.documents(spark, sfDir))
      // docs with no non-empty word have no votes and are excluded (the
      // relational form drops them at the explode+filter stage)
      .filter(size(array_remove(split($"text", " "), lit(""))) > 0)
      .select($"doc_id",
        graft.functions.CustomExprs.simhash64($"text").as("simhash"))
  }

  /** The original relational formulation (explode + 64 vote-sum columns);
    * reference implementation for the spec's expression≡aggregate gate. */
  def simhashSigsViaAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val words = Tables.spread(Tables.documents(spark, sfDir))
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .withColumn("h", call_function("fnv1a64", $"w"))
    val bitVotes = (0 until 64).map { j =>
      sum(when(shiftright($"h", j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"v$j")
    }
    val voted = words.groupBy($"doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val sim = (0 until 64).map { j =>
      shiftleft(when(col(s"v$j") > 0, 1L).otherwise(0L), j)
    }.reduce(_.bitwiseOR(_))
    voted.select($"doc_id", sim.as("simhash"))
  }

  /** Chunk-blocked candidate join + exact hamming verify over (doc_id,
    * simhash) signatures. */
  private def simhashBlockedPairs(sigs: DataFrame): DataFrame =
    hamming64BlockedPairs(sigs, "simhash", 6)

  /** The shared banded-hamming engine over any (doc_id, <sigCol>) 64-bit
    * signature frame — x12 (token simhash), x80 (image aHash) and x81
    * (audio energy fingerprint) all match through THIS one definition:
    * 8 exact 8-bit chunk blocks generate candidates (∝ band collisions,
    * never all pairs), then an exact xor/bit_count verify at `hamMax`.
    * For hamMax < 8 the pigeonhole bound makes the uncapped blocked
    * form PROVABLY equal to the all-pairs join.
    *
    * `bandDfCap`: bands shared by more than this many signatures are
    * excluded from CANDIDATE GENERATION (x11/x16's df-cap convention).
    * Without it the candidate volume is Σ bucket² — fine for ~uniform
    * signatures (x12's FNV simhash: measured 45× at 100× rows,
    * n²/256-bounded) but DEGENERATE for correlated ones (x80/x81's
    * perceptual bits concentrate: one hot band held 17% of a 10× probe
    * corpus and the join read 455M candidate pairs, a measured
    * 105-183× blowup at 10×; capped at 64 the same probe reads 383k).
    * The recall concession is the standard one: a pair surviving ONLY
    * via hot bands is dropped, and a band shared by thousands of docs
    * identifies nothing. Callers that cap must oracle the capped
    * semantics (blocked replay + df filter), not the brute-force
    * quadratic form. */
  private[graft] def hamming64BlockedPairs(sigs: DataFrame, sigCol: String,
      hamMax: Int, bandDfCap: Option[Long] = None): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    require(hamMax < 8, s"hamMax $hamMax loses the 8-chunk pigeonhole recall")
    val chunks = sigs.select($"doc_id", col(sigCol).as("sig"),
      explode(array((0 until 8).map(c =>
        struct(lit(c).as("c"),
          shiftright(col(sigCol), c * 8).bitwiseAND(0xFF).as("cv"))): _*)).as("ck"))
      .select($"doc_id", $"sig", $"ck.c".as("c"), $"ck.cv".as("cv"))
    val blockable = bandDfCap.fold(chunks) { cap =>
      // the (c, cv) space is ≤ 8·256 rows — the df dim always broadcasts
      val cold = chunks.groupBy($"c", $"cv").count()
        .filter($"count" <= cap).select($"c", $"cv")
      chunks.join(broadcast(cold), Seq("c", "cv"))
    }
    blockable.as("a").join(blockable.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter($"hamming" <= hamMax)
      .select($"id_a", $"id_b", $"hamming")
      .orderBy($"id_a", $"id_b")
  }

  /** x12's oracle: the FNV-1a word hash, sign-vote signature, chunk
    * blocking and hamming verify replayed as integer SQL. Signature
    * assembly sums distinct powers of two in signed BIGINT (bit 63 added
    * as Long.MinValue — `1 << 63` would overflow); chunk extraction and
    * xor/bit_count then run on the same signed 64-bit values Spark holds,
    * where arithmetic-shift-then-mask equals logical-shift-then-mask. */
  val simhashPairsSql: String = {
    val byteAt =
      "(strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1))-1)*16" +
        " + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1))-1)"
    s"""WITH w0 AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |), w AS (
       |  SELECT doc_id, hex(encode(word)) AS hx,
       |    octet_length(encode(word)) AS len
       |  FROM w0 WHERE word <> ''
       |), wf AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(0, len), i -> CAST($byteAt AS HUGEINT))),
       |    (acc, x) -> (xor(acc, x) * 1099511628211)
       |                  % CAST(18446744073709551616 AS HUGEINT)) AS hu
       |  FROM w
       |), hb AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
       |      THEN hu - CAST(18446744073709551616 AS HUGEINT)
       |      ELSE hu END AS BIGINT) AS h
       |  FROM wf
       |), v AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN ((h >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END)
       |      AS vote
       |  FROM hb, range(0, 64) t(j) GROUP BY doc_id, j
       |), sig AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN vote > 0 THEN
       |      CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |           ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
       |    ELSE 0 END) AS BIGINT) AS simhash
       |  FROM v GROUP BY doc_id
       |), ck AS (
       |  SELECT doc_id, simhash, c, (simhash >> CAST(8*c AS INT)) & 255 AS cv
       |  FROM sig, range(0, 8) t(c)
       |), p AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM ck a JOIN ck b
       |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM p WHERE bit_count(xor(sa, sb)) <= 6
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Connected components via alternating large-star/small-star (the
    * MapReduce CC algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — public literature). Edges are kept
    * ORIENTED (child > parent); one round is:
    *
    *  - large-star: every node u hooks each LARGER neighbor v > u onto
    *    m(u) = min(Γ(u) ∪ {u}) — one groupBy-min over the symmetrized
    *    neighborhood + one join;
    *  - small-star: every node u hooks itself and its smaller neighbors
    *    onto m(u) = min of those — same two-op shape on the oriented set.
    *
    * Both steps only ever re-link nodes to SMALLER ids, components are
    * preserved, and the edge set converges to one star per component
    * rooted at the component minimum in O(log n) rounds — vs O(diameter)
    * for plain min-label propagation, the difference between ~6 rounds
    * and hundreds on a templated web corpus's long duplicate chains
    * (DedupSimilaritySpec drives a 64-node path through it).
    *
    * Convergence is detected STRUCTURALLY (two small aggregates on the
    * persisted edge frame, no edge-set diff): the oriented edge set is a
    * star forest ⇔ no parent also appears as a child AND every child has
    * exactly one parent; on a star forest both steps are the identity, so
    * star-forest ⇔ fixpoint. A graph still unconverged after `maxRounds`
    * throws IllegalStateException rather than silently returning
    * partially-merged labels (2^50 nodes would be needed to hit 50
    * honestly). Labels stay distributed throughout; the driver only
    * orchestrates rounds. */
  private[graft] def ccStars(pairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // pin (eager and lineage-truncating on every master): each round's
    // frame references the previous one several times, so without
    // truncation the logical plan grows exponentially with rounds and
    // the per-execution plan-description event OOMs the driver around
    // round ~10. The pinned RDDs are small (the pair graph) and the
    // ContextCleaner frees them as rounds drop their references.
    var edges = graft.Caches.pin(pairs
      .select(greatest($"id_a", $"id_b").as("c"), least($"id_a", $"id_b").as("p"))
      .filter($"c" =!= $"p").distinct())

    def isStarForest(e: DataFrame): Boolean = {
      val parentAlsoChild = e.as("a")
        .join(e.as("b"), col("a.p") === col("b.c"), "left_semi")
      parentAlsoChild.isEmpty &&
        e.groupBy($"c").agg(count(lit(1)).as("n")).filter($"n" > 1).isEmpty
    }

    var rounds = 0
    var converged = isStarForest(edges)
    while (!converged && rounds < maxRounds) {
      // large-star over the symmetrized neighborhood
      val d = edges.select($"c".as("u"), $"p".as("v"))
        .union(edges.select($"p".as("u"), $"c".as("v")))
      val mins = d.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val afterLarge = graft.Caches.pin(d.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("c"), $"m".as("p"))
        .distinct())
      // small-star over the oriented result: m = min parent per child;
      // every non-min parent re-links to m, the child links to m
      val minsPerChild = afterLarge.groupBy($"c").agg(min($"p").as("m"))
      val next = graft.Caches.pin(afterLarge.join(minsPerChild, "c")
        .filter($"p" =!= $"m")
        .select($"p".as("c"), $"m".as("p"))
        .union(minsPerChild.select($"c", $"m".as("p")))
        .distinct())
      edges = next
      rounds += 1
      converged = isStarForest(edges)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds " +
          "large/small-star rounds — pathological graph, not silently " +
          "returning partial labels")
    // star forest ⇒ each child has exactly one parent = its component
    // minimum; roots (never a child) label themselves
    val nodes = pairs.select($"id_a".as("id"))
      .union(pairs.select($"id_b".as("id"))).distinct()
    val labels = nodes
      .join(edges.select($"c".as("id"), $"p".as("lbl")), Seq("id"), "left")
      .select($"id", coalesce($"lbl", $"id").as("label"))
      .persist()
    labels.count() // materialize so callers can drop the edge lineage
    (labels, rounds)
  }

  /** x17 — duplicate CLUSTERS: connected components over the verified
    * near-dup pair graph, so transitive chains (A≈B≈C with A,C below
    * threshold) land in one group — the clustering step a real curation
    * pipeline runs between pair generation and survivor selection (x15's
    * pairwise keep-first is the one-pass approximation). The CC engine is
    * [[ccStars]] (large-star/small-star, O(log n) rounds, loud failure on
    * non-convergence). */
  /** The converged CC label dim (id, label) — memoized shared artifact
    * like [[minhashLshPairs]]: the labels feed x17 (clusters), x28
    * (soft-dedup weights) and x59 (keep-best survivors), so a real
    * pipeline materializes them once per corpus version; Bench prewarms
    * the frame and charges the CC rounds to cache_build_sec. memoValue
    * (not memo) because ccStars already persists+materializes its
    * result; track registers it for Caches.clear unpersist. */
  private[graft] def ccLabels(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memoValue(spark, s"cc-labels:$sfDir") {
      import spark.implicits._
      val pairs = minhashLshPairs(spark, sfDir).select($"id_a", $"id_b")
      val (labels, _) = ccStars(pairs)
      graft.Caches.track(spark, s"cc-labels:$sfDir", labels)
    }

  def dupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ccLabels(spark, sfDir)
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy($"label")))
      .select($"id".as("doc_id"), $"label".as("cluster_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Oracle: recursive-CTE transitive closure (fixture-scale only); the
    * component id is the min over each node's reachable set (which always
    * contains the node itself via any 2-step a→b→a path). */
  val dupClustersSql: String =
    s"""WITH RECURSIVE p AS ($jaccardPairsSql),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
       |)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp ORDER BY doc_id""".stripMargin

  /** x28 — SOFT dedup (repetition-aware downweighting): keep every
    * document but weight it by the inverse of its duplicate-cluster
    * size — weight_ppm = 10⁶ div cluster_size, exact integer — the
    * downweight-don't-delete alternative modern data recipes use when
    * duplication frequency is itself signal (a doc mirrored 50× is
    * probably boilerplate; one copy should still train, at 1/50 the
    * epochs). Singletons weigh 1.0.
    *
    * Shape: composes x17's large/small-star cluster labels. The label
    * dim holds one row per document in any verified near-dup cluster —
    * on a clean corpus that is a sliver, but on a web crawl dup
    * fractions of 30-50% are routine, so the dim GROWS WITH THE CORPUS
    * and an unconditional broadcast is an OOM at 100 TB. The weight
    * join is therefore GUARDED the same way x56 guards its dictionary
    * dim: broadcast hash join while the memoized label count is ≤
    * [[CcBroadcastMaxLabels]], plain shuffle join beyond it (one
    * shuffle of the label dim + corpus ids, never all-pairs). */
  def softDedup(spark: SparkSession, sfDir: String): DataFrame =
    softDedupVia(spark, sfDir,
      broadcastDim = ccLabelCount(spark, sfDir) <= CcBroadcastMaxLabels)

  /** Both join paths of x28; DedupSimilaritySpec pins them identical. */
  private[graft] def softDedupVia(spark: SparkSession, sfDir: String,
      broadcastDim: Boolean): DataFrame = {
    import spark.implicits._
    val clusters = dupClusters(spark, sfDir)
      .select($"doc_id", $"cluster_size")
    val dim = if (broadcastDim) broadcast(clusters) else clusters
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang")
      .join(dim, Seq("doc_id"), "left")
      .withColumn("cluster_size", coalesce($"cluster_size", lit(1L)))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
      .select($"doc_id", $"lang", $"cluster_size", $"weight_ppm")
      .orderBy($"doc_id")
  }

  /** Broadcast budget for the CC label dim (x28/x59): rows are two
    * BIGINTs plus hash-relation overhead (~24 B effective), so 40 M
    * labels ≈ 1 GB — the same conservative executor-broadcast ceiling
    * [[TextAnalysis.BpeBroadcastMaxWords]] assumes. Beyond it the dup
    * fraction of the corpus is large enough that a shuffle join is the
    * correct plan anyway. */
  private[graft] val CcBroadcastMaxLabels = 40000000L

  /** Memoized row count of [[ccLabels]] — sizes the x28/x59 broadcast
    * guard; counting the already-persisted label frame is free. */
  private[graft] def ccLabelCount(spark: SparkSession, sfDir: String): Long =
    graft.Caches.memoValue(spark, s"cc-label-count:$sfDir") {
      ccLabels(spark, sfDir).count()
    }

  val softDedupSql: String =
    s"""WITH RECURSIVE p AS ($jaccardPairsSql),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
       |), sized AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
       |      AS cluster_size
       |  FROM comp
       |)
       |SELECT d.doc_id, d.lang,
       |  COALESCE(s.cluster_size, 1) AS cluster_size,
       |  1000000 // COALESCE(s.cluster_size, 1) AS weight_ppm
       |FROM documents d LEFT JOIN sized s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** x59 — KEEP-BEST dedup survivor selection: within each near-dup
    * cluster keep the HIGHEST-QUALITY document (x30's blended score;
    * tie → lower doc_id), not the lowest-id one — the survivor policy
    * curation recipes actually want (min-id keeps whichever shard
    * happened to ingest first; keep-best keeps the cleanest copy).
    * Singletons pass through labeled as their own cluster.
    *
    * Shape: clusters come from x17's CC labels over the verified pair
    * graph, so the rank window runs ONLY on the clustered slice
    * (corpus ⋈ label dim, window over cluster_id on that frame) and
    * the untouched singleton majority is a LEFT ANTI of the same dim:
    * the full corpus is never shuffled by the window. The label dim
    * grows with the corpus dup count (30-50% on a web crawl), so both
    * joins are GUARDED like x28/x56: broadcast while the memoized
    * label count is ≤ [[CcBroadcastMaxLabels]], shuffle join beyond.
    * Quality is the shared [[TextAnalysis.qualityScore]] column, so
    * policy and x30 cannot drift. */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame =
    dedupKeepBestVia(spark, sfDir,
      broadcastDim = ccLabelCount(spark, sfDir) <= CcBroadcastMaxLabels)

  /** Both join paths of x59; DedupSimilaritySpec pins them identical. */
  private[graft] def dedupKeepBestVia(spark: SparkSession, sfDir: String,
      broadcastDim: Boolean): DataFrame = {
    import spark.implicits._
    // the memoized label dim directly — routing through dupClusters
    // would bolt on a cluster_size window and an orderBy this consumer
    // immediately discards (leakageFreeAssign takes the same path)
    val clusters = ccLabels(spark, sfDir)
      .select($"id".as("doc_id"), $"label".as("cluster_id"))
    def dim(df: DataFrame): DataFrame = if (broadcastDim) broadcast(df) else df
    val docs = Tables.spread(Tables.documents(spark, sfDir))
      .select($"doc_id", $"lang",
        TextAnalysis.qualityScore($"text").as("quality_score"))
    val clustered = docs.join(dim(clusters), "doc_id")
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    val best = clustered
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"doc_id", $"cluster_id", $"quality_score", $"lang")
    val singletons = docs
      .join(dim(clusters.select($"doc_id")), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster_id"), $"quality_score", $"lang")
    best.union(singletons).orderBy($"doc_id")
  }

  /** Oracle: the x17 recursive-CTE closure for cluster ids + x30's
    * quality formula + a per-cluster rank window (fixture scale only;
    * double ordering is sound because both engines compute the
    * hash-green x30 score bit-identically). */
  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE p AS ($jaccardPairsSql),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
       |), scored AS (
       |  SELECT doc_id, lang,
       |    ${graft.ops.TextAnalysis.qualityScoreSqlExpr(
             "string_split(text, ' ')", "CAST(LENGTH(text) AS BIGINT)")}
       |      AS quality_score
       |  FROM documents
       |), labeled AS (
       |  SELECT s.doc_id, COALESCE(c.cluster_id, s.doc_id) AS cluster_id,
       |    s.quality_score, s.lang
       |  FROM scored s LEFT JOIN comp c ON s.doc_id = c.doc_id
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
       |    ORDER BY quality_score DESC, doc_id ASC) AS rk
       |  FROM labeled
       |)
       |SELECT doc_id, cluster_id, quality_score, lang FROM ranked
       |WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** x16 — corpus curation pipeline: the end-to-end training-data flow
    * composed from the pieces — quality filter → exact dedup (keep
    * first) → near-dup drop (trigram Jaccard ≥ 0.3, keep lower id) →
    * surviving corpus with stats. Each stage shrinks the data before the
    * next, so the expensive similarity join only sees quality-filtered,
    * exactly-deduped docs. */
  // persisted (memoized): feeds both the shingle frame and the final
  // anti-join
  private[graft] def curationExact(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"curation-exact:$sfDir") {
      import spark.implicits._
      val w = split($"text", " ")
      Tables.spread(Tables.documents(spark, sfDir))
        .withColumn("n_words", size(w).cast("long"))
        .withColumn("ttr", size(array_distinct(w)) * 1.0 / size(w))
        .filter($"n_words" >= 30 && $"ttr" >= 0.05)
        .withColumn("h", sha2($"text", 256))
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"h").orderBy($"doc_id")))
        .filter($"rk" === 1)
        .drop("h", "rk")
    }

  // persisted (memoized): consumed by both sides of the similarity
  // self-join (and blocks the join's null-filter from inlining the
  // shingle expression below the upstream stages — same rationale as
  // `shingled`)
  private[graft] def curationShingled(spark: SparkSession, sfDir: String): DataFrame =
    graft.Caches.memo(spark, s"curation-shingled:$sfDir") {
      import spark.implicits._
      curationExact(spark, sfDir)
        .withColumn("w", split($"text", " ")) // see shinglesOfWords PERF note
        .select($"doc_id", shinglesOfWords($"w").as("sh"))
        .withColumn("nsh", size($"sh"))
    }

  def corpusCuration(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val exactKept = curationExact(spark, sfDir)
    val sh = curationShingled(spark, sfDir)
    val drops = jaccardPairsOf(sh).select($"id_b".as("doc_id")).distinct()
    exactKept.join(drops, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source", $"n_words")
      .orderBy($"doc_id")
  }

  val corpusCurationSql: String =
    """WITH q AS (
      |  SELECT doc_id, lang, source, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    len(list_distinct(string_split(text, ' '))) * 1.0
      |      / len(string_split(text, ' ')) AS ttr
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 30
      |    AND len(list_distinct(string_split(text, ' '))) * 1.0
      |        / len(string_split(text, ' ')) >= 0.05
      |), ek AS (
      |  SELECT * FROM (
      |    SELECT q.*, ROW_NUMBER() OVER (PARTITION BY sha256(text)
      |      ORDER BY doc_id) AS rk FROM q) t
      |  WHERE rk = 1
      |), s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |         || ' ' || string_split(text, ' ')[i+2])) AS sh
      |  FROM ek
      |), drops AS (
      |  SELECT DISTINCT b.doc_id FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
      |)
      |SELECT doc_id, lang, source, n_words FROM ek
      |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |ORDER BY doc_id""".stripMargin

  /** x15 — keep-first survivor set after near-dup clustering: drop the
    * higher doc_id of every verified near-dup pair (transitive-lite, the
    * standard one-pass policy). Shares the exact-Jaccard oracle. */
  def nearDupSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // LSH candidates + exact verify: same verified pair set as x13 (shared
    // oracle) at the LSH path's near-linear cost
    val drops = minhashLshPairs(spark, sfDir).select($"id_b".as("doc_id")).distinct()
    Tables.documents(spark, sfDir)
      .join(drops, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  val nearDupSurvivorsSql: String =
    s"""WITH pairs AS ($jaccardPairsSql)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
       |ORDER BY doc_id""".stripMargin

  /** x18 — INCREMENTAL dedup: dedup a new batch against the historical
    * corpus without re-pairing history with itself — the production
    * shape of continuous ingestion (daily increment vs an existing
    * banded index; the reference's 6-hour cycle analog for documents).
    * Fixture split: doc_id % 5 == 0 is the increment (the "new batch"),
    * the rest is history. The LSH band keys are the INDEX: history's
    * bands are built once (in a real pipeline: persisted and appended
    * to), the increment's bands probe them with an equi join on
    * (band, bh) — cost scales with the increment, never with
    * history × history. Candidates are exact-verified from the shingle
    * arrays, so emitted pairs are exact (same guarantee as x11/x13) —
    * which, against this full O(increment × history) Jaccard oracle,
    * additionally requires LSH band recall = 1 at J ≥ 0.3. That holds
    * for the same fixture reason documented at [[minhashLshPairs]]
    * (planted dups all sit at J ≥ 0.85, where 8×4 banding is ≥ 0.997);
    * a fixture planting mid-band pairs (0.3 ≤ J < 0.8) would fail this
    * hash check, and x18 must then move to rows-only + the
    * DedupSimilaritySpec slice-equivalence gate, under the same
    * condition as x11. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val docs = shingled(spark, sfDir)
    val isIncrement = $"doc_id" % 5 === 0
    val bands = bandsOf(docs)
    val incBands = bands.filter($"doc_id" % 5 === 0)
    val histBands = bands.filter($"doc_id" % 5 =!= 0)
    val cand = incBands.as("a").join(histBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("hist_id"))
      .distinct()
    val inc = docs.filter(isIncrement)
      .select($"doc_id".as("inc_id"), $"sh".as("sh_a"), $"nsh".as("na"))
    val hist = docs.filter(!isIncrement)
      .select($"doc_id".as("hist_id"), $"sh".as("sh_b"), $"nsh".as("nb"))
    cand.join(inc, "inc_id").join(hist, "hist_id")
      .withColumn("inter",
        call_function("array_intersect_count", $"sh_a", $"sh_b"))
      .withColumn("jaccard", $"inter" / ($"na" + $"nb" - $"inter"))
      .filter($"jaccard" >= 0.3)
      .select($"inc_id", $"hist_id", $"jaccard")
      .orderBy($"inc_id", $"hist_id")
  }

  /** Oracle: the O(increment × history) formulation (fixture scale only). */
  val incrementalDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(w) - 1, 1)),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM d
      |)
      |SELECT a.doc_id AS inc_id, b.doc_id AS hist_id,
      |  len(list_intersect(a.sh, b.sh)) * 1.0 /
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |FROM s a JOIN s b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
      |ORDER BY inc_id, hist_id""".stripMargin

  /** Containment threshold for x19: a training doc sharing ≥ this
    * fraction of a benchmark doc's shingles is contaminated. */
  val ContaminationThreshold = 0.5

  /** x19 — benchmark DECONTAMINATION: flag training docs that contain a
    * held-out evaluation doc's content — the overlap direction dedup
    * misses (a long training doc that embeds a short benchmark doc has
    * LOW Jaccard but ~1.0 containment of the benchmark side). Fixture
    * split: doc_id % 17 == 0 is the benchmark slice. Shape: inverted
    * shingle-index equi join between the training side and the (much
    * smaller) benchmark side — at scale the benchmark index is the
    * broadcast dim, so the scan over training data is map-side —
    * then containment = |S_train ∩ S_bench| / |S_bench| from the exact
    * per-pair intersection counts. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = shingled(spark, sfDir)
    val isBench = $"doc_id" % 17 === 0
    val trainInv = docs.filter(!isBench)
      .select($"doc_id".as("train_id"), explode($"sh").as("s"))
    val benchInv = docs.filter(isBench)
      .select($"doc_id".as("bench_id"), $"nsh".as("nshb"), explode($"sh").as("s"))
    trainInv.join(broadcast(benchInv), "s")
      .groupBy($"train_id", $"bench_id", $"nshb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", $"inter" * 1.0 / $"nshb")
      .filter($"containment" >= ContaminationThreshold)
      .select($"train_id", $"bench_id", $"containment")
      .orderBy($"train_id", $"bench_id")
  }

  val decontaminateSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), s AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(w) - 1, 1)),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
       |  FROM d
       |)
       |SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
       |  len(list_intersect(a.sh, b.sh)) * 1.0 / len(b.sh) AS containment
       |FROM s a JOIN s b ON a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
       |WHERE len(b.sh) > 0
       |  AND len(list_intersect(a.sh, b.sh)) * 1.0 / len(b.sh)
       |      >= $ContaminationThreshold
       |ORDER BY train_id, bench_id""".stripMargin

  // ---------------------------------------- x27 bloom decontamination

  /** x27 sketch budget: sized a priori, independent of the blocklist —
    * 100k expected items × 10 bits/item gives false-positive rate
    * ≈ 0.9% at full load (optimal k ≈ 7 hashes; far lower at fixture
    * load), inside the spec's per-doc 2%+1 inflation budget with margin
    * (8 bits/item would sit at ~2.2%, the budget's edge). The sketch is
    * ~125 KB however many shingles the benchmark suite accumulates. */
  val BloomExpectedItems = 100000L
  val BloomNumBits = 1000000L

  /** x27 — BLOOM-FILTER decontamination, the constant-size sibling of
    * x19: flag a training doc when ≥ [[ContaminationThreshold]] of its
    * own distinct shingles appear in the benchmark shingle universe.
    * x19 broadcasts the benchmark inverted index — O(benchmark
    * shingles) per executor, fine for a benchmark suite, impossible for
    * a "never train on anything we have ever evaluated" blocklist of
    * billions of shingles. The Bloom sketch is O(bits), fixed a priori;
    * membership has ONE-SIDED error (no false negatives — a
    * contaminated shingle can never slip through; false positives only
    * over-flag, the safe direction for decontamination).
    *
    * Plan shape: one aggregation over the benchmark slice builds the
    * sketch (Spark's own BloomFilterAggregate — the runtime bloom-join
    * machinery, surfaced as a callable function in CustomExprs); the
    * probe ships it as a plan literal (like the NLP dictionary) and
    * counts hits per doc with a higher-order `filter` over the shingle
    * array — MAP-ONLY, no explode, no join, no shuffle but the final
    * ordering. Sketch bit layout is engine-specific → rows-only driver
    * check; DedupSimilaritySpec gates flagged ⊇ exact-flagged (the
    * no-false-negative claim) and per-doc hit inflation against an
    * exact set-membership recomputation. */
  /** The Bloom blocklist: a binary sketch over a documents frame's
    * shingles (Spark sketch wire format, so it round-trips through
    * `org.apache.spark.util.sketch.BloomFilter.readFrom` and merges by
    * bitwise OR — insertion is idempotent and commutative, hence the
    * serialized sketch is byte-identical however the inserts are
    * batched or ordered; the streaming sibling's equivalence gate rests
    * on exactly that). Null (no rows) never happens on a non-empty
    * frame; callers streaming possibly-empty micro-batches guard it. */
  private[graft] def bloomSketchOf(docs: DataFrame): Array[Byte] =
    bloomSketchOfShingles(
      docs.withColumn("w", split(col("text"), " ")) // shinglesOfWords PERF note
        .select(col("doc_id"), shinglesOfWords(col("w")).as("sh")))

  /** Sketch form over an already-shingled (doc_id, sh) frame — lets the
    * batch path feed the memoized shingle table instead of re-splitting
    * the benchmark slice's raw text; byte-identical to the raw-text
    * form (insertion into the sketch is order/batching-independent). */
  private[graft] def bloomSketchOfShingles(sh: DataFrame): Array[Byte] = {
    val spark = sh.sparkSession
    graft.functions.CustomExprs.register(spark)
    sh.select(explode(col("sh")).as("s"))
      .agg(expr(s"bloom_agg(xxhash64(s), ${BloomExpectedItems}L, ${BloomNumBits}L)"))
      .head.getAs[Array[Byte]](0)
  }

  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val docs = shingled(spark, sfDir)
    val isBench = $"doc_id" % 17 === 0
    val sketch: Array[Byte] = bloomSketchOfShingles(docs.filter(isBench))
    val nHits = size(filter($"sh", s =>
      call_function("might_contain", lit(sketch), xxhash64(s)))).cast("long")
    docs.filter(!isBench)
      .select($"doc_id".as("train_id"), $"nsh".cast("long").as("n_shingles"),
        nHits.as("n_hits"))
      .filter($"n_hits" * 1.0 / $"n_shingles" >= ContaminationThreshold)
      .orderBy($"train_id")
  }

  // ------------------------------------------ x47 span decontamination

  /** Exact-overlap window for x47 — 13 tokens, the GPT-3 report's
    * decontamination n-gram (Brown et al. 2020, appendix C). */
  val SpanNgramWidth = 13

  /** x47 — exact n-gram SPAN decontamination: report every (train doc,
    * benchmark doc) pair sharing a verbatim 13-token span, with the
    * span count and the first token position in the training doc — the
    * audit artifact exact-match decontamination produces (x19 is the
    * coarse jaccard-containment FLAG; this is the span-level evidence).
    *
    * Shape: per-doc distinct (ngram, min pos) — two aggregations — then
    * an equi join keyed on the ngram string (1:1 per doc pair and
    * ngram after the distinct), then the pair aggregation. At 100 TB
    * the benchmark side is tiny and broadcasts (as x19's inverted index
    * does); joining on a 64-bit ngram hash instead of the string would
    * shrink shuffle bytes but admit hash-collision false pairs, so the
    * exact string stays the key here. All-integer output. */
  /** Per-doc distinct 13-token spans with first position — the shared
    * frame x47 (cross-slice decontamination) and x60 (within-corpus
    * repeated-span audit) both hang off. The words array MUST be a
    * projected column, never the split expression inlined into the
    * lambda — an inlined split re-executes once per lambda element in
    * interpreted HOF eval, turning the gram pass O(words²) per doc
    * (the measured x42 lesson, 12.9 s vs 0.5 s). */
  private[graft] def spanPerDoc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // same gram construction as x70/x76 and the streaming span index —
    // one definition ([[gramsOf]]) so a width/boundary change cannot
    // diverge the decontamination audit from the rewrite
    gramsOf(Tables.spread(Tables.documents(spark, sfDir))
        .withColumn("w", split($"text", " ")))
      .groupBy($"doc_id", $"ng")
      .agg(min($"pos").as("pos"))
  }

  def spanDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perDoc = spanPerDoc(spark, sfDir)
    val bench = perDoc.filter($"doc_id" % 17 === 0)
      .select($"doc_id".as("bench_id"), $"ng")
    val train = perDoc.filter($"doc_id" % 17 =!= 0)
      .select($"doc_id".as("train_id"), $"ng", $"pos")
    train.join(broadcast(bench), "ng")
      .groupBy($"train_id", $"bench_id")
      .agg(count(lit(1)).as("n_shared_ngrams"),
        min($"pos").as("first_train_pos"))
      .orderBy($"train_id", $"bench_id")
  }

  val spanDecontaminateSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    array_to_string(w[i:i+${SpanNgramWidth - 1}], ' ') AS ng
       |  FROM d, unnest(range(1, len(w) - ${SpanNgramWidth - 2})) t(i)
       |  WHERE len(w) >= $SpanNgramWidth
       |), per_doc AS (
       |  SELECT doc_id, ng, MIN(pos) AS pos FROM g GROUP BY doc_id, ng
       |)
       |SELECT tr.doc_id AS train_id, b.doc_id AS bench_id,
       |  COUNT(*) AS n_shared_ngrams, MIN(tr.pos) AS first_train_pos
       |FROM per_doc tr JOIN per_doc b USING (ng)
       |WHERE tr.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
       |GROUP BY train_id, bench_id ORDER BY train_id, bench_id""".stripMargin

  /** x60 — REPEATED-SPAN audit: the most-duplicated verbatim 13-token
    * spans across the whole corpus with the number of distinct docs
    * carrying each — the memorization-risk report of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): verbatim text repeated across many training
    * docs is what models regurgitate, and this table is what you read
    * before choosing a dedup threshold. x44 answers it at line
    * granularity; this is the fixed-width token-span form that catches
    * repeats crossing line boundaries.
    *
    * Shape: the shared per-doc distinct span frame (one explode + one
    * two-key aggregation), a global count per span (second shuffle),
    * then top-k = TakeOrderedAndProject — per-partition heaps, k rows
    * to the driver, never a full sort. Span membership is per-doc
    * DISTINCT, so a doc repeating a span internally counts once —
    * n_docs is cross-doc duplication, the signal that matters. */
  def repeatedSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spanPerDoc(spark, sfDir)
      .groupBy($"ng".as("span"))
      .agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2)
      .orderBy($"n_docs".desc, $"span".asc)
      .limit(50)
  }

  val repeatedSpansSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), g AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(w[i:i+${SpanNgramWidth - 1}], ' ') AS span
       |  FROM d, unnest(range(1, len(w) - ${SpanNgramWidth - 2})) t(i)
       |  WHERE len(w) >= $SpanNgramWidth
       |)
       |SELECT span, COUNT(*) AS n_docs FROM g
       |GROUP BY span HAVING COUNT(*) >= 2
       |ORDER BY n_docs DESC, span ASC LIMIT 50""".stripMargin

  /** Occurrence key packing (doc_id, pos) into one orderable BIGINT so
    * "globally first occurrence" is a plain MIN. pos < 10⁹ always (a
    * doc with 10⁹ tokens is not a document); doc_id < 9.2×10⁹ at the
    * packing limit — ~10⁹ docs per corpus version, comfortably above a
    * 100 TB crawl's doc count (≈10⁸ at 1 MB/doc). */
  private def occKey(docId: Column, pos: Column): Column =
    docId * lit(1000000000L) + pos

  /** x70 — exact-substring DEDUP REWRITE, the span-level complement of
    * doc-level dedup (Lee et al. 2022, arXiv:2107.06499 "ExactSubstr":
    * duplicated passages inside otherwise-distinct documents drive
    * memorization, and doc-granularity dedup never sees them). x60
    * AUDITS the repeated spans; this op REMOVES them: every
    * [[SpanNgramWidth]]-token span occurring in ≥2 distinct documents
    * is cut from every position except the globally first (min
    * (doc_id, pos) — the keep-one rule, so each passage still trains
    * exactly once), and each document is reassembled from its
    * surviving tokens. A token survives iff NO flagged span occurrence
    * covers it, so overlapping flagged spans union naturally.
    *
    * Shape, and why it scales: (1) one gram explode — shuffle ∝ corpus
    * token positions (the 13× string inflation is the price of the
    * relational form; Lee et al.'s suffix array is the single-machine
    * alternative that does not distribute); (2) the frequent-span dim
    * is grouped from the same frame (map-side combinable) and joined
    * back BY THE EXACT SPAN STRING — a 64-bit gram hash would shrink
    * shuffle bytes but admit collision false-cuts, x47's reasoning;
    * AQE broadcasts the dim when small, shuffle-joins beyond (dup-span
    * dims grow with the corpus — the x28 lesson, so no unconditional
    * hint); (3) flagged starts collapse to one sorted array per doc
    * (bounded by doc length), and the rewrite is a per-row map: an
    * index-aware `filter` HOF probing the flagged-start array — cost
    * O(len × flags) per doc, no second corpus shuffle. Docs with no
    * flagged span keep `clean_text == text` via the left join. */
  def substringDedupRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    substringRewriteCore(spark,
      Tables.spread(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text")))
      .orderBy($"doc_id")
  }

  /** All span occurrences (doc_id, pos, ng) of a frame carrying a
    * PROJECTED words-array column `w` — shared by the batch rewrite and
    * the streaming span index. */
  private[graft] def gramsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = SpanNgramWidth
    val grams = when(size($"w") < n,
        array().cast("array<struct<pos:int,ng:string>>"))
      .otherwise(transform(sequence(lit(1), size($"w") - (n - 1)),
        i => struct(i.cast("int").as("pos"),
          concat_ws(" ", slice($"w", i, lit(n))).as("ng"))))
    docs.select($"doc_id", explode(grams).as("e"))
      .select($"doc_id", $"e.pos".as("pos"), $"e.ng".as("ng"))
  }

  /** The rewrite projection shared by batch x70 and the streaming
    * sibling: reassemble each doc of `docs` (with projected `w`) from
    * the tokens no flagged start covers. `flagged` is (doc_id, fs) with
    * fs a sorted int array of cut span starts (1-based). */
  private[graft] def rewriteFromFlags(docs: DataFrame,
      flagged: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = SpanNgramWidth
    val fsCol = coalesce($"fs", array().cast("array<int>"))
    val kept = filter($"w", (_, i) =>
      !exists(fsCol, s => s <= i + 1 && i + 1 < s + n))
    docs.join(flagged, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"w").cast("long").as("n_words"),
        coalesce(size($"fs"), lit(0)).cast("long").as("n_dup_occurrences"),
        (size($"w") - size(kept)).cast("long").as("n_removed"),
        concat_ws(" ", kept).as("clean_text"))
  }

  /** Core over any (doc_id, text) frame — spec entry for planted
    * corpora and the x75 composition stage. UNORDERED: the public op
    * adds the oracle-determinism sort, so composing pipelines don't
    * pay a useless mid-plan SortExec. */
  private[graft] def substringRewriteCore(spark: SparkSession,
      docs0: DataFrame): DataFrame = {
    import spark.implicits._
    val docs = docs0.withColumn("w", split($"text", " "))
    val g = gramsOf(docs)
    val freq = g.groupBy($"ng")
      .agg(countDistinct($"doc_id").as("nd"),
        min(occKey($"doc_id", $"pos")).as("first_key"))
      .filter($"nd" >= 2)
      .select($"ng", $"first_key")
    val flagged = g.join(freq, "ng")
      .filter(occKey($"doc_id", $"pos") =!= $"first_key")
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"pos")).as("fs"))
    rewriteFromFlags(docs, flagged)
  }

  /** [[occKey]] for callers outside this file (the streaming sibling
    * must rank within-batch occurrences identically). */
  private[graft] def occKeyOf(docId: Column, pos: Column): Column =
    occKey(docId, pos)

  /** x76 — DECONTAMINATION REWRITE, the surgical form of x19/x47:
    * instead of dropping a contaminated training document wholesale
    * (x19's flag) or merely reporting the shared spans (x47's audit),
    * cut every verbatim [[SpanNgramWidth]]-token benchmark span OUT of
    * the training text and keep the rest — the remove-the-leak-keep-
    * the-document policy, which preserves training mass that doc-level
    * decontamination throws away (a 2000-word doc quoting one
    * benchmark sentence loses 13 tokens, not 2000). Coverage unions
    * overlapping benchmark spans exactly as x70's rewrite does; a doc
    * that is pure benchmark text rewrites to empty rather than
    * surviving dedup by its unshared tokens.
    *
    * Shape: bench per-doc distinct spans (tiny slice → broadcast-able
    * dim, x47's reasoning) semi-joined against ALL train gram
    * positions (shuffle ∝ train token positions, the x70 price), then
    * the shared flagged-starts rewrite — no second corpus shuffle. */
  def decontaminateRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.spread(Tables.documents(spark, sfDir))
      .select($"doc_id", $"text")
    decontaminateRewriteCore(
      all.filter($"doc_id" % 17 =!= 0),
      all.filter($"doc_id" % 17 === 0)).orderBy($"doc_id")
  }

  /** Core over any (train, bench) doc frames — spec entry. */
  private[graft] def decontaminateRewriteCore(train0: DataFrame,
      bench0: DataFrame): DataFrame = {
    val spark = train0.sparkSession
    import spark.implicits._
    val train = train0.withColumn("w", split($"text", " "))
    val benchSpans = gramsOf(bench0.withColumn("w", split($"text", " ")))
      .select($"ng").distinct()
    val flagged = gramsOf(train)
      .join(broadcast(benchSpans), Seq("ng"), "left_semi")
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"pos")).as("fs"))
    rewriteFromFlags(train, flagged)
      .select($"doc_id", $"n_words",
        $"n_dup_occurrences".as("n_contam_occurrences"),
        $"n_removed", $"clean_text")
  }

  /** Oracle: x47's bench/train split + x70's coverage-join rewrite,
    * with the flag set being every train position of a bench span. */
  val decontaminateRewriteSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    array_to_string(w[i:i+${SpanNgramWidth - 1}], ' ') AS ng
       |  FROM d, unnest(range(1, len(w) - ${SpanNgramWidth - 2})) t(i)
       |  WHERE len(w) >= $SpanNgramWidth
       |), bs AS (
       |  SELECT DISTINCT ng FROM g WHERE doc_id % 17 = 0
       |), fl AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN bs USING (ng)
       |  WHERE g.doc_id % 17 <> 0
       |), toks AS (
       |  SELECT doc_id, CAST(j AS INT) AS j, w[CAST(j AS INT)] AS tok
       |  FROM d, unnest(range(1, len(w) + 1)) t(j)
       |  WHERE doc_id % 17 <> 0
       |), cov AS (
       |  SELECT t.doc_id, t.j, t.tok, COUNT(f.pos) AS ncov
       |  FROM toks t LEFT JOIN fl f
       |    ON f.doc_id = t.doc_id AND f.pos <= t.j
       |       AND t.j < f.pos + $SpanNgramWidth
       |  GROUP BY t.doc_id, t.j, t.tok
       |), agg AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN ncov = 0 THEN 0 ELSE 1 END) AS n_removed,
       |    COALESCE(string_agg(CASE WHEN ncov = 0 THEN tok END,
       |                        ' ' ORDER BY j), '') AS clean_text
       |  FROM cov GROUP BY doc_id
       |), flc AS (
       |  SELECT doc_id, COUNT(*) AS n_flagged FROM fl GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_words,
       |  CAST(COALESCE(flc.n_flagged, 0) AS BIGINT) AS n_contam_occurrences,
       |  CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM d LEFT JOIN flc ON d.doc_id = flc.doc_id
       |       LEFT JOIN agg a ON d.doc_id = a.doc_id
       |WHERE d.doc_id % 17 <> 0
       |ORDER BY d.doc_id""".stripMargin

  /** Oracle: identical keep-first semantics, with the per-token
    * coverage test as a range LEFT JOIN (position j covered by flagged
    * start s iff s ≤ j < s+13) instead of the HOF — an independent
    * formulation of the same rewrite. */
  val substringDedupRewriteSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    array_to_string(w[i:i+${SpanNgramWidth - 1}], ' ') AS ng
       |  FROM d, unnest(range(1, len(w) - ${SpanNgramWidth - 2})) t(i)
       |  WHERE len(w) >= $SpanNgramWidth
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
       |    ON f.doc_id = t.doc_id AND f.pos <= t.j
       |       AND t.j < f.pos + $SpanNgramWidth
       |  GROUP BY t.doc_id, t.j, t.tok
       |), agg AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN ncov = 0 THEN 0 ELSE 1 END) AS n_removed,
       |    COALESCE(string_agg(CASE WHEN ncov = 0 THEN tok END,
       |                        ' ' ORDER BY j), '') AS clean_text
       |  FROM cov GROUP BY doc_id
       |), flc AS (
       |  SELECT doc_id, COUNT(*) AS n_flagged FROM fl GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_words,
       |  CAST(COALESCE(flc.n_flagged, 0) AS BIGINT) AS n_dup_occurrences,
       |  CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM d LEFT JOIN flc ON d.doc_id = flc.doc_id
       |       LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
}
