package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  /** The canonical exact-Jaccard pair set, collected ONCE — six tests
    * compare against it, and each independent recompute re-ran the full
    * shingle-explode self-join. */
  private lazy val exactPairSet: Set[(Long, Long)] =
    Dedup.jaccardPairs(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("MinHash-LSH verified pairs equal exact Jaccard pairs") {
    val lsh = Dedup.minhashLshPairs(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exactPairSet)
    assert(exactPairSet.nonEmpty) // fixture plants near-dup pairs
  }

  test("x13 shingle df-cap leaves the fixture pair set unchanged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", Dedup.shingles($"text").as("sh"))
      .withColumn("nsh", size($"sh"))
      .persist()
    try {
      def pairs(cap: Long) = Dedup.jaccardPairsOf(docs, cap)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nDocs = docs.count()
      val cap = math.max(Dedup.ShingleDfCapFloor,
        math.ceil(Dedup.ShingleDfCapFraction * nDocs).toLong)
      // the guard must actually bite on the fixture for this test to mean
      // anything: some shingle's document frequency exceeds the cap
      val maxDf = docs.select(explode($"sh").as("s"))
        .groupBy($"s").count().agg(max($"count")).collect()(0).getLong(0)
      assert(maxDf > cap, s"fixture maxDf=$maxDf cap=$cap — cap never bites")
      assert(pairs(cap) == pairs(Long.MaxValue))
      assert(pairs(cap).nonEmpty)
    } finally docs.unpersist()
  }

  test("x16's curated-subset cap path matches the uncapped join too") {
    // corpusCuration runs jaccardPairsOf over the quality-filtered subset
    // with a cap derived from the SUBSET size — gate that shipped path
    // directly, not just the full-fixture x13 path
    val sh = Dedup.curationShingled(spark, sf)
    def pairs(cap: Long) = Dedup.jaccardPairsOf(sh, cap)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(-1L) == pairs(Long.MaxValue))
    // empty == empty would pass vacuously — the curated subset must
    // actually retain planted near-dup pairs for this gate to mean
    // anything (Dedup.jaccardPairsOf cites this spec as its proof)
    assert(pairs(-1L).nonEmpty, "curated subset produced zero pairs")
  }

  test("x17 clusters: pair endpoints co-clustered, id is the member min") {
    val clusters = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = exactPairSet.toSeq
    assert(pairs.nonEmpty)
    // every verified near-dup pair lands in one cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split")
    }
    // the cluster id is the minimum member id, size matches membership
    clusters.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
      assert(members.values.forall(_._2 == members.size))
    }
  }

  test("x18 incremental pairs == full pair set restricted to inc×hist") {
    val full = exactPairSet.toSeq
    // the incremental probe must find exactly the cross-subset slice of
    // the full pair universe — nothing extra, nothing lost at the split
    val expected = full.filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }.toSet
    val got = Dedup.incrementalDedup(spark, sf)
      .select("inc_id", "hist_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture must plant cross-subset dups")
  }

  test("x19 catches every cross-slice pair whose jaccard implies containment") {
    val j = Dedup.jaccardPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // containment = inter/|S_bench| >= inter/|union| = jaccard, so any
    // J >= 0.5 pair with exactly one benchmark endpoint must be flagged
    val implied = j.filter { case (a, b, jac) =>
      jac >= Dedup.ContaminationThreshold && ((a % 17 == 0) != (b % 17 == 0))
    }.map { case (a, b, _) => if (a % 17 == 0) (b, a) else (a, b) }.toSet
    val got = Dedup.decontaminate(spark, sf)
      .select("train_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(implied.subsetOf(got),
      s"missing contaminated pairs: ${implied -- got}")
    got.foreach { case (t, b) =>
      assert(t % 17 != 0 && b % 17 == 0, s"($t,$b) crosses the wrong way")
    }
  }

  test("x27 bloom decontamination: superset of exact, bounded over-count") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val thr = Dedup.ContaminationThreshold
    // exact recomputation of the SAME statistic with a real set
    val sh = Tables.documents(spark, sf)
      .select($"doc_id", Dedup.shingles($"text").as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    val benchUniverse = sh.filter(_._1 % 17 == 0).flatMap(_._2).toSet
    val exact = sh.filter(_._1 % 17 != 0).map { case (id, s) =>
      (id, s.size, s.count(benchUniverse.contains))
    }
    val exactFlagged = exact.filter { case (_, n, h) => h * 1.0 / n >= thr }
      .map(_._1).toSet
    assert(exactFlagged.nonEmpty,
      "fixture must plant cross-slice near-dups that trip the threshold")
    val got = Dedup.bloomDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one-sided error: nothing exact-flagged may escape the sketch
    assert(exactFlagged.subsetOf(got.map(_._1).toSet),
      s"bloom MISSED contaminated docs: ${exactFlagged -- got.map(_._1).toSet}")
    // false positives only inflate hit counts, and only within the
    // configured fpp budget (~1% at full load; generous 2% + 1 slack)
    val exactHits = exact.map(t => t._1 -> t._3).toMap
    got.foreach { case (id, n, hits) =>
      val eh = exactHits(id)
      assert(hits >= eh, s"doc $id bloom hits $hits < exact $eh")
      assert(hits - eh <= 1 + 0.02 * n, s"doc $id inflation ${hits - eh}/$n")
    }
    info(s"x27: ${got.length} flagged (exact ${exactFlagged.size}); " +
      s"extra-flagged ${got.map(_._1).toSet.size - exactFlagged.size}")
  }

  test("x47 span pairs carry a real verbatim 13-token span at the position") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pairs = graft.ops.Dedup.spanDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(pairs.nonEmpty, "fixture must plant cross-slice verbatim spans")
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val n = graft.ops.Dedup.SpanNgramWidth
    pairs.foreach { case (tid, bid, shared, pos) =>
      assert(tid % 17 != 0 && bid % 17 == 0, s"($tid,$bid) wrong slices")
      assert(shared >= 1)
      // the reported first position really starts a span that appears
      // verbatim in the benchmark doc — an independent string check
      val span = texts(tid).slice(pos - 1, pos - 1 + n).mkString(" ")
      assert(span.split(" ").length == n, s"span at $pos too short in $tid")
      assert(texts(bid).sliding(n).map(_.mkString(" ")).contains(span),
        s"span of ($tid,$bid) at pos=$pos not found verbatim in $bid")
    }
  }

  test("x28/x59 CC-label broadcast guard: both join regimes identical") {
    // the label dim grows with corpus dup count (30-50% of a web crawl),
    // so the public entries gate the broadcast hint on the memoized label
    // count with a shuffle-join fallback — same discipline as x56. The
    // two paths must be output-identical, and only the broadcast path
    // may carry a forced hint (AQE may still choose a BHJ for the
    // fallback at fixture scale — its call, not a forced one). Hints are
    // read with the memoized label and LSH frames collapsed to their
    // cached relations: x11's gated band self-join sits in their lineage.
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    for ((name, via) <- Seq(
        ("x28", (b: Boolean) => Broadcasts.forcing(b)(Dedup.softDedup(spark, sf))),
        ("x59", (b: Boolean) => Broadcasts.forcing(b)(Dedup.dedupKeepBest(spark, sf))))) {
      val bc = via(true)
      val sj = via(false)
      assert(bc.schema == sj.schema, s"$name schema drift across join paths")
      val a = bc.collect().map(_.toSeq).toSeq
      val b = sj.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"$name join-path divergence")
      assert(hinted(bc), s"$name broadcast path lost its hint")
      assert(!hinted(sj), s"$name fallback path still forces a broadcast hint")
    }
    // the fixture's label dim is far below the budget, so the public
    // entries must resolve to the broadcast regime here
    assert(hinted(Dedup.softDedup(spark, sf)) && hinted(Dedup.dedupKeepBest(spark, sf)))
  }

  test("exact dedup groups cover all docs") {
    val agg = Dedup.exactDedup(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_copies")).collect()(0).getLong(0)
    assert(agg == Tables.documents(spark, sf).count())
  }

  test("simhash expression signatures equal the relational formulation") {
    val a = Dedup.simhashSigs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.simhashSigsViaAgg(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("simhash near-dup pairs include the planted near-dups") {
    val sim = Dedup.simhashPairs(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactPairSet
    // 0.98-Jaccard near-dups have near-identical word multisets → tiny
    // hamming distance; simhash must catch a large majority
    val caught = exact.count(sim.contains).toDouble / exact.size
    assert(caught >= 0.8, s"simhash caught only $caught of planted pairs")
  }

  test("ANN sketch-rescore recall@5 vs brute force") {
    val bf = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ann.contains).toDouble / bf.size
    // full-precision scan fraction is 1/3 by construction (ntile(3));
    // the sketch pass touches only the 32-dim projection table
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("x25 PQ-ADC recall@5 vs brute force; code table is 16 codes of 16") {
    val bf = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(pq.contains).toDouble / bf.size
    info(f"PQ recall@5=$recall%.3f (16-byte codes, top-1/3 rescore)")
    assert(recall >= 0.8, s"recall=$recall")
    // the compressed index really is m codes in [0, k): the 16-byte
    // first-pass scan claim depends on it
    val codes = Similarity.pqIndex(spark, sf).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val cs = r.getSeq[Byte](1)
      assert(cs.length == Similarity.PqSubspaces)
      cs.foreach(c => assert(c >= 0 && c < Similarity.PqCodes, s"code $c"))
    }
  }

  test("x23 SemDeDup keeps exactly the vectors with no lower-id neighbor") {
    val pairs = Similarity.cosineNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must plant near-dup pairs")
    // pairs are canonical (id_a < id_b): a vector has a lower-id
    // neighbor iff it appears as id_b
    val dropped = pairs.map(_._2).toSet
    val all = Tables.spread(Tables.embeddings(spark, sf))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Similarity.semanticDedup(spark, sf)
      .select("vec_id").collect().map(_.getLong(0))
    assert(got.sorted.sameElements(got), "output ordered by vec_id")
    assert(got.toSet == all -- dropped)
    assert(got.toSet.contains(all.min), "global min id is always kept")
    // survivors ∪ dropped partition the corpus
    assert(got.size + dropped.size == all.size)
  }

  test("x61 prototypicality: planted outliers dropped, per-cell keep counts exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // TIGHT clustered corpus (0.1 jitter — cos-to-centroid ≈ 0.93) +
    // pure-noise outliers (best-cell cosine ≈ 0.5 in 16 dims): an
    // outlier lands in SOME Voronoi cell but far below the members'
    // cosine band, so it must rank at the cell's bottom and be pruned.
    // clusteredCorpusOf's 0.35 jitter is deliberately NOT used here —
    // at that spread members are nearly as diffuse as noise and no
    // density method can (or should) separate them.
    val rnd = new scala.util.Random(23)
    val dim = 16; val kTrue = 32
    def unit(v: Array[Double]) = {
      val m = math.sqrt(v.map(x => x * x).sum); v.map(_ / m)
    }
    val trueCents = Array.fill(kTrue)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val members = (0 until 4096).map { i =>
      val c = trueCents(i % kTrue)
      val g = Array.fill(dim)(rnd.nextGaussian())
      (i.toLong, unit(c.zip(g).map { case (a, x) => a + 0.1 * x }))
    }.toDF("vec_id", "v").withColumn("nrm", lit(1.0))
    val outliers = (0 until 64).map { i =>
      (100000L + i, unit(Array.fill(dim)(rnd.nextGaussian())))
    }.toDF("vec_id", "v").withColumn("nrm", lit(1.0))
    val all = members.union(outliers).persist()
    val cents = Similarity.ivfCentroidsOf(all)
    val cells = all.withColumn("cell", Similarity.cellOf($"v", cents))
    val kept = Similarity.prototypicalityOf(cells, cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val keptIds = kept.map(_._1).toSet
    // per-cell counts: exactly ceil(0.8 * n_cell) survivors
    val cellSizes = cells.groupBy($"cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val keptPerCell = kept.groupBy(_._2).view.mapValues(_.length).toMap
    cellSizes.foreach { case (c, n) =>
      assert(keptPerCell.getOrElse(c, 0) == math.ceil(n * 0.8).toLong,
        s"cell $c kept ${keptPerCell.getOrElse(c, 0)} of $n")
    }
    // the noise vectors overwhelmingly rank below the tight members
    val outlierIds = outliers.collect().map(_.getLong(0)).toSet
    val keptOutliers = keptIds.intersect(outlierIds)
    assert(keptOutliers.size <= outlierIds.size / 4,
      s"${keptOutliers.size} of ${outlierIds.size} planted outliers survived pruning")
    all.unpersist()
  }

  test("x60 repeated spans: top-k plan shape, ordering, distinct-doc counts") {
    val df = Dedup.repeatedSpans(spark, sf)
    // top-k must be per-partition heaps + driver merge, never a global sort
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "x60 lost its top-k plan")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty, "fixture plants cross-doc duplicate spans")
    assert(rows.forall(_._2 >= 2))
    val counts = rows.map(_._2)
    assert(counts.zip(counts.drop(1)).forall { case (a, b) => a >= b })
    // distinct-doc membership: recount the top span from the raw frame
    val (topSpan, topCount) = rows.head
    import spark.implicits._
    val recount = Dedup.spanPerDoc(spark, sf)
      .filter($"ng" === topSpan).select($"doc_id").distinct().count()
    assert(recount == topCount, s"span membership drifted: $recount vs $topCount")
  }

  test("x29 one-per-component: exactly the component minima survive") {
    val pairs = Similarity.cosineNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // driver-side closure on the collected fixture pair graph
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    def component(seed: Long): Set[Long] = {
      var seen = Set(seed); var frontier = Set(seed)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    val inGraph = adj.keySet
    val minima = inGraph.filter(id => component(id).min == id)
    val all = Tables.spread(Tables.embeddings(spark, sf))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Similarity.semanticDedupCC(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == (all -- inGraph) ++ minima,
      "survivors must be singletons + one min-id exemplar per component")
    // and x29 ⊆ x23: closing chains can only drop MORE than the
    // no-lower-id-neighbor policy, never resurrect a dropped vector
    val x23 = Similarity.semanticDedup(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(x23))
  }

  test("x29 vs x23 on a transitive chain: the chain collapses to one") {
    import spark.implicits._
    // 2~3, 1~3, 1!~2 — the chain whose MIDDLE holds the component min:
    // x23's pairwise policy keeps 2 (its only neighbor, 3, is higher)
    // as well as 1, i.e. TWO vectors of one duplicate component;
    // component semantics keep exactly {1}. Proven on the composable CC
    // engine the query runs (the sf corpus need not contain such a
    // chain at τ).
    val pairs = Seq((2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val (labels, _) = Dedup.ccStars(pairs)
    try {
      val survivors = labels.collect()
        .collect { case r if r.getLong(0) == r.getLong(1) => r.getLong(0) }
      assert(survivors.toSeq == Seq(1L), "one exemplar per chain component")
      // x23's policy on the same graph: drop every id appearing as the
      // canonical pair's id_b (the has-a-lower-neighbor side) → keeps 2
      val pairwiseKept = Set(1L, 2L, 3L) -- Set(3L, 3L)
      assert(pairwiseKept == Set(1L, 2L), "x23 keeps two of the component")
    } finally labels.unpersist()
  }

  /** Planted fixture for x24's production regime: well-separated
    * clusters whose members sit at cos ≈ 0.2 from each other (far below
    * τ = 0.8), plus planted near-copies at cos ≈ 0.99 — so the ONLY
    * high-τ pairs are the planted (source, copy) ones. Deterministic
    * seed. Returns the corpus and the planted pair set. */
  private lazy val (semCorpus, plantedHighTau) = {
    import spark.implicits._
    val k = 8; val per = 100; val dim = 32; val nDups = 80
    val rnd = new scala.util.Random(23)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val cents = Array.fill(k)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val base = (0 until k * per).map { i =>
      val g = Array.fill(dim)(rnd.nextGaussian())
      (i.toLong, unit(cents(i % k).zip(g).map { case (a, x) => a + 0.35 * x }))
    }
    val dups = (0 until nDups).map { j =>
      val (srcId, srcV) = base(j * (k * per / nDups))
      val g = Array.fill(dim)(rnd.nextGaussian())
      ((k * per + j).toLong, unit(srcV.zip(g).map { case (a, x) => a + 0.02 * x }),
        srcId)
    }
    val df = (base ++ dups.map(d => (d._1, d._2))).toDF("vec_id", "v")
      .withColumn("nrm", org.apache.spark.sql.functions.lit(1.0))
      .persist()
    (df, dups.map(d => (d._3, d._1)).toSet)
  }

  test("x24 celled SemDeDup ≡ exact at τ=0.8; candidate pairs < 20% of all pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.CustomExprs.register(spark)
    val tau = Similarity.SemDedupTauHigh
    val exactPairs = Similarity.cosineNearDupPairsOf(semCorpus, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the fixture plants pairs the threshold must catch — all of them
    assert(plantedHighTau.subsetOf(exactPairs),
      s"planted pairs missing from exact: ${plantedHighTau -- exactPairs}")
    // k = 32 on 880 vectors: cells of ~28, candidate volume p²/k ≈ 1/8
    // of all pairs (at deployment k ∝ n keeps cell size constant)
    val cells = Similarity.multiCellAssign(semCorpus,
        Similarity.ivfCentroidsOf(semCorpus, k = 32),
        Similarity.SemDedupAssignProbes)
      .persist()
    try {
      // top-2-cell candidates find the SAME pair set (at τ = 0.8 a
      // qualifying pair is near-colinear; single assignment measurably
      // loses boundary pairs — 7/80 here — multi-probe must not)
      val celledPairs = Similarity.cellNearDupPairsOf(cells, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(celledPairs == exactPairs,
        s"celled missed: ${exactPairs -- celledPairs}; extra: ${celledPairs -- exactPairs}")
      // survivor set ≡ the exact policy's (keep-no-lower-id)
      val all = semCorpus.select("vec_id").collect().map(_.getLong(0)).toSet
      val got = Similarity.semanticDedupCelledOf(cells, tau)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got == all -- exactPairs.map(_._2))
      // sub-quadratic gate (the x22 <20% pattern): pairs sharing a cell
      // vs all n·(n−1)/2 — the work the celled generator actually does
      val n = all.size.toLong
      val cand = cells.groupBy($"cell").count()
        .collect().map(r => { val c = r.getLong(1); c * (c - 1) / 2 }).sum
      val frac = cand.toDouble / (n * (n - 1) / 2)
      assert(frac < 0.20, s"candidate-pairs fraction $frac — cells not pruning")
      info(f"x24: ${exactPairs.size} pairs, candidate fraction $frac%.3f")
    } finally cells.unpersist()
  }

  test("ivfCellCount: floor and uncapped linear regime") {
    import Similarity.{IvfMinCells, IvfTargetCellRows, IvfMaxLiteralCells}
    // floor: small corpora keep the minimum quantizer
    assert(Similarity.ivfCellCount(1) == IvfMinCells)
    assert(Similarity.ivfCellCount(IvfMinCells * IvfTargetCellRows) == IvfMinCells)
    // linear regime: k tracks ⌈n / target⌉ so E[cell size] stays ≈ target
    assert(Similarity.ivfCellCount(64L * IvfTargetCellRows) == 64)
    assert(Similarity.ivfCellCount(64L * IvfTargetCellRows + 1) == 65)
    // NO ceiling: past the literal-representation bound the centroid
    // table becomes a broadcast-join dimension, so k keeps tracking n
    // (the sublinear-probe property must not quietly degrade at scale)
    assert(Similarity.ivfCellCount(100L * 1000 * 1000) == 390625)
    assert(390625 > IvfMaxLiteralCells)
  }

  test("IVF centroid regimes: broadcast-dim join ≡ literal expressions") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // same dot arithmetic, same tiebreaks — assignment, multi-probe and
    // x61 scoring must be output-IDENTICAL across the two centroid
    // representations (the join regime is what runs beyond 256 cells)
    val cents = Similarity.ivfCentroidsOf(clusteredCorpus, k = 20)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val aLit = Similarity.assignCellsVia(clusteredCorpus, cents, literal = true)
    val aJoin = Similarity.assignCellsVia(clusteredCorpus, cents, literal = false)
    assert(aLit.columns.toSeq == aJoin.columns.toSeq)
    assert(pairsOf(aLit) == pairsOf(aJoin), "assignment regimes diverge")
    val pLit = Similarity.multiProbeVia(clusteredCorpus, "vec_id", "v",
      cents, 2, literal = true)
    val pJoin = Similarity.multiProbeVia(clusteredCorpus, "vec_id", "v",
      cents, 2, literal = false)
    assert(pairsOf(pLit) == pairsOf(pJoin), "multi-probe regimes diverge")
    val idx = aLit.persist()
    try {
      val xLit = Similarity.prototypicalityVia(idx, cents, literal = true)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val xJoin = Similarity.prototypicalityVia(idx, cents, literal = false)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      assert(xLit == xJoin, "x61 scoring regimes diverge")
    } finally idx.unpersist()
  }

  test("IVF across the 256-cell boundary: k uncapped, population holds, recall holds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.CustomExprs.register(spark)
    // two corpus sizes straddling the literal-representation boundary:
    // below it the index builds from literal centroids, above it from
    // the broadcast centroid dim — BOTH must keep E[cell size] ≈ target
    // and a working probe (recall ≥ 0.8 at < 20% touched)
    def tightCorpusOf(kTrue: Int, seed: Int) = {
      val dim = 8; val per = Similarity.IvfTargetCellRows
      val rnd = new scala.util.Random(seed)
      def unit(v: Array[Double]) = {
        val m = math.sqrt(v.map(x => x * x).sum); v.map(_ / m)
      }
      val cents = Array.fill(kTrue)(unit(Array.fill(dim)(rnd.nextGaussian())))
      (0 until kTrue * per).map { i =>
        val c = cents(i % kTrue)
        val g = Array.fill(dim)(rnd.nextGaussian())
        (i.toLong, unit(c.zip(g).map { case (a, x) => a + 0.15 * x }))
      }.toDF("vec_id", "v").withColumn("nrm", lit(1.0)).persist()
    }
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((kTrue, seed) <- Seq((250, 41), (264, 43))) {
      val corpus = tightCorpusOf(kTrue, seed)
      try {
        val n = corpus.count()
        val k = Similarity.ivfCellCount(n)
        assert(k == kTrue, s"k=$k for n=$n — ivfCellCount drifted")
        if (kTrue > Similarity.IvfMaxLiteralCells)
          assert(k > Similarity.IvfMaxLiteralCells, "case must cross the boundary")
        val cents = Similarity.ivfCentroidsOf(corpus, k)
        val cells = Similarity.assignCells(corpus, cents).persist()
        try {
          // population: mean over nonempty cells stays near the target
          // (k tracks n, so this is the no-quiet-degradation gate)
          val pops = cells.groupBy($"cell").count()
            .collect().map(_.getLong(1))
          val mean = pops.sum.toDouble / pops.length
          assert(pops.length >= k / 2,
            s"only ${pops.length} of $k cells populated")
          assert(mean <= 2.0 * Similarity.IvfTargetCellRows,
            s"mean cell population $mean — target lost past the boundary")
          val exact = topSets(Similarity.bruteForceTopKOf(corpus, 8, 5))
          val got = topSets(Similarity.ivfTopKOf(
            cells, cents, 8, 5, Similarity.IvfProbes))
          val recall = exact.keys.toSeq
            .map(q => (got.getOrElse(q, Set.empty) & exact(q)).size / 5.0)
            .sum / exact.size
          val cellSizes = cells.groupBy($"cell").count()
          val touched = Similarity.ivfProbes(cells, cents, 8, Similarity.IvfProbes)
            .select($"query_id", $"cell").join(cellSizes, "cell")
            .agg(sum($"count")).collect()(0).getLong(0) / (8.0 * n)
          info(f"k=$k: mean cell=$mean%.0f recall=$recall%.2f touched=$touched%.4f")
          assert(recall >= 0.8, s"recall=$recall at k=$k")
          assert(touched < 0.20, s"touched=$touched at k=$k")
        } finally cells.unpersist()
      } finally corpus.unpersist()
    }
  }

  /** Clustered corpus generator at an arbitrary size (same recipe as
    * [[clusteredCorpus]]; enough true clusters that the trained
    * quantizer has real structure to find at both test sizes). */
  private def clusteredCorpusOf(n: Int, seed: Int) = {
    import spark.implicits._
    val kTrue = 32; val dim = 16
    val rnd = new scala.util.Random(seed)
    def unit(v: Array[Double]) = {
      val m = math.sqrt(v.map(x => x * x).sum); v.map(_ / m)
    }
    val cents = Array.fill(kTrue)(unit(Array.fill(dim)(rnd.nextGaussian())))
    (0 until n).map { i =>
      val c = cents(i % kTrue)
      val g = Array.fill(dim)(rnd.nextGaussian())
      (i.toLong, unit(c.zip(g).map { case (a, x) => a + 0.35 * x }))
    }.toDF("vec_id", "v")
      .withColumn("nrm", org.apache.spark.sql.functions.lit(1.0))
      .persist()
  }

  test("adaptive k: cell candidate volume ~flat and touched fraction falls across 4× growth") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.CustomExprs.register(spark)
    // two sizes past the k floor (floor × target = 4096), 4× apart
    val sizes = Seq(16 * Similarity.IvfTargetCellRows,
      64 * Similarity.IvfTargetCellRows)
    val stats = sizes.zipWithIndex.map { case (n, i) =>
      val corpus = clusteredCorpusOf(n, seed = 31 + i)
      val k = Similarity.ivfCellCount(n.toLong)
      val cents = Similarity.ivfCentroidsOf(corpus, k)
      val cells = corpus
        .withColumn("cell", Similarity.cellOf($"v", cents)).persist()
      try {
        // expected within-cell candidate pairs PER ROW = Σ cᵢ(cᵢ−1)/2 / n
        // — the work x24's generator does per corpus row; fixed target
        // cell size must keep it ~constant as n (and with it k) grows
        val candPerRow = cells.groupBy($"cell").count()
          .collect().map { r => val c = r.getLong(1); c * (c - 1) / 2.0 }
          .sum / n
        // x22 probe cost: fraction of corpus rows the top-p probe rescores
        val cellSizes = cells.groupBy($"cell").count()
        val touched = Similarity.ivfProbes(cells, cents, 8, Similarity.IvfProbes)
          .select($"query_id", $"cell").join(cellSizes, "cell")
          .agg(sum($"count")).collect()(0).getLong(0) / (8.0 * n)
        (k, candPerRow, touched)
      } finally { cells.unpersist(); corpus.unpersist() }
    }
    val Seq((k1, cand1, touch1), (k2, cand2, touch2)) = stats
    info(f"n=${sizes(0)}: k=$k1 candPerRow=$cand1%.1f touched=$touch1%.3f; " +
      f"n=${sizes(1)}: k=$k2 candPerRow=$cand2%.1f touched=$touch2%.3f")
    assert(k2 == 4 * k1, s"k did not track n: $k1 -> $k2")
    // ~flat per-row candidate volume (was 4× under compile-time k=16:
    // the quadratic term PLANS.md measured at the 10× probe)
    assert(cand2 / cand1 < 2.0,
      s"per-row candidate volume grew ${cand2 / cand1}× across 4× corpus growth")
    // probe touched fraction must FALL as k grows with n
    assert(touch2 < touch1,
      s"touched fraction did not fall: $touch1 -> $touch2")
  }

  test("Lloyd sample bound: deterministic, ≈cap rows, recall parity at two sizes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.CustomExprs.register(spark)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // two corpus sizes 4× apart, cap chosen so the sample filter ENGAGES
    // at both (stride 4 then 16) — the production cap of 2^20 never
    // engages on fixtures, so the spec forces the bounded path explicitly
    val sizes = Seq(16 * Similarity.IvfTargetCellRows,
      64 * Similarity.IvfTargetCellRows)
    val cap = 1024L
    sizes.zipWithIndex.foreach { case (n, i) =>
      val corpus = clusteredCorpusOf(n, seed = 61 + i)
      try {
        // the bound itself: expected rows = n/stride ≤ cap; xxhash64 is
        // uniform so allow 2× slack up, 4× down; and the hash filter is
        // deterministic — two materializations agree exactly
        val s1 = Similarity.trainSampleOf(corpus, n.toLong, cap)
        val rows = s1.count()
        assert(rows <= 2 * cap && rows >= cap / 4,
          s"sample rows=$rows for cap=$cap at n=$n")
        assert(s1.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq ==
          Similarity.trainSampleOf(corpus, n.toLong, cap)
            .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq)
        val k = Similarity.ivfCellCount(n.toLong)
        val full = Similarity.ivfCentroidsOf(corpus, k, sampleCap = Long.MaxValue)
        val samp = Similarity.ivfCentroidsOf(corpus, k, sampleCap = cap)
        val exact = topSets(Similarity.bruteForceTopKOf(corpus, 8, 5))
        def recallOf(cents: Array[Array[Double]]): Double = {
          val cells = Similarity.assignCells(corpus, cents).persist()
          try {
            val got = topSets(Similarity.ivfTopKOf(
              cells, cents, 8, 5, Similarity.IvfProbes))
            exact.keys.toSeq
              .map(q => (got.getOrElse(q, Set.empty) & exact(q)).size / 5.0)
              .sum / exact.size
          } finally cells.unpersist()
        }
        val (rFull, rSamp) = (recallOf(full), recallOf(samp))
        info(f"n=$n k=$k: full-trained recall=$rFull%.3f " +
          f"sample-trained ($rows rows) recall=$rSamp%.3f")
        // the judge's gate: sample-trained within tolerance of full-trained
        assert(rSamp >= rFull - 0.1,
          s"sample-trained recall $rSamp vs full-trained $rFull at n=$n")
      } finally corpus.unpersist()
    }
  }

  test("x79 celled decontamination ≡ brute-force flags at τ=0.8 on the " +
      "planted fixture") {
    import org.apache.spark.sql.functions._
    graft.functions.CustomExprs.register(spark)
    val tau = Similarity.SemDedupTauHigh
    // brute-force flags: train ids (vec_id % 17 ≠ 0) within τ of any
    // bench id, off the planted corpus collected driver-side
    val vecs = semCorpus.select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bench = vecs.filter(_._1 % 17 == 0)
    val expect = vecs.filter(_._1 % 17 != 0).filter { case (_, v) =>
      bench.exists { case (_, bv) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * bv(i); i += 1 }
        s >= tau // fixture vectors are unit (nrm column is lit(1.0))
      }
    }.map(_._1).toSet
    // the planted (src, copy) pairs must put SOME train id within τ of
    // a bench id, or this gate is vacuous on the celled recall claim
    assert(expect.nonEmpty, "fixture drifted: no train-bench flag at τ")
    val cells = Similarity.multiCellAssign(semCorpus,
        Similarity.ivfCentroidsOf(semCorpus, k = 32),
        Similarity.SemDedupAssignProbes)
      .persist()
    try {
      val got = Similarity.celledDecontFlagsOf(cells, tau)
        .collect().map(_.getLong(0)).toSet
      assert(got == expect,
        s"celled missed: ${expect -- got}; extra: ${got -- expect}")
    } finally cells.unpersist()
  }

  test("x78 bipartite tiling: ≡ driver brute-force; every pair meets once") {
    import graft.ops.Similarity
    val got = Similarity.semanticDecontaminate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // independent O(n_t·n_b) recompute off the same normalized corpus
    // (ascending-index dot = the engine's vector_dot order, so the
    // cosines are bit-identical and the τ cut cannot flake); a tiling
    // bug that double-counts a pair (block overlap) or drops one
    // (block gap) shifts n_hits and fails the map equality
    val vecs = Similarity.corpus(spark, sf)
      .select("vec_id", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val bench = vecs.filter(_._1 % 17 == 0)
    assert(bench.nonEmpty && bench.length < vecs.length)
    val expect = vecs.filter(_._1 % 17 != 0).map { case (id, v, n) =>
      id -> bench.count { case (_, bv, bn) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * bv(i); i += 1 }
        s / (n * bn) >= 0.4
      }.toLong
    }.filter(_._2 > 0).toMap
    assert(got == expect,
      s"tiled=${got.size} rows vs brute=${expect.size}; diverging: ${
        (got.keySet ++ expect.keySet)
          .filter(k => got.get(k) != expect.get(k)).take(5)}")
  }

  test("x14 tiled cosine join: no nested-loop/cartesian over the corpus") {
    val plan = Similarity.cosineNearDupPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("x41 frame features: image/audio/video stripes from real decode") {
    val rows = Multimodal.frameSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
    // independent recompute for one doc per family: stripe means over
    // payload bytes at their stride-mapped positions (zero padding
    // counts in the denominator only)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def strideMeans(bytes: Array[Int], rowBytes: Int, stride: Int,
        nf: Long): Seq[Long] = {
      val h = math.max(1, (bytes.length + rowBytes - 1) / rowBytes)
      val padded = new Array[Long](h * stride)
      bytes.zipWithIndex.foreach { case (v, j) =>
        padded((j / rowBytes) * stride + (j % rowBytes)) = v.toLong
      }
      val L = padded.length.toLong
      (0L until nf).map { f =>
        val s = (f * L / nf).toInt; val e = ((f + 1) * L / nf).toInt
        if (e <= s) 0L else (s until e).map(padded).sum / (e - s)
      }
    }
    val imgId = docs.keys.filter(d => d % 3 == 0 && docs(d).nonEmpty).min
    val pay = docs(imgId).getBytes("UTF-8").map(_ & 0xff)
    val rowBytes =
      (8 + imgId % 24).toInt * Array(1, 3, 4)(((imgId / 3) % 3).toInt)
    val expectImg = strideMeans(pay, rowBytes, rowBytes, 1L + pay.length % 8)
    val img = rows.filter(_._1 == imgId).sortBy(_._2)
    assert(img.map(_._3.get).toSeq == expectImg && img.forall(_._4 == "png"),
      s"image doc $imgId frame features diverged from pixel recompute")
    val audId = docs.keys.filter(d => d % 3 == 1 && docs(d).nonEmpty).min
    val apay = docs(audId).getBytes("UTF-8").map(_ & 0xff)
    val expectAud = strideMeans(apay, math.max(1, apay.length),
      math.max(1, apay.length), 1L + apay.length % 8)
    val aud = rows.filter(_._1 == audId).sortBy(_._2)
    assert(aud.map(_._3.get).toSeq == expectAud && aud.forall(_._4 == "pcm"),
      s"audio doc $audId frame features diverged from PCM recompute")
    // DIB video rows: measured means over the REAL movi frame bytes at
    // the 4-byte-aligned stride (24 bpp so stride > rowbytes exercises
    // the alignment mapping)
    val dibId = docs.keys
      .filter(d => d % 3 == 2 && (d / 3) % 3 == 0 && docs(d).nonEmpty).min
    val vpay = docs(dibId).getBytes("UTF-8").map(_ & 0xff)
    val vRow = (8 + dibId % 24).toInt * 3
    val vStride = ((8 + dibId % 24).toInt * 24 + 31) / 32 * 4
    val expectVid = strideMeans(vpay, vRow, vStride, 1L + vpay.length % 8)
    val vid = rows.filter(_._1 == dibId).sortBy(_._2)
    assert(vid.map(_._3.get).toSeq == expectVid && vid.forall(_._4 == "dib"),
      s"video doc $dibId frame features diverged from DIB recompute")
    // MJPG video rows: REAL entropy decode since round 12. Independent
    // closed-form recompute (no JpegBaselineCodec call): the encoder
    // emits one uniform gray 8×8 block per payload byte, njb blocks per
    // pixel row (image width 8*njb), so byte j's 64 pixels land at
    // p = (j/njb)*64*njb + (k/8)*8*njb + (j%njb)*8 + (k%8); block slots
    // past the payload in the last block-row decode to zero and count
    // in the stripe denominator only — mirroring the DuckDB oracle's
    // uniform-block arm, not the engine's Huffman/IDCT path.
    val mjId = docs.keys.filter(d => d % 3 == 2 && (d / 3) % 3 == 2).min
    val mjPay = docs(mjId).getBytes("UTF-8").map(_ & 0xff)
    val njb = 1 + ((mjId / 9) % 3).toInt
    val blockRows = math.max(1, (mjPay.length + njb - 1) / njb)
    val mjPadded = new Array[Long](64 * njb * blockRows)
    mjPay.zipWithIndex.foreach { case (v, j) =>
      var k = 0
      while (k < 64) {
        mjPadded((j / njb) * 64 * njb + (k / 8) * 8 * njb +
          (j % njb) * 8 + (k % 8)) = v.toLong
        k += 1
      }
    }
    val mjL = mjPadded.length.toLong
    val mjNf = 1L + mjPay.length % 8
    val expectMj = (0L until mjNf).map { f =>
      val s = (f * mjL / mjNf).toInt; val e = ((f + 1) * mjL / mjNf).toInt
      if (e <= s) 0L else (s until e).map(mjPadded).sum / (e - s)
    }
    val mj = rows.filter(_._1 == mjId).sortBy(_._2)
    assert(mj.map(_._3.get).toSeq == expectMj && mj.forall(_._4 == "mjpg"),
      s"MJPG doc $mjId decoded frame features diverged from " +
        s"uniform-block recompute")
  }

  test("ccStars: 64-node path converges in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    val pairs = spark.range(63).select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    val (labels, rounds) = Dedup.ccStars(pairs)
    try {
      val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out.size == 64)
      assert(out.values.forall(_ == 0L), "every node labels to the chain min")
      // min-label propagation needs 63 rounds on this graph; the
      // large/small-star bound is O(log n) — leave slack above log2(64)=6
      assert(rounds <= 12, s"rounds=$rounds — expected O(log 64) behavior")
    } finally labels.unpersist()
  }

  test("ccStars: multi-component graph with a cycle labels to each min") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("id_a", "id_b")
    val (labels, _) = Dedup.ccStars(pairs)
    try {
      val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
        11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    } finally labels.unpersist()
  }

  /** Planted-centroid fixture: the regime IVF is FOR (the testdata
    * embeddings are measured isotropic — the known partition-index worst
    * case, which is why x21 exists). Deterministic seeds throughout. */
  private lazy val clusteredCorpus = {
    import spark.implicits._
    val k = 8; val per = 150; val dim = 32
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val cents = Array.fill(k)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows = (0 until k * per).map { i =>
      val c = cents(i % k)
      val noise = Array.fill(dim)(rnd.nextGaussian())
      (i.toLong, unit(c.zip(noise).map { case (a, g) => a + 0.35 * g }))
    }
    rows.toDF("vec_id", "v")
      .withColumn("nrm", org.apache.spark.sql.functions.lit(1.0))
      .persist()
  }

  test("x22 IVF: recall >= 0.8 at < 20% touched rows on clustered embeddings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = clusteredCorpus.count()
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopKOf(clusteredCorpus, 8, 5))

    val trained = Similarity.ivfCentroidsOf(clusteredCorpus)
    val cells = clusteredCorpus
      .withColumn("cell", Similarity.cellOf($"v", trained)).persist()
    try {
      val ivf = topSets(Similarity.ivfTopKOf(
        cells, trained, 8, 5, Similarity.IvfProbes))
      val recall = exact.keys.toSeq
        .map(q => (ivf.getOrElse(q, Set.empty) & exact(q)).size / 5.0)
        .sum / exact.size
      assert(recall >= 0.8, s"IVF recall=$recall on the clustered fixture")

      // touched-rows fraction: corpus rows whose full vector enters the
      // exact rescore = the probed cells' populations
      val cellSizes = cells.groupBy($"cell").count()
      val touched = Similarity.ivfProbes(cells, trained, 8, Similarity.IvfProbes)
        .select($"query_id", $"cell").join(cellSizes, "cell")
        .agg(sum($"count")).collect()(0).getLong(0)
      val frac = touched.toDouble / (8.0 * n)
      assert(frac < 0.20, s"touched fraction $frac — index not pruning")

      // x21 comparison on the same fixture, for PLANS.md: its sketch pass
      // touches 100% of corpus rows per query batch by construction
      val x21 = topSets(Similarity.lshTopKOf(clusteredCorpus, 8, 5))
      val r21 = exact.keys.toSeq
        .map(q => (x21.getOrElse(q, Set.empty) & exact(q)).size / 5.0)
        .sum / exact.size
      info(f"clustered fixture: IVF recall@5=$recall%.3f touched=$frac%.3f; " +
        f"x21 recall@5=$r21%.3f touched=1.00 (sketch) + 0.33 (rescore)")
    } finally cells.unpersist()
  }

  test("x26 IVF-PQ: recall >= 0.8 with probed-cell ADC and a 4k rescore cut") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    graft.functions.CustomExprs.register(spark)
    val exact = topSets(Similarity.bruteForceTopKOf(clusteredCorpus, 8, 5))
    val cents = Similarity.ivfCentroidsOf(clusteredCorpus)
    val books = Similarity.pqCodebooksOf(clusteredCorpus)
    val composed = clusteredCorpus
      .withColumn("cell", Similarity.cellOf($"v", cents))
      .select($"vec_id", $"cell")
      .join(Similarity.pqIndexOf(clusteredCorpus, books), "vec_id")
    val got = topSets(Similarity.ivfPqTopKOf(clusteredCorpus, composed,
      cents, books, 8, 5, Similarity.IvfProbes))
    val recall = exact.keys.toSeq
      .map(q => (got.getOrElse(q, Set.empty) & exact(q)).size / 5.0)
      .sum / exact.size
    info(f"clustered fixture: IVF-PQ recall@5=$recall%.3f " +
      f"(rescore cut ${Similarity.IvfPqRescoreFactor * 5} candidates/query)")
    assert(recall >= 0.8, s"IVF-PQ recall=$recall on the clustered fixture")
  }

  test("x22 index written partitioned by cell is file-level partition-pruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the deployment claim behind the probe join: persist the index
    // partitioned by `cell` and a probe's candidate fetch only READS the
    // probed cells' files — prove it with the actual files scanned
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    graft.ops.Similarity.ivfIndex(spark, sf)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val idx = spark.read.parquet(dir)
    val pruned = idx.filter($"cell".isin(3, 7))
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters"), plan.take(1500))
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach(f =>
      assert(f.contains("cell=3") || f.contains("cell=7"),
        s"scanned a non-probed partition's file: $f"))
  }

  test("x70 planted corpus: keep-first rewrite, overlap union, round trip") {
    import spark.implicits._
    // S = a 13-token span planted in docs 1 and 2; doc 3 is unique.
    val span = (1 to 13).map(i => s"s$i").mkString(" ")
    val pre1 = "alpha beta gamma"; val post1 = "delta epsilon"
    val pre2 = "zeta"; val post2 = "eta theta iota"
    val docs = Seq(
      (1L, s"$pre1 $span $post1"),
      (2L, s"$pre2 $span $post2"),
      (3L, "unique words only here nothing repeated at all"))
      .toDF("doc_id", "text")
    val out = Dedup.substringRewriteCore(spark, docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc 1 holds the globally first occurrence -> untouched
    assert(out(1L) == (18L, 0L, 0L, s"$pre1 $span $post1"))
    // doc 2's occurrence is cut; surrounding tokens survive
    assert(out(2L) == (17L, 1L, 13L, s"$pre2 $post2"))
    // doc 3 never matched anything
    assert(out(3L)._4 == "unique words only here nothing repeated at all")

    // overlap union: doc 12 repeats doc 11's 14-token run, which carries
    // TWO overlapping flagged 13-gram occurrences; removed tokens are the
    // union (14), not 2x13
    val over = (1 to 14).map(i => s"o$i").mkString(" ")
    val docs2 = Seq((11L, s"$over tail1"), (12L, s"head1 $over"))
      .toDF("doc_id", "text")
    val out2 = Dedup.substringRewriteCore(spark, docs2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out2(11L) == (0L, 0L, s"$over tail1"))
    assert(out2(12L) == (2L, 14L, "head1"))
  }

  test("x76 planted corpus: bench spans cut from train, pure-bench doc empties") {
    import spark.implicits._
    val span = (1 to 13).map(i => s"b$i").mkString(" ")
    val bench = Seq((100L, s"$span trailing benchmark words here"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words $span suffix words"),   // quotes the benchmark
      (2L, "completely unrelated training text"), // untouched
      (3L, span))                                 // pure benchmark text
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateRewriteCore(train, bench)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == (17L, 1L, 13L, "prefix words suffix words"))
    assert(out(2L) == (4L, 0L, 0L, "completely unrelated training text"))
    assert(out(3L) == (13L, 1L, 13L, ""))
    assert(out.size == 3, "bench docs must not appear in the output")
  }

  /** Tight-cluster fixture for the kNN family (x83/x84): 6
    * well-separated clusters at member noise 0.1 — intra-cluster cos
    * ≈ 0.76 ± 0.05 vs cross-cluster ≈ ±0.15, so every vector's true
    * top-5 are in-cluster, and with a cluster-aligned quantizer (k=6)
    * the celled candidate set contains them STRUCTURALLY — the regime
    * where celled ≡ brute force must hold exactly (semCorpus's 0.35
    * noise overlaps the regimes on purpose; it gates τ-threshold ops,
    * not rank ops). */
  private val KnnFixK = 6
  private val KnnFixPer = 60
  private lazy val knnFixVecs: IndexedSeq[(Long, Array[Double])] = {
    val dim = 32
    val rnd = new scala.util.Random(47)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val cents =
      Array.fill(KnnFixK)(unit(Array.fill(dim)(rnd.nextGaussian())))
    (0 until KnnFixK * KnnFixPer).map { i =>
      val g = Array.fill(dim)(rnd.nextGaussian())
      (i.toLong,
        unit(cents(i % KnnFixK).zip(g).map { case (a, x) => a + 0.1 * x }))
    }
  }

  /** Pedestrian brute-force top-5 edges over the fixture (unit
    * vectors: cosine = dot; ties — which the gaussian fixture never
    * produces — would break by id like both engines). */
  private lazy val knnFixBrute: Set[(Long, Long, Int)] =
    knnFixVecs.flatMap { case (i, vi) =>
      knnFixVecs.iterator.filter(_._1 != i)
        .map { case (j, vj) =>
          (j, vi.zip(vj).map { case (x, y) => x * y }.sum) }
        .toSeq.sortBy { case (j, c) => (-c, j) }
        .take(5).zipWithIndex.map { case ((j, _), r) => (i, j, r + 1) }
    }.toSet

  private def withKnnFixture[A](f: org.apache.spark.sql.DataFrame => A): A = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val corpus = knnFixVecs.toDF("vec_id", "v")
      .withColumn("nrm", org.apache.spark.sql.functions.lit(1.0))
      .persist()
    try f(corpus) finally { corpus.unpersist(); () }
  }

  test("x83 celled kNN graph ≡ pedestrian brute-force top-5 on a " +
      "tight-cluster fixture") {
    withKnnFixture { corpus =>
      val got = Similarity.knnGraphOf(corpus,
          Similarity.ivfCentroidsOf(corpus, k = KnnFixK), 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == knnFixBrute,
        s"celled kNN diverged from brute force — missing: " +
          s"${(knnFixBrute -- got).take(5)}; extra: ${(got -- knnFixBrute).take(5)}")
      // non-vacuity: every vector emitted a full top-5
      assert(got.size == KnnFixK * KnnFixPer * 5)
    }
  }

  test("x84 mutual-kNN clusters ≡ pedestrian mutual+union-find; " +
      "no cluster spans planted clusters") {
    withKnnFixture { corpus =>
      val got = Similarity.knnClustersOf(Similarity.knnEdgesOf(corpus,
          Similarity.ivfCentroidsOf(corpus, k = KnnFixK), 5))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // pedestrian replay from the BRUTE-FORCE edge list (x83's gate
      // proves celled ≡ brute force, so this independently re-derives
      // the mutual filter and the component labels)
      val dir = knnFixBrute.map(e => (e._1, e._2))
      val mutual = dir.filter { case (a, b) => a < b && dir((b, a)) }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      mutual.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = mutual.flatMap(e => Seq(e._1, e._2))
      val expect = nodes.map { id =>
        val root = find(id)
        (id, root, nodes.count(find(_) == root).toLong)
      }
      assert(got.toSet == expect,
        s"clusters diverged — missing: ${(expect -- got.toSet).take(5)}; " +
          s"extra: ${(got.toSet -- expect).take(5)}")
      // mutuality never crosses planted clusters (cross cos ≈ ±0.15
      // cannot reach anyone's in-cluster top-5), so every component
      // stays inside one planted cluster
      got.groupBy(_._2).values.foreach { cl =>
        assert(cl.map(t => t._1 % KnnFixK).toSet.size == 1,
          s"cluster spans planted clusters: ${cl.take(8).toSeq}")
      }
      // non-vacuity: a real fixture produces multi-member clusters
      assert(got.exists(_._3 >= 2L) && got.nonEmpty)
    }
  }

  test("x85 kNN-density pruning drops exactly the sparsest-tail vectors " +
      "of the brute-force density ordering") {
    import org.apache.spark.sql.functions._
    withKnnFixture { corpus =>
      // the SHARED knnDensityPruneOf (what the registered query runs)
      // over the fixture edge list
      val got = Similarity.knnDensityPruneOf(Similarity.knnEdgesOf(corpus,
          Similarity.ivfCentroidsOf(corpus, k = KnnFixK), 5))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // pedestrian density: the 5th-highest dot per vector (celled ≡
      // brute holds on this fixture per x83's gate). The interpolated
      // 5%-ile at n=360 sits strictly BETWEEN the 17th and 18th
      // sorted densities (pos = 0.05·359 = 17.95, and the gaussian
      // fixture has no 1e-12-close density ties), so the dropped set
      // is exactly the 18 sparsest — no float reimplementation needed
      val density = knnFixVecs.map { case (i, vi) =>
        val kth = knnFixVecs.iterator.filter(_._1 != i)
          .map { case (_, vj) => vi.zip(vj).map { case (x, y) => x * y }.sum }
          .toSeq.sorted(Ordering[Double].reverse).apply(4)
        (i, kth)
      }
      val sortedD = density.map(_._2).sorted
      assert(sortedD(18) - sortedD(17) > 1e-9,
        "fixture densities are near-tied AT the threshold boundary — " +
          "the exactly-18-dropped argument would not hold")
      val dropped = density.sortBy(_._2).take(18).map(_._1).toSet
      assert(got == knnFixVecs.map(_._1).toSet -- dropped,
        s"survivors diverged — unexpectedly dropped: " +
          s"${(knnFixVecs.map(_._1).toSet -- dropped -- got).take(5)}; " +
          s"unexpectedly kept: ${(got & dropped).take(5)}")
    }
  }

  test("x87 registered seeds are a non-degenerate labeling pass: " +
      "quality-slice coverage, multi-class labels, propagation runs") {
    import org.apache.spark.sql.functions._
    // distribution gate, not a value gate (the oracle owns values):
    // the r14 lang-id seed candidate stayed hash-green while
    // degenerating to ONE label over ALL documents — only a
    // distribution check catches a semantically useless seed pass
    val out = graft.ops.Similarity.labelPropagation(spark, sf).collect()
    val n = out.length
    val seeds = out.count(_.getString(2) == "seed")
    // the top-half-by-quality slice (exact lower-median element)
    assert(seeds > n * 3 / 10 && seeds < n * 7 / 10,
      s"seed slice $seeds/$n outside the quality-half expectation")
    val distinctLbls =
      out.filter(!_.isNullAt(1)).map(_.getInt(1)).distinct.length
    assert(distinctLbls >= 3,
      s"only $distinctLbls distinct propagated labels — degenerate seeds")
    val origins = out.map(_.getString(2)).toSet
    assert(origins.contains("seed") && origins.contains("round1"),
      s"propagation provenance missing: $origins")
  }

  test("x87 label propagation: every fixture vector converges to its " +
      "own cluster's seed label; provenance tags consistent") {
    import org.apache.spark.sql.functions._
    withKnnFixture { corpus =>
      import corpus.sparkSession.implicits._
      // the SHARED round logic (labelPropagationOf — what the
      // registered query runs), over the fixture corpus where the
      // cluster id IS the true label
      val edges = Similarity.knnEdgesOf(corpus,
          Similarity.ivfCentroidsOf(corpus, k = KnnFixK), 5)
        .select($"src", $"dst")
      // seed mask MUST be decorrelated from the cluster id: ids cycle
      // clusters via i % 6, so an id-mod seed mask (the registered
      // query's % 3 over REAL uncorrelated labels) would here put all
      // seeds in clusters {0, 3} and none elsewhere — the first cut
      // did exactly that and "propagation" was structurally impossible
      // in 4 of 6 clusters. Seed by within-cluster index instead:
      // (i DIV 6) % 3 == 0 → exactly 20 seeds in every cluster.
      val isSeed = expr("(vec_id DIV 6) % 3 = 0")
      val seeded = corpus
        .select($"vec_id",
          when(isSeed, $"vec_id" % KnnFixK).as("lbl"),
          when(isSeed, lit("seed"))
            .otherwise(lit("unlabeled")).as("origin"))
      val got = Similarity.labelPropagationOf(edges, seeded).collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong),
          r.getString(2)))
      // no cross-cluster edge reaches anyone's top-5, so every label
      // that propagates is the OWN cluster's; a rare non-seed clique
      // whose whole neighborhood is unseeded can stay unlabeled after
      // 2 rounds (observed: ~1% of the fixture) — those must keep the
      // null/'unlabeled' tag, never a wrong label
      def seedId(id: Long) = (id / 6) % 3 == 0
      got.foreach { case (id, lbl, origin) =>
        if (lbl.isDefined)
          assert(lbl.contains(id % KnnFixK),
            s"vec $id got label $lbl (cluster ${id % KnnFixK}, $origin)")
        else assert(origin == "unlabeled" && !seedId(id),
          s"vec $id null label but origin $origin")
        if (seedId(id)) assert(origin == "seed", s"vec $id origin $origin")
      }
      // 1/3-per-cluster seeding over in-cluster top-5 must cover ≥ 95%
      // in 2 rounds (a rare non-seed clique may stay unlabeled)
      val coverage = got.count(_._2.isDefined).toDouble / got.length
      assert(coverage >= 0.95, s"propagation coverage $coverage")
      // non-vacuity: both rounds fired; seed count exact
      assert(got.exists(_._3 == "round1") && got.exists(_._3 == "round2"))
      assert(got.count(_._3 == "seed") == knnFixVecs.count(t => seedId(t._1)))
    }
  }
}
