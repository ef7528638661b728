package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode
import graft.ops.{Relational, Transform}

/** Plan-shape gates for the scale-critical physical properties PLANS.md
  * documents — a silent regression (lost pushdown, a dim falling out of
  * broadcast, NLP escaping the distinct side) should fail CI, not show up
  * as a 10× bench surprise.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("g01: filter pushed to the parquet scan, columns pruned") {
    val plan = formatted(Relational.g01AggPricing(spark, sf))
    assert(plan.contains("PushedFilters"), plan.take(800))
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan.take(800))
    // 6 of 11 lineitem columns used; the scan must not read the rest
    assert(!plan.contains("l_suppkey") && !plan.contains("l_tax"), plan.take(800))
  }

  test("j01: all three dims broadcast, no sort-merge join") {
    val plan = formatted(Relational.j01RegionRevenue(spark, sf))
    // FormattedMode prints each operator twice (tree + details):
    // 3 joins => 6 mentions, so one dim falling out of broadcast fails
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 6, plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("q4 master: NLP UDFs confined to the broadcast (distinct) side") {
    val plan = formatted(Transform.master(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
    // the distinct-string aggregate that the UDFs run above
    assert(plan.contains("Keys [1]: [_el"), plan.take(1500))
    // every UDF invocation takes the distinct `_el` string (or the array
    // derived from it) — a UDF over raw trip rows would reference the
    // fact-side end_location attribute instead. Check EVERY occurrence,
    // not just per-line contains: FormattedMode can print several UDF
    // calls on one projection line, and a single conforming UDF(_el…)
    // would mask a fact-side sibling on the same line
    assertUdfsConfined(plan)
  }

  /** All `UDF(` occurrences in the plan take `_el` — see the q4 test. */
  private def assertUdfsConfined(plan: String): Unit = {
    val occurrences = "UDF\\(".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(occurrences.nonEmpty)
    occurrences.foreach { at =>
      val call = plan.substring(at, math.min(at + 20, plan.length))
      assert(call.startsWith("UDF(_el"), s"non-confined UDF call: $call")
    }
  }

  test("q5: NLP UDFs confined to the distinct-string side, like q4") {
    val plan = formatted(Transform.q5TripCycle(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
    assertUdfsConfined(plan)
  }

  test("n12: all-tiers-relational plan carries ZERO UDFs; fuzzy joins " +
      "stay on the distinct-string dim side") {
    // the whole point of n12 vs n10: identical semantics (shared
    // goldens) with every tier — fuzzy included — a relational op.
    // A UDF( anywhere here means the fuzzy tier regressed to a closure
    val plan = formatted(
      graft.ops.LocationResolve.tieredLocations(spark, sf))
    assert(!plan.contains("UDF("), plan.take(2000))
    // the dictionary and the fuzzy dim broadcast back onto distinct
    // strings / fact rows — the corpus is never crossJoined
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("n13: gram-blocked plan — zero UDFs, no cartesian/nested-loop " +
      "(the 100k single-token dim must ride the blocked equi join)") {
    // OUTER SHELL ONLY: resolveTokensTiered eagerly localCheckpoints
    // t12 and the fuzzy dim, so this formatted plan shows ExistingRDD
    // scans where the tier joins ran — the assertions gate the final
    // assembly, while the fuzzy-tier SUBPLAN is audited directly by
    // the "fuzzyResolveDim blocked subplan" test below (and by
    // DictionaryScaleSpec's executedPlan checks)
    val plan = formatted(
      graft.ops.LocationResolve.gramDictScale(spark, sf))
    assert(!plan.contains("UDF("), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("fuzzyResolveDim blocked subplan (n13 + n14 dims): the un-" +
      "checkpointed fuzzy tier is a broadcast-probed equi join — zero " +
      "UDFs, no cartesian, no nested loop, probe keys broadcast") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // the memoized index would substitute InMemoryRelation scans into
    // canonically-matching subplans and blind the shape assertions
    graft.Caches.clear(spark)
    val part = graft.Tables.part(spark, sf)
    val dims = Seq(
      "n13" -> graft.ops.LocationResolve.gramScaleDim(part)
        .withColumn("vorder", org.apache.spark.sql.functions.lit(0L)),
      "n14" -> graft.ops.LocationResolve.crossScaleDim(part)
        .withColumn("vorder", org.apache.spark.sql.functions.lit(0L)))
    val probes = graft.ops.LocationResolve.gramProbes(part.limit(200))
      .select($"norm".as("fnorm")).distinct()
    // gramGuard forced: this test gates the HEALTHY blocked path's
    // physical shape; at sf0.001 the n14 dim has ~200 entries — below
    // FuzzyBlockSwitch (production would take the exhaustive branch)
    // and small enough that the scale-free economics ratio correctly
    // prefers exhaustive, which would surface here as the fallback
    // union this test exists to forbid on the healthy path
    dims.foreach { case (name, dim) =>
      val plan = formatted(
        graft.ops.LocationResolve.fuzzyResolveDim(probes, dim, Some(true),
          gramGuard = Some(true)))
      assert(!plan.contains("UDF("), s"[$name] ${plan.take(1500)}")
      assert(!plan.contains("CartesianProduct"), s"[$name] ${plan.take(1500)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"[$name] ${plan.take(1500)}")
      // the key join itself must be a BROADCAST hash join ON bkey in
      // the default regime (the Broadcasts budget): match the
      // FormattedMode detail block's key list, because a bare
      // contains(BroadcastHashJoin) is satisfied by the dimC string
      // join-back and the gram-order broadcasts, and a blanket
      // no-SortMergeJoin is WRONG — the dictionary index build's
      // internal rank self-join legitimately plans as SMJ pre-AQE
      // (its checkpointed input carries no size stats; AQE re-plans it
      // from actual sizes at runtime)
      assert(bkeyJoin("BroadcastHashJoin").findFirstIn(plan).isDefined,
        s"[$name] no broadcast key join on bkey\n${plan.take(1500)}")
      assert(bkeyJoin("(?:SortMergeJoin|ShuffledHashJoin)")
          .findFirstIn(plan).isEmpty,
        s"[$name] key join regressed to a shuffle\n${plan.take(1500)}")
    }
    // the OTHER physical form: past the Broadcasts budget (forced here) the
    // probe side leaves the broadcast and the key join becomes a
    // shuffle equi-join — both shapes must exist as plans, so a probe
    // set outgrowing the broadcast is a plan choice, not an OOM. The
    // auto-broadcast threshold is disabled for this check: at fixture
    // scale Catalyst's size estimates would otherwise re-broadcast the
    // tiny probe keys on their own and the assertion would test
    // nothing (explicit broadcast() hints — the dimC join-back —
    // survive the threshold, as intended)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val shuffled =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        formatted(Broadcasts.forcing(false)(
          graft.ops.LocationResolve.fuzzyResolveDim(
            probes, dims.head._2, Some(true), gramGuard = Some(true))))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    assert(bkeyJoin("(?:SortMergeJoin|ShuffledHashJoin)")
        .findFirstIn(shuffled).isDefined,
      s"no shuffle key join in the forced form\n${shuffled.take(1500)}")
    assert(!shuffled.contains("CartesianProduct") &&
      !shuffled.contains("BroadcastNestedLoopJoin"), shuffled.take(1500))
  }

  /** Regex for a FormattedMode join-detail block of the given operator
    * whose left key list is exactly [bkey#…] — the fuzzy blocking key
    * join, as opposed to the id/string join-backs and index-internal
    * joins. */
  private def bkeyJoin(op: String): scala.util.matching.Regex =
    (s"\\(\\d+\\) $op[^\\n]*\\n+Left keys \\[1\\]: \\[bkey#").r

  test("n07: dictionary lookups are BroadcastHashJoins, result == n06") {
    val n07 = graft.ops.LocationResolve.tier12LocationsBroadcast(spark, sf)
    val plan = formatted(n07)
    // four lookup tiers + the resolved-dim fact join, all broadcast —
    // FormattedMode doubles each operator (tree + details): 5 => 10
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 10, plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // the broadcast form must be row-identical to the literal-map form
    val n06 = graft.ops.LocationResolve.tier12Locations(spark, sf)
    assert(n07.collect().map(_.toSeq).toSeq ==
      n06.collect().map(_.toSeq).toSeq)
  }

  test("x21: candidate fetch is an equi join, no nested loop over corpus") {
    val plan = formatted(graft.ops.Similarity.lshTopK(spark, sf))
    // pass 1 may broadcast the 8-row query sketches (fine); the corpus
    // itself must never be the build side of a nested loop
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("x22: probe is a broadcast equi join on the cell key, no cartesian") {
    val plan = formatted(graft.ops.Similarity.ivfTopK(spark, sf))
    // the tiny (query, probed-cell) frame broadcasts against the index;
    // the corpus must never enter a nested loop or cartesian product
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("x24: celled candidates are a hash equi self-join on cell, no nested loop") {
    val plan = formatted(graft.ops.Similarity.semanticDedupCelled(spark, sf))
    // the within-cell pair generator is an equi join on the cell key —
    // a cartesian/nested-loop over the corpus here is exactly the O(n²)
    // shape the celled variant exists to avoid
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("x82: snapshot diff is ONE full-outer sort-merge equi join carrying " +
      "(id, hash) only — text never enters the shuffle; columns pruned") {
    val df = graft.ops.Pipeline.snapshotDiff(spark, sf)
    val plan = formatted(df)
    // full outer on corpus-sized sides: the sort-merge shape (Spark
    // cannot broadcast a FullOuter side, so this can't silently flip)
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the join's inputs are exactly (id, 64-byte sha) per side — the
    // document text is hashed in a map-side Project below the exchange
    // and never shuffles (the property that keeps the join ~72 B/row at
    // 100 TB); checked on the optimized logical plan, not string-matched
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, s"expected exactly one join, got ${joins.size}")
    val joinInputs = joins.head.children.flatMap(_.output.map(_.name)).toSet
    assert(joinInputs == Set("o_id", "o_h", "n_id", "n_h"),
      s"join carries more than (id, hash): $joinInputs")
    // only doc_id + text are read; the scan must prune the rest
    assert(!plan.contains("lang") && !plan.contains("n_chars"),
      plan.take(2000))
  }

  test("x83: kNN-graph candidates are a hash equi self-join on cell; " +
      "vectors dropped in the join stage — never shuffled downstream") {
    // audit the BUILD plan (knnGraphOf over the raw corpus): the
    // registered query reads the memoized edge artifact, whose cached
    // scan hides the build shape this gate exists to pin. Drop the
    // session's memo cache first — if ANY earlier test in this JVM ran
    // a registered knn query, the persisted knn-edges plan canonically
    // matches this build plan and Spark's CacheManager substitutes an
    // InMemoryRelation for the whole subtree, silently deleting the
    // very aggregate/window operators under audit (caught when the
    // r14 x87 seed-distribution test started exercising the
    // registered query at fixture scale before this suite ran).
    graft.Caches.clear(spark)
    graft.functions.CustomExprs.register(spark)
    val df = graft.ops.Similarity.knnGraphOf(
      graft.ops.Similarity.corpus(spark, sf),
      graft.ops.Similarity.centroids(spark, sf),
      graft.ops.Similarity.KnnGraphK)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the 100×-probe lesson (see knnGraph scaladoc): the per-edge stream
    // into the dedup aggregate and the top-k window must be
    // (src, dst, cos) — an array column reaching either means candidate
    // rows × 1 KB of vectors enter a sort/shuffle and the plan dies
    // spilling at scale
    import org.apache.spark.sql.types.ArrayType
    val sp = df.queryExecution.sparkPlan
    val aggs = sp.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.nonEmpty, "expected the pair-dedup HashAggregate")
    aggs.foreach { a =>
      assert(a.child.output.forall(!_.dataType.isInstanceOf[ArrayType]),
        s"vector column entering the dedup aggregate: ${a.child.output}")
    }
    val wins = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the top-k WindowExec")
    wins.foreach { w =>
      assert(w.child.output.forall(!_.dataType.isInstanceOf[ArrayType]),
        s"vector column entering the top-k window: ${w.child.output}")
    }
  }

  test("x84: mutual filter is an ids-only equi self-join; no cartesian " +
      "or nested loop anywhere in the cluster plan") {
    val df = graft.ops.Similarity.knnClusters(spark, sf)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("x27: bloom probe is map-only — no join anywhere in the plan") {
    // the whole point vs x19: the blocklist is a plan literal, so the
    // probe plan is scan → HOF filter → sort. Any Join here means the
    // sketch fell out of the literal and the operator regressed to a
    // broadcast-index shape.
    val plan = formatted(graft.ops.Dedup.bloomDecontaminate(spark, sf))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("x27: literal-sketch plan COMPILES — no silent interpreter fallback") {
    // ExtensionsSpec pins that might_contain over a SCALAR-SUBQUERY
    // sketch is interpreter-only on this Spark (janino rejects the
    // generated reference). The engine's x27 shape — sketch as a plan
    // LITERAL probed inside the HOF — must never silently share that
    // fate: CODEGEN_ONLY + fallback=false turn any janino failure into
    // a hard error here instead of a WARN lost in the suite log.
    val saved = Seq("spark.sql.codegen.factoryMode",
      "spark.sql.codegen.fallback").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(graft.ops.Dedup.bloomDecontaminate(spark, sf).count() >= 0)
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("x78: bipartite tiled join is a hash equi join — no cartesian, " +
      "no broadcast nested loop, no distinct stage") {
    // the benchmark side is n/17: never broadcastable at scale, so the
    // 2-D tiling must surface as ONE equi join on the block key; and
    // because each (train, bench) pair meets in exactly one block, no
    // dedup aggregation may appear between join and count
    val plan = formatted(graft.ops.Similarity.semanticDecontaminate(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.toLowerCase.contains("distinct"), plan.take(2000))
  }

  test("x80/x81: perceptual dedup is the banded equi join — codec work " +
      "map-side, no cartesian/nested-loop") {
    // the COVERAGE claim: candidates come from 8-bit chunk-block
    // collisions (an equi join on (c, cv)), never an all-pairs product;
    // the per-partition codec stays a map stage before any exchange
    for (q <- Seq(graft.ops.Multimodal.imageAHashPairs(spark, sf),
        graft.ops.Multimodal.audioFingerprintPairs(spark, sf))) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
  }

  test("x25/x26: ADC scan and rescore never cartesian/nested-loop the corpus") {
    // the 8-row query frame may broadcast (fine, like x21's sketches);
    // the code table / full corpus must never enter a cartesian product
    val pq = formatted(graft.ops.Similarity.pqTopK(spark, sf))
    assert(!pq.contains("CartesianProduct"), pq.take(1500))
    val ivfpq = formatted(graft.ops.Similarity.ivfPqTopK(spark, sf))
    assert(!ivfpq.contains("CartesianProduct"), ivfpq.take(1500))
    // x26's cell probe joins on the cell key like x22
    assert("BroadcastHashJoin".r.findAllIn(ivfpq).length >= 2, ivfpq.take(2000))
  }

  test("round-9 ops: no cartesian/nested-loop anywhere; x69/x72 stay join-free") {
    // the new family is all equi joins + windows; a cartesian or BNLJ
    // sneaking in (e.g. the x70 freq join losing its key) is a corpus²
    // regression at scale
    Seq("x70" -> graft.ops.Dedup.substringDedupRewrite(spark, sf),
        "x71" -> graft.ops.Sampling.leakageFreeSplit(spark, sf),
        "x73" -> graft.ops.Pipeline.corpusDatasheet(spark, sf),
        "x74" -> graft.ops.Pipeline.corpusDatasheetApprox(spark, sf),
        "x75" -> graft.ops.Pipeline.pipelineV2(spark, sf))
      .foreach { case (name, df) =>
        val plan = formatted(df)
        assert(!plan.contains("CartesianProduct"), s"$name\n${plan.take(1500)}")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name\n${plan.take(1500)}")
      }
    // x69 scoring and x72 sharding are pure map / map+window: any Join
    // means the weight vector or hash fell out of the plan literals
    val clf = formatted(graft.ops.TextAnalysis.qualityClassifier(spark, sf))
    assert(!clf.contains("Join"), clf.take(2000))
    val shrd = formatted(graft.ops.Sampling.shuffleShards(spark, sf))
    assert(!shrd.contains("Join"), shrd.take(2000))
  }

  test("x26 materialized index: partition filters prune files ∝ probes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    graft.ops.Similarity.materializeIvfPqIndex(spark, sf, dir)
    val cells = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cells.length > 1, "index must be laid out as cell= partitions")
    // one data file per cell partition (the repartition-by-cell
    // small-files discipline)
    cells.foreach { c =>
      val files = new java.io.File(s"$dir/$c").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$c holds $files files, expected 1")
    }
    val out = graft.ops.Similarity.ivfPqTopKMaterialized(spark, sf, dir)
    // 1. the scan must carry a pushed cell partition predicate —
    //    file-level pruning, not a post-scan filter
    val plan = formatted(out)
    // the literal probe list compiles to an INSET partition predicate
    // (Catalyst's optimized in-set form; small lists print as `IN (`)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("cell") &&
        (l.contains("INSET") || l.contains("IN ("))),
      s"no pushed cell partition filter among: $pf")
    // 2. touched-file count == probed-cell count (< total cells):
    //    partition pruning means unprobed cells' files are never read
    val probed = graft.ops.Similarity.probedCellIds(spark, sf)
    assert(probed.length < cells.length, "fixture must not probe every cell")
    val touchedFiles = graft.ops.Similarity
      .prunedIndexRead(spark, dir, probed)
      .select(input_file_name()).distinct().count()
    assert(touchedFiles == probed.length,
      s"pruned scan read $touchedFiles files for ${probed.length} probed " +
        s"cells of ${cells.length}")
    // 3. the materialized path returns x26's exact rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows(out) == rows(graft.ops.Similarity.ivfPqTopK(spark, sf)),
      "materialized-index x26 diverged from the in-session path")
  }

  test("x41 real-decode form: map-only per-partition codec, no join, one sort") {
    // the registered x41 is now the batched per-partition decoder
    // (mapPartitions — the mapInPandas analog); its plan must stay scan
    // → deserialize/map → serialize → final sort. A Join or Aggregate
    // appearing here means the per-format decode stopped being a pure
    // map over the document scan.
    val plan = formatted(graft.ops.Multimodal.frameSample(spark, sf))
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("HashAggregate"), plan.take(2000))
    assert(plan.contains("MapPartitions"), plan.take(2000))
  }

  test("ngram/line ops: the words split stays a projection, never in a lambda") {
    // an inlined split re-executes per lambda element in interpreted
    // HOF eval (O(words²) per doc — the x42 lesson, re-measured this
    // round: x35 ran 40× at the 10× probe before this projection);
    // every occurrence of the split in the optimized plan must be a
    // plain `... AS w#` projection (one per document scan), never part
    // of a lambda-bearing Generate/Project line
    Seq("x35" -> graft.ops.TextAnalysis.topNgrams(spark, sf),
        "x36" -> graft.ops.TextAnalysis.boilerplateScrub(spark, sf),
        "x44" -> graft.ops.TextAnalysis.lineDedup(spark, sf),
        "x46" -> graft.ops.TextAnalysis.refCoverage(spark, sf),
        "x47" -> graft.ops.Dedup.spanDecontaminate(spark, sf),
        "x69" -> graft.ops.TextAnalysis.qualityClassifier(spark, sf),
        "x70" -> graft.ops.Dedup.substringDedupRewrite(spark, sf))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.optimizedPlan.toString
        val lines = plan.linesIterator.filter(_.contains("split(text")).toSeq
        assert(lines.nonEmpty, s"$name: no split in plan?")
        lines.foreach { l =>
          assert(l.contains("AS w#") && !l.contains("lambdafunction"),
            s"$name: split escaped its projection:\n${l.trim.take(400)}")
        }
      }
  }

  test("x25 encode: normalization projected once, not re-inlined per subspace") {
    // the same interpreted-HOF defect class as the split gate above:
    // the inline transform(v, _/nrm) form re-executed the 64-element
    // normalization once per subspace slice (16×). Projected as `vhat`,
    // the norm column is referenced exactly once in the plan — a
    // re-inline would reference it per subspace.
    // note the cache manager may substitute the memoized pqIndex frame
    // into this plan (suite-order-dependent); InMemoryRelation prints
    // its stored child plan, so the signatures below survive either way
    val all = graft.ops.Similarity.corpus(spark, sf)
    val plan = graft.ops.Similarity
      .pqIndexOf(all, graft.ops.Similarity.pqCodebooksOf(all))
      .queryExecution.optimizedPlan.toString
    // projected form: every subspace slices the vhat ATTRIBUTE; the
    // re-inlined form slices a transform(...) expression directly
    assert("slice\\(vhat#\\d+".r.findAllIn(plan).length >= 16,
      s"subspace slices not on the projected vhat\n${plan.take(1200)}")
    assert(!plan.contains("slice(transform("),
      s"normalization re-inlined into a subspace slice\n${plan.take(1200)}")
  }

  test("x46/x47: ngram joins are hash equi joins, no nested loop") {
    val cov = formatted(graft.ops.TextAnalysis.refCoverage(spark, sf))
    assert(!cov.contains("CartesianProduct"), cov.take(1500))
    assert(!cov.contains("BroadcastNestedLoopJoin"), cov.take(1500))
    val span = formatted(graft.ops.Dedup.spanDecontaminate(spark, sf))
    // the benchmark ngram side carries an explicit broadcast hint
    assert("BroadcastHashJoin".r.findAllIn(span).length >= 2, span.take(2000))
    assert(!span.contains("CartesianProduct"), span.take(1500))
    assert(!span.contains("BroadcastNestedLoopJoin"), span.take(1500))
  }

  test("x54: heavy lifting is one corpus aggregation; dims stay broadcast") {
    val plan = formatted(graft.ops.Sampling.unimaxAlloc(spark, sf))
    // the two single-row reductions cross-join back via broadcast —
    // never a shuffled cartesian over anything non-scalar
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("n09: 100k-variant lookups stay broadcast joins, dim not inlined") {
    val q = graft.ops.LocationResolve.dictScale(spark, sf)
    val plan = formatted(q)
    // r15/r17: the two regex tiers are STATICALLY skipped under the
    // typed combinedPattern=None contract, so the live tiers are exact +
    // stripped-exact — 2 joins, FormattedMode doubling => >= 4
    // mentions (n07's full 4-tier shape keeps its own >= 8 gate in
    // DictionaryScaleSpec, where the pattern is real)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 4, plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // the dictionary must be join data, not a plan literal
    assert(plan.length < 200000, s"plan size ${plan.length} suggests inlining")
  }
}
