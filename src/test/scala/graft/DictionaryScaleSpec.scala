package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.LocationResolve

/** The claimed at-scale dictionary behavior, exercised at size: the n07
  * broadcast lookup must stay a flat broadcast-join plan (no plan-literal
  * blow-up) and resolve correctly against a 100k-variant dimension —
  * the regime where n06's constant-folded map form stops being viable. */
class DictionaryScaleSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("100k-variant dictionary: flat BHJ plan, correct resolution") {
    import spark.implicits._
    val n = 100000
    // synthetic normalized variants; ~100 variants per canonical city
    val dim = spark.range(n)
      .select(concat(lit("variant"), $"id").as("vkey"),
        concat(lit("City"), $"id" % 1000).as("canon"))
    // token frame in the explodedTokens shape: a third exact hits, a
    // third embedded hits (tier-2 regex capture), a third misses
    val tokens = spark.range(3000).select(
      $"id".as("tok_id"),
      when($"id" % 3 === 0, concat(lit("variant"), $"id" * 37 % n))
        .when($"id" % 3 === 1,
          concat(lit("go to variant"), $"id" * 37 % n, lit(" now")))
        .otherwise(concat(lit("unknown"), $"id")).as("norm"))
      // non-constant, else Catalyst (correctly) constant-folds the two
      // stripped-tier joins out of the plan and the 4-join gate can't hold
      .withColumn("stripped",
        when($"tok_id" % 5 === 0, lit("op")).otherwise(lit("")))
      .withColumn("strippedNorm", $"norm")
    // tier-2 pattern derived from THIS dim's key shape (the helper's
    // contract: pattern and dim must come from the same variant set)
    val pattern = "(?U)(?<![\\w])(variant[0-9]+)(?![\\w])"

    val resolved = LocationResolve.resolveTokensBroadcast(tokens, dim, Some(pattern))
    val plan = resolved.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // FormattedMode prints each operator twice (tree + details): 4
    // lookup joins must yield 8 mentions — >= 8 so a tier regressing to
    // a shuffle join fails the gate
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 8, plan.take(1500))
    // the dictionary must be join data, not a 100k-entry plan literal
    assert(plan.length < 100000, s"plan size ${plan.length} suggests inlining")

    val out = resolved.select($"tok_id", $"norm", $"loc").collect()
    assert(out.length == 3000)
    out.foreach { r =>
      val id = r.getLong(0)
      if (id % 3 <= 1)
        assert(r.getString(2) == "City" + (id * 37 % n % 1000),
          s"tok $id (${if (id % 3 == 0) "exact" else "embedded"}) " +
            s"resolved to ${r.getString(2)}")
      else assert(r.isNullAt(2), s"tok $id should miss")
    }
  }

  test("n11 blocked fuzzy ≡ exhaustive token_sort_ratio argmax") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val sfDir = "/root/testdata/sf0.001"
    val part = graft.Tables.part(spark, sfDir)

    // the exhaustive oracle: crossJoin every probe against the FULL
    // n09 dim, same scorer / cutoff / tie-break — O(|probes|·|dict|),
    // viable only at fixture scale, which is exactly why n11 exists
    val probes = LocationResolve.fuzzyProbes(part)
    val dim = LocationResolve.scaleDim(part)
    val exhaustive = probes.crossJoin(dim)
      .withColumn("score",
        graft.functions.CustomExprs.token_sort_ratio($"norm", $"vkey"))
      .where($"score" >= graft.nlp.Cleaner.FuzzyScoreCutoff)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"tok_id").orderBy($"score".desc, $"vkey".asc)))
      .where($"rn" === 1)
      .select($"tok_id", $"canon".as("eloc"), $"score".as("escore"))
    val expected = probes.join(exhaustive, Seq("tok_id"), "left")
      .select($"tok_id", $"eloc", $"escore")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
      .toMap

    val got = LocationResolve.fuzzyDictScale(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(2)), if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
      .toMap

    assert(got.keySet == expected.keySet)
    // recall gate: the blocked candidate generator must reproduce the
    // exhaustive argmax EXACTLY — the token-pair keys make recall
    // structural (a single-token edit leaves ≥1 of the 3 pair keys
    // intact), so anything less than 1.0 is a blocking bug, not noise
    val diverging = got.keySet.filter(k => got(k) != expected(k))
    assert(diverging.isEmpty,
      s"${diverging.size}/${got.size} probes diverge from the " +
        s"exhaustive argmax, e.g. ${diverging.take(3).map(k =>
          s"tok $k got ${got(k)} want ${expected(k)}").mkString("; ")}")
    // the probe construction itself must exercise both outcomes
    val hits = got.values.count(_._1.isDefined)
    assert(hits > 0 && hits < got.size,
      s"degenerate probe set: $hits/${got.size} hits")
  }

  test("n12 composed resolver: forced-blocked ≡ forced-exhaustive on the " +
      "n09 dim; the size switch picks each branch where designed") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val part = graft.Tables.part(spark, "/root/testdata/sf0.001")
    // the n11 probe family (single-token edits — the blocked form's
    // structural-recall class) as the distinct fuzzy-probe dim the
    // composed resolver feeds fuzzyResolveDim
    val probes = LocationResolve.fuzzyProbes(part)
      .select($"norm".as("fnorm")).distinct()
    val dim = LocationResolve.scaleDim(part)
      .withColumn("vorder", org.apache.spark.sql.functions.lit(0L))
    // gramGuard forced ON: the n09 dim's 64 shared name texts make
    // its gram blocks deep (r16 keys EVERY entry's grams for the
    // multi↔multi closure), so the measured guard now — correctly —
    // routes this low-entropy dictionary exhaustive; forcing it keeps
    // this test gating the KEY FAMILIES and the switch (the guard's
    // own verdict has its own tests)
    def resolved(blocked: Boolean): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, Some(blocked),
          gramGuard = Some(true))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(blocked = true), resolved(blocked = false))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3).map(k =>
        s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}").mkString("; ")}"
    })
    assert(b.nonEmpty, "degenerate: no probe resolved on either branch")
    // the switch itself: the 100k-regime dim must pick the blocked
    // branch (no BroadcastNestedLoopJoin from a dim crossJoin), the
    // bundled-size dim the exhaustive one (its deliberate dim-sized
    // crossJoin IS a BNLJ)
    def planOf(d: org.apache.spark.sql.DataFrame) = LocationResolve
      .fuzzyResolveDim(probes, d, gramGuard = Some(true))
      .queryExecution.executedPlan.toString
    assert(!planOf(dim).contains("BroadcastNestedLoopJoin"),
      "large dim routed through the exhaustive crossJoin")
    val tiny = dim.limit(100)
    assert(planOf(tiny).contains("BroadcastNestedLoopJoin"),
      "small dim did not take the exhaustive-argmax branch")
  }

  test("gramScheme constants derive exactly from the cutoff") {
    val sch = LocationResolve.gramScheme(82.0)
    // T(L) = max(1, ceil(0.28·L)−1) in exact integer arithmetic
    assert(Seq(2, 3, 7, 8, 10, 11, 12, 30).map(sch.tOf) ==
      Seq(1, 1, 1, 2, 2, 3, 3, 8))
    assert(sch.f2MinLen == 8, "first length with T ≥ 2")
    assert(sch.f1MaxLen == 10, "longest length band-matching a T=1 partner")
    // cutoff ≤ 75 degrades to keep-everything (T ≡ 1), never unsound
    val lo = LocationResolve.gramScheme(70.0)
    assert(lo.tOf(50) == 1 && lo.f2MinLen == Int.MaxValue)
  }

  test("gram-blocked fuzzy ≡ exhaustive on a 100k SINGLE-token dim, " +
      "arbitrary-position edits; the switch picks blocked") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // the n13 dictionary shape at full size: 100k single-token
    // variants (5 surface forms × 20k keys, 12-letter pseudorandom
    // tokens), NOT from parquet — the spec gate is the dim size, and
    // range() keys make it sf-independent
    val dim = LocationResolve.gramScaleDim(
      spark.range(20000).select($"id".as("p_partkey")))
      .withColumn("vorder", org.apache.spark.sql.functions.lit(0L))
    // probes: the registered edit families at key-dependent ARBITRARY
    // positions (drop/substitute/swap + exacts + a structural miss)…
    val base = LocationResolve.gramProbes(
      spark.range(0, 20000, 41).select($"id".as("p_partkey")))
    // …plus spec-only DOUBLE edits (end-trim both sides, mid insert)
    // the single-char structural argument never covered — only the
    // count-filter derivation does
    val exact = base.filter(pmod($"tok_id", lit(8)) === 0)
    val extra = exact.select(expr("substr(norm, 2, length(norm) - 2)").as("norm"))
      .union(exact.select(
        expr("substr(norm, 1, 4) || 'qq' || substr(norm, 5, 12)").as("norm")))
    val probes = base.select($"norm".as("fnorm"))
      .union(extra.select($"norm".as("fnorm"))).distinct()
    // fuzzyResolveDim emits HITS only (misses return via the callers'
    // left join) — map equality therefore compares argmax AND miss sets
    def resolved(blocked: Boolean): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, Some(blocked))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(blocked = true), resolved(blocked = false))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3)
        .map(k => s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}")
        .mkString("; ")}"
    })
    val nProbes = probes.count()
    assert(e.nonEmpty && e.size < nProbes,
      s"degenerate: ${e.size}/$nProbes hits")
    // the size switch must route this dim through the blocked branch
    val plan = LocationResolve.fuzzyResolveDim(probes, dim)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "100k single-token dim did not take the blocked branch")
  }

  test("gram-blocked fuzzy ≡ exhaustive on a SHORT single-token dim " +
      "(the F1 single-gram regime) and on tiny/edge strings") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // lengths 5..9 sit at T=1..2 — below the pair-key regime, where
    // recall rides the g1 family alone
    val dim = LocationResolve.gramScaleDim(
      spark.range(2000).select($"id".as("p_partkey")))
      .filter(not($"vkey".rlike("^[A-Z]")))
      .select(expr(
        "substr(vkey, 1, 5 + CAST(pmod(xxhash64(vkey), 5) AS INT))")
        .as("vkey"))
      .withColumn("canon", $"vkey").distinct()
      .withColumn("vorder", lit(0L))
    val probes = dim.select(
        // drop the char at a length-dependent position (d=1)
        expr("substr(vkey, 1, length(vkey) % 4 + 1 - 1) || " +
          "substr(vkey, length(vkey) % 4 + 2, 12)").as("fnorm"))
      .union(dim.select($"vkey".as("fnorm")))                  // exact
      .union(Seq("a", "ab", "zz9x", "").toDF("fnorm"))         // edges
      .union(dim.limit(50).select(concat($"vkey", lit("q")).as("fnorm")))
      .distinct()
    // gramGuard forced: this test gates the F1-regime LEMMA; short
    // strings over a 2000-entry dim sit near the economics boundary,
    // and a tripped guard would make blocked ≡ exhaustive VACUOUSLY
    // (the fallback IS exhaustive)
    def resolved(blocked: Boolean): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, Some(blocked),
          gramGuard = Some(true))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(blocked = true), resolved(blocked = false))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3)
        .map(k => s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}")
        .mkString("; ")}"
    })
    val nProbes = probes.count()
    assert(e.nonEmpty && e.size < nProbes,
      s"degenerate: ${e.size}/$nProbes hits")
  }

  test("tiny-string families: w-key exacts and sub-cutoff misses " +
      "blocked ≡ exhaustive") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val dim = Seq(("a", "A"), ("ab", "AB"), ("xy", "XY"), ("qrs", "QRS"))
      .toDF("vkey", "canon").withColumn("vorder", lit(0L))
    val probes = Seq("a", "b", "ab", "abc", "xy", "qr", "")
      .toDF("fnorm")
    // gramGuard forced: a 4-entry dim trivially fails any economics
    // ratio; this test gates the w-/g-key FAMILIES, not the guard
    def resolved(blocked: Boolean): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, Some(blocked),
          gramGuard = Some(true))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(blocked = true), resolved(blocked = false))
    assert(b == e, s"tiny-string divergence: $b vs $e")
    assert(b("a") == "A" && b("ab") == "AB" && !b.contains("b"))
  }

  test("key-lemma fuzz: random single-token universe, blocked ≡ " +
      "exhaustive for EVERY chance in-cutoff pair") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // a 4-letter alphabet and lengths 2..18 make in-cutoff pairs
    // common BY CHANCE — this gates the prefix/count-filter lemma
    // against arbitrary edit patterns, not the constructed families
    // the other tests use. Fixed seed: a failure must reproduce.
    // gramGuard forced OFF below: this universe is deliberately
    // low-gram-entropy, which the r15 depth guard would (correctly)
    // route to the exhaustive fallback — vacuous for the lemma this
    // test exists to gate; the guard's own behavior has its own test.
    val rnd = new scala.util.Random(20260815)
    val strs = Seq.fill(2500)(
      (1 to (2 + rnd.nextInt(17)))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString).distinct
    // disjoint halves: a probe inside the dim argmaxes to itself at
    // 100 and would mask any recall loss on its near neighbors
    val (dimStrs, probeStrs) = strs.zipWithIndex.partition(_._2 % 2 == 0)
    val dim = dimStrs.map(_._1).toDF("vkey")
      .withColumn("canon", $"vkey").withColumn("vorder", lit(0L))
    val probes = probeStrs.map(_._1).toDF("fnorm")
    def resolved(blocked: Boolean): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, Some(blocked),
          gramGuard = Some(true))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(blocked = true), resolved(blocked = false))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging strings, e.g. ${diff.take(3)
        .map(k => s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}")
        .mkString("; ")}"
    })
    // the split universe must actually produce fuzzy hits, or the
    // gate is vacuous
    assert(e.size > 50, s"degenerate fuzz universe: ${e.size} hits")
  }

  test("cross-shape closure: single-token probe FINDS the multi-token " +
      "variant on the blocked branch; the r15 multi↔multi boundary is " +
      "CLOSED (r16 spaced-gram family)") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // "newyork" vs dictionary "new york": score 100·(1−1/15) ≈ 93.3 —
    // the r14 blocking missed it (probe emitted gram keys, variant
    // token-pair keys); since r15 the gram family keys both sides on
    // the sorted join (r16: the SPACED form — the scorer's own
    // string), so the blocked branch must catch it. The reverse
    // direction (multi-token probe vs single-token variant) rides the
    // same keys ("alpha" < "beta" keeps the sorted join aligned).
    val dim = Seq(("new york", "NY"), ("los angeles", "LA"),
        ("alphabeta", "AB"))
      .toDF("vkey", "canon").withColumn("vorder", lit(0L))
    val probes = Seq("newyork", "alpha beta").toDF("fnorm")
    val exh = LocationResolve.fuzzyResolveDim(probes, dim, Some(false))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(exh("newyork") == "NY", "exhaustive must catch the despaced form")
    assert(exh("alpha beta") == "AB")
    // gramGuard forced: a 3-entry dim trivially fails the economics
    // ratio, and the tripped-guard fallback IS exhaustive — vacuous
    // for the KEY families this test gates
    val blk = LocationResolve.fuzzyResolveDim(probes, dim, Some(true),
        gramGuard = Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(blk == exh,
      s"blocked branch missed a cross-shape pair: $blk vs $exh — the " +
        "spaced gram family regressed")
    // the r15 boundary, now CLOSED: an in-cutoff multi↔multi pair
    // sharing <2 of the first-3 tokens — "ab cd x" vs "abcd x"
    // (despacing within a multi-token string; score 100·(1−1/13) =
    // 92.3, no shared token pair). The classic q-gram bound holds on
    // the SPACED sorted joins ("ab cd x" vs "abcd x" share ≥
    // max(7,6)−1−2·1 = 4 indexed bigrams), so the r16 keys catch it —
    // the blocked branch must now EQUAL the exhaustive scorer here.
    val dim2 = Seq(("ab cd x", "M")).toDF("vkey", "canon")
      .withColumn("vorder", lit(0L))
    val probes2 = Seq("abcd x").toDF("fnorm")
    val exh2 = LocationResolve.fuzzyResolveDim(probes2, dim2, Some(false))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(exh2("abcd x") == "M", "fixture drifted: pair not in cutoff")
    val blk2 = LocationResolve.fuzzyResolveDim(probes2, dim2, Some(true),
        gramGuard = Some(true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(blk2.get("abcd x").contains("M"),
      "blocked branch missed the multi↔multi despaced pair — the r16 " +
        "spaced-gram closure regressed to the r15 boundary")
  }

  test("multi↔multi closure (r16): blocked ≡ exhaustive on the " +
      "multiScaleDim universe — every fuzzy probe damages BOTH tokens, " +
      "so zero token-pair keys survive and recall rides spaced grams") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // the n15 registered fixture at spec scale, plus spec-only edits
    // the construction families never cover: a despaced two-token
    // probe WITH an extra drop (space deletion + char edit — the
    // "برج العرب" ↔ "برجالعرب" fused-variant class from the r15
    // verdict), and a mid-insert straddling the space
    val part = spark.range(3000).select($"id".as("p_partkey"))
    val dim = LocationResolve.multiScaleDim(part)
      .withColumn("vorder", lit(0L))
    val base = LocationResolve.multiProbes(
      spark.range(0, 3000, 7).select($"id".as("p_partkey")))
    val exact = base.filter(pmod($"tok_id", lit(5)) === 0)
    val extra = exact
      // despace + drop one char (d = 2): fused-variant class
      .select(expr("replace(substr(norm, 2, 20), ' ', '')").as("norm"))
      // insert a token boundary shift: drop the space, add one at
      // position 4 instead (d = 2, tokens re-sort)
      .union(exact.select(
        expr("substr(replace(norm, ' ', ''), 1, 4) || ' ' || " +
          "substr(replace(norm, ' ', ''), 5, 12)").as("norm")))
    val probes = base.select($"norm".as("fnorm"))
      .union(extra.select($"norm".as("fnorm"))).distinct()
    def resolved(blocked: Boolean): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, Some(blocked),
          gramGuard = Some(true))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(blocked = true), resolved(blocked = false))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3)
        .map(k => s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}")
        .mkString("; ")}"
    })
    val nProbes = probes.count()
    assert(e.nonEmpty && e.size < nProbes,
      s"degenerate: ${e.size}/$nProbes hits")
    // the MEASURED guards must read this high-entropy universe as
    // healthy (no exhaustive-fallback BNLJ in the default plan) — the
    // registered n15's blocked-path-under-driver-gate claim depends
    // on it, and the first-letter spread exists exactly so the
    // space-adjacent grams can't skew the depth ratio (see the
    // multiHalfExprs scaladoc)
    graft.Caches.clear(spark)
    val plan = LocationResolve.fuzzyResolveDim(probes, dim)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "multi-token dim routed through a crossJoin — guard or switch bug")
  }

  test("token-pair economics guard (r16): a shared-head-token dictionary " +
      "trips the t-family guard, t: keys drop from the plan, and results " +
      "stay ≡ exhaustive (grams carry recall)") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // the r15 verdict's unguarded-quadratic class: thousands of
    // phrases sharing their leading sorted tokens ("new york <x>"
    // families) — every entry lands in the SAME deep t-block
    // ("new|york"), while the trailing token is high-entropy so the
    // gram guard stays green
    val dim = spark.range(3000)
      .select(expr(
        "'new york ' || concat_ws('', transform(sequence(1, 9), " +
          "i -> chr(97 + CAST(pmod(xxhash64(id, i), 26) AS INT))))").as("vkey"))
      .distinct()
      .withColumn("canon", $"vkey").withColumn("vorder", lit(0L))
      .localCheckpoint()
    assert(dim.count() > LocationResolve.FuzzyBlockSwitch)
    // the guard itself must trip on this dictionary's keyed index for
    // the t-family and PASS for the gram family
    val keys = LocationResolve.withBlockKeys(
      dim.select($"vkey"), "vkey", LocationResolve.gramDfOf(dim, "vkey"), "dlen",
      graft.nlp.Cleaner.FuzzyScoreCutoff, crossGrams = true)
    assert(!LocationResolve.gramDepthOk(keys, idCol = "vkey", family = "t:"),
      "t-family guard did NOT trip on a shared-head-token dictionary")
    // probes: single-token edits of the tail (the t-family's own
    // recall class — it MUST survive the family being dropped) plus
    // exacts and a both-token edit
    val probes = dim.limit(300).select(
        expr("substr(vkey, 1, 10) || substr(vkey, 12, 10)").as("fnorm"))
      .union(dim.limit(80).select($"vkey".as("fnorm")))         // exacts
      .union(dim.limit(60).select(                              // 2-token damage
        expr("'nev york ' || substr(vkey, 10, 4) || substr(vkey, 15, 10)")
          .as("fnorm")))
      .distinct().localCheckpoint()
    // gramGuard forced ON: the shared "new york" head makes the gram
    // blocks deep too (the honest default would route the whole set
    // exhaustive, making the t-family equivalence vacuous) — this
    // test gates the T-FAMILY guard + the grams-carry-recall claim,
    // and pairGuard is left MEASURED so the trip exercises the real
    // verdict path
    def resolved(pair: Option[Boolean]): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim,
          Some(true), gramGuard = Some(true), pairGuard = pair)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dflt = resolved(None)                 // t-guard measured: trips
    val forcedOff = resolved(Some(false))     // t: dropped explicitly
    val exh = LocationResolve.fuzzyResolveDim(probes, dim, Some(false))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dflt == exh, {
      val diff = (dflt.keySet ++ exh.keySet)
        .filter(k => dflt.get(k) != exh.get(k))
      s"${diff.size} diverging probes with the t-family dropped, e.g. " +
        diff.take(3).map(k =>
          s"'$k' default=${dflt.get(k)} exhaustive=${exh.get(k)}").mkString("; ")
    })
    assert(forcedOff == exh, "forced pairGuard=false diverges")
    assert(dflt.size > 200, s"degenerate: ${dflt.size} hits")
  }

  test("n14 cross-shape: blocked ≡ exhaustive on the crossScaleDim " +
      "universe (single-token probes, multi-token-only dictionary)") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // the registered fixture at spec scale, plus spec-only DOUBLE-edit
    // despaced probes (end-trim, mid insert) the construction families
    // never cover — the spaced q-gram bound must hold for arbitrary
    // edit patterns, not just the registered ones
    val part = spark.range(3000).select($"id".as("p_partkey"))
    val dim = LocationResolve.crossScaleDim(part)
      .withColumn("vorder", lit(0L))
    val base = LocationResolve.crossProbes(
      spark.range(0, 3000, 7).select($"id".as("p_partkey")))
    val despaced = base.filter(pmod($"tok_id", lit(5)) === 1)
    val extra = despaced
      .select(expr("substr(norm, 2, length(norm) - 2)").as("norm"))
      .union(despaced.select(
        expr("substr(norm, 1, 5) || 'q' || substr(norm, 6, 12)").as("norm")))
    val probes = base.select($"norm".as("fnorm"))
      .union(extra.select($"norm".as("fnorm"))).distinct()
    def resolved(blocked: Boolean): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, Some(blocked))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(blocked = true), resolved(blocked = false))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3)
        .map(k => s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}")
        .mkString("; ")}"
    })
    val nProbes = probes.count()
    assert(e.nonEmpty && e.size < nProbes,
      s"degenerate: ${e.size}/$nProbes hits")
    // the guard must NOT trip here (high-entropy halves): the blocked
    // plan may not contain the per-class exhaustive fallback
    graft.Caches.clear(spark)
    val plan = LocationResolve.fuzzyResolveDim(probes, dim)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "cross-shape dim routed through a crossJoin — guard or switch bug")
  }

  test("probe-broadcast switch: shuffle form ≡ broadcast form; both " +
      "physical shapes appear as forced") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val part = spark.range(1500).select($"id".as("p_partkey"))
    val dim = LocationResolve.gramScaleDim(part).withColumn("vorder", lit(0L))
    val probes = LocationResolve.gramProbes(
      spark.range(0, 1500, 5).select($"id".as("p_partkey")))
      .select($"norm".as("fnorm")).distinct()
    def resolved(bcast: Boolean): Map[String, String] =
      Broadcasts.forcing(bcast)(
          LocationResolve.fuzzyResolveDim(probes, dim, Some(true)))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (bc, sh) = (resolved(bcast = true), resolved(bcast = false))
    assert(bc == sh, {
      val diff = (bc.keySet ++ sh.keySet).filter(k => bc.get(k) != sh.get(k))
      s"${diff.size} diverging probes through the shuffle form"
    })
    assert(bc.nonEmpty, "degenerate universe")
  }

  test("low-gram-entropy dictionary: the depth guard trips, single-token " +
      "probes route to the exhaustive fallback, results ≡ exhaustive") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // a closed 4-letter character vocabulary at dictionary scale — the
    // regime LocationResolve.scala documented as belonging under the
    // exhaustive switch; the r15 guard turns that doc into a plan
    // decision. 5000 entries keep the blocked switch ON (≫ 512) while
    // gram blocks run hundreds deep.
    val dim = spark.range(5000)
      .select(expr(
        "concat_ws('', transform(sequence(1, 8 + CAST(id % 5 AS INT)), " +
          "i -> chr(97 + CAST(pmod(xxhash64(id, i), 4) AS INT))))").as("vkey"))
      .distinct()
      .withColumn("canon", $"vkey").withColumn("vorder", lit(0L))
      .localCheckpoint()
    assert(dim.count() > LocationResolve.FuzzyBlockSwitch,
      "fixture drifted below the blocked switch")
    // single-token probes: drops at a key-dependent position + exacts
    val probes = dim.limit(400).select(
        expr("substr(vkey, 1, length(vkey) % 5 + 1 - 1) || " +
          "substr(vkey, length(vkey) % 5 + 2, 20)").as("fnorm"))
      .union(dim.limit(100).select($"vkey".as("fnorm")))
      .distinct().localCheckpoint()
    // the guard itself must actually trip on this dictionary's keyed
    // index — otherwise the fallback assertions below are vacuous
    val keys = LocationResolve.withBlockKeys(
      dim.select($"vkey"), "vkey", LocationResolve.gramDfOf(dim, "vkey"), "dlen",
      graft.nlp.Cleaner.FuzzyScoreCutoff)
    assert(!LocationResolve.gramDepthOk(keys, idCol = "vkey"),
      "economics guard did NOT trip on a closed-4-letter-vocabulary " +
        "dict — GramDepthRatio or the stats are wrong")
    // default path (guard measured): single probes fall back to the
    // explicit exhaustive crossJoin — visible as a BNLJ in the plan
    graft.Caches.clear(spark)
    val plan = LocationResolve.fuzzyResolveDim(probes, dim)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "guard tripped but no exhaustive fallback branch in the plan")
    def resolved(blocked: Option[Boolean]): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, blocked)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (dflt, exh) = (resolved(None), resolved(Some(false)))
    assert(dflt == exh, {
      val diff = (dflt.keySet ++ exh.keySet)
        .filter(k => dflt.get(k) != exh.get(k))
      s"${diff.size} diverging probes under the guard fallback, e.g. " +
        diff.take(3).map(k =>
          s"'$k' default=${dflt.get(k)} exhaustive=${exh.get(k)}").mkString("; ")
    })
    assert(dflt.size > 100, s"degenerate: ${dflt.size} hits")
    // r17 (VERDICT #3): the fallback's dictionary broadcast is
    // size-gated — a pathological AND huge dictionary must degrade to
    // a non-broadcast join instead of driver memory pressure. The
    // forced non-broadcast form must be row-identical, and its plan
    // must physically leave the broadcast (auto-broadcast disabled so
    // Catalyst's size estimate can't re-broadcast the small fixture
    // dim and vacuously pass)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val shuffledExh =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = Broadcasts.forcing(false)(
          LocationResolve.fuzzyResolveDim(probes, dim))
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"forced non-broadcast form still broadcasts the dictionary\n" +
            p.take(1500))
        assert(p.contains("CartesianProduct"),
          s"no shuffled cartesian in the forced form\n${p.take(1500)}")
        df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    assert(shuffledExh == dflt, {
      val diff = (shuffledExh.keySet ++ dflt.keySet)
        .filter(k => shuffledExh.get(k) != dflt.get(k))
      s"${diff.size} diverging probes through the non-broadcast " +
        s"fallback, e.g. ${diff.take(3).map(k =>
          s"'$k' shuffled=${shuffledExh.get(k)} bcast=${dflt.get(k)}")
          .mkString("; ")}"
    })
  }

  test("guard fallback carries REPEATED-token probes (single-shaped, " +
      "zero pair keys): tripped-guard default ≡ exhaustive including them") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // the low-entropy dim again (guard trips), now with repeated-token
    // entries whose only in-cutoff probes are themselves repeated-token
    // — a plain ^\S+$ fallback filter silently dropped this class
    // (review finding, r15): shapeStats counts them single-shaped, no
    // key family exists for them when grams are off, so the fallback
    // MUST score them
    val singles = spark.range(2000)
      .select(expr(
        "concat_ws('', transform(sequence(1, 9 + CAST(id % 3 AS INT)), " +
          "i -> chr(97 + CAST(pmod(xxhash64(id, i), 4) AS INT))))").as("vkey"))
      .distinct().localCheckpoint() // limit() below must sample stably
    val repeatedBase = singles.limit(80).localCheckpoint()
    val repeated = repeatedBase
      .select(concat($"vkey", lit(" "), $"vkey").as("vkey"))
    val dim = singles.unionByName(repeated)
      .withColumn("canon", $"vkey").withColumn("vorder", lit(0L))
      .localCheckpoint()
    assert(dim.count() > LocationResolve.FuzzyBlockSwitch)
    // edited repeated probes trim BOTH copies (one char each, d=2,
    // score 100·(1−2/4ℓ) ≫ 82): a single-copy edit would break the
    // repetition and leave the single-shaped class entirely
    val probes = repeated.select($"vkey".as("fnorm"))            // exacts
      .union(repeatedBase.select(
        expr("substr(vkey, 1, length(vkey) - 1) || ' ' || " +
          "substr(vkey, 1, length(vkey) - 1)").as("fnorm")))
      .union(singles.limit(100).select($"vkey".as("fnorm")))
      .distinct().localCheckpoint()
    def resolved(blocked: Option[Boolean]): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, blocked)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (dflt, exh) = (resolved(None), resolved(Some(false)))
    assert(dflt == exh, {
      val diff = (dflt.keySet ++ exh.keySet)
        .filter(k => dflt.get(k) != exh.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3).map(k =>
        s"'$k' default=${dflt.get(k)} exhaustive=${exh.get(k)}").mkString("; ")}"
    })
    // non-vacuity: repeated-token probes actually resolved
    val repHits = dflt.keySet.count(_.contains(" "))
    assert(repHits >= 80, s"only $repHits repeated-token probes resolved " +
      "— the fallback class predicate regressed")
  }

  test("memoized index is probe-set-independent: an all-multi first " +
      "caller must not cache a pair-only index that nulls later " +
      "single-token probes") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val part = spark.range(1500).select($"id".as("p_partkey"))
    val dim = LocationResolve.crossScaleDim(part)
      .withColumn("vorder", lit(0L)).localCheckpoint()
    val memoKey = Some(s"spec-probe-indep-${System.identityHashCode(dim)}")
    // call 1: all-MULTI probes (exact spaced vkeys) — builds + memoizes
    // the index; before the r15 review fix this cached a
    // token-pair-only index (gramsWanted=false) and the guard memo
    // read vacuously green over zero gram keys
    val multiProbes = dim.limit(200).select($"vkey".as("fnorm"))
    val first = LocationResolve.fuzzyResolveDim(
        multiProbes, dim, Some(true), indexMemoKey = memoKey)
      .collect()
    assert(first.length == 200, "multi exacts must all self-resolve")
    // call 2, SAME memo key: single-token despaced probes — their
    // recall rides the gram keys the cached index must carry
    val singleProbes = dim.limit(150)
      .select(translate($"vkey", " ", "").as("fnorm")).distinct()
    val second = LocationResolve.fuzzyResolveDim(
        singleProbes, dim, Some(true), indexMemoKey = memoKey)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val exh = LocationResolve.fuzzyResolveDim(singleProbes, dim, Some(false))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(second == exh, {
      val diff = (second.keySet ++ exh.keySet)
        .filter(k => second.get(k) != exh.get(k))
      s"${diff.size} probes lost to the first caller's probe shape, " +
        s"e.g. ${diff.take(3).mkString(", ")}"
    })
    assert(exh.size >= 140, s"degenerate: ${exh.size} hits")
  }

  test("length band derives from the cutoff: len-diff > 8 hits survive") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // The r12 fixed half-width of 8 was lossy: at la+lb ≥ ~50, score
    // ≥ 82 admits indel distance up to 0.18·(la+lb) > 8. Pin the exact
    // counterexample family — la=50, lb=60, pure 10-char append ⇒
    // d=10, score 100·(1−10/110)=90.9 ≥ 82, len diff 10 — and one
    // provably-impossible pair the derived band must still drop.
    val a = "x" * 50
    val rows = Seq(
      (a, a + ("y" * 10)),   // above cutoff, len diff 10: MUST survive
      ("z" * 10, "z" * 30)). // max score 50 < 82: MUST be dropped
      toDF("p", "d")
      .withColumn("score",
        graft.functions.CustomExprs.token_sort_ratio($"p", $"d"))
      .withColumn("band", LocationResolve.fuzzyLenBandPred(
        length($"p"), length($"d"), graft.nlp.Cleaner.FuzzyScoreCutoff))
      .collect().map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(rows(0)._1 >= graft.nlp.Cleaner.FuzzyScoreCutoff,
      s"fixture drifted: append-10 pair scores ${rows(0)._1} < cutoff")
    assert(rows(0)._2, "derived band dropped an above-cutoff candidate " +
      s"(score ${rows(0)._1}, len diff 10) — the r12 lossy-band bug")
    assert(!rows(1)._2,
      "derived band kept a pair that cannot clear the cutoff")
  }

  test("Arabic fused multi-token variants through the blocked path " +
      "(r17): a dictionary-scale Arabic universe with real despaced " +
      "pairs (\"مدينة نصر\" ↔ \"مدينةنصر\"), normalization composed — " +
      "blocked ≡ exhaustive") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // synthetic two-token Arabic phrases (deterministic letter pool) +
    // the bundled reference dictionary's own Arabic multi-token
    // variants (locations.json shapes) + named real-world forms,
    // including a taa-marbuta/final-ha surface pair that only collides
    // AFTER normalization — the normalize→gram composition the ASCII
    // n15 universe could not exercise
    val letters = "ابتثجحخدذرزسشصضطظعغفقكلمنةي"
    def tok(seed: Int, len: Int): String =
      (0 until len).map(i =>
        letters(math.abs(seed * 31 + i * 7 + 11) % letters.length)).mkString
    val synth = (for (a <- 0 until 40; b <- 0 until 20)
      yield s"${tok(a, 4 + a % 3)} ${tok(1000 + b, 3 + b % 3)}").distinct
    val bundledMulti = graft.nlp.Locations.variantRows.map(_._1)
      .filter(v => v.contains(" ") && v.exists(c => c >= 'ا' && c <= 'ي'))
    val named = Seq("مدينة نصر", "مدينه نصر", "برج العرب", "شرم الشيخ")
    val raw = synth ++ bundledMulti ++ named
    val dim = raw.toDF("v")
      .select(graft.nlp.Normalize.normalizeCol($"v").as("vkey"))
      .distinct()
      .withColumn("canon", $"vkey").withColumn("vorder", lit(0L))
      .localCheckpoint()
    assert(dim.count() > LocationResolve.FuzzyBlockSwitch,
      "fixture drifted below the blocked switch")
    val spacedNasr = graft.nlp.Normalize.normalize("مدينة نصر")
    assert(graft.nlp.Normalize.normalize("مدينه نصر") == spacedNasr &&
        dim.filter($"vkey" === spacedNasr).count() == 1,
      "final-ha normalization did not collapse the two surface forms " +
        "to one dim row — normalizeCol drifted from normalize()")
    // probes: every phrase's despaced FUSED form (the r15 multi↔multi
    // boundary class, closed by the r16 spaced-gram family), a fused
    // one-char-deletion form, and spaced exacts
    val fused = dim.select(translate($"vkey", " ", "").as("fnorm"))
    val probes = fused
      .union(dim.limit(200).select(
        expr("substr(translate(vkey, ' ', ''), 1, 2) || " +
          "substr(translate(vkey, ' ', ''), 4, 40)").as("fnorm")))
      .union(dim.limit(150).select($"vkey".as("fnorm")))
      .distinct().localCheckpoint()
    def resolved(blocked: Option[Boolean]): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, blocked)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(Some(true)), resolved(Some(false)))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging Arabic probes, e.g. ${diff.take(3).map(k =>
        s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}").mkString("; ")}"
    })
    // non-vacuity: the named real-world fused pair resolves to its
    // spaced canon (tokens in sorted order → despacing is one indel,
    // score ≈ 94 ≥ 82), and the fused class as a whole carries real
    // traffic through the gram keys
    val fusedNasr = graft.nlp.Normalize.normalize("مدينةنصر")
    assert(b.get(fusedNasr).contains(spacedNasr),
      s"'مدينةنصر' resolved to ${b.get(fusedNasr)}, not 'مدينة نصر'")
    val spacedByFused = dim
      .select(translate($"vkey", " ", "").as("f"), $"vkey")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val fusedHits = b.count { case (f, canon) =>
      spacedByFused.get(f).contains(canon) }
    assert(fusedHits > 150,
      s"only $fusedHits fused Arabic probes resolved to their spaced " +
        "canon — the despaced class lost recall")
  }

  test("Arabic 3-token and mixed-script probes through the blocked " +
      "path (r18): fully/partially fused three-token phrases, " +
      "Arabic/ASCII mixed strings, op-prefix residue — blocked ≡ " +
      "exhaustive, with real recall on every class") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    // real logistics strings mix scripts and run past two tokens; the
    // r17 universe covered two-token fused pairs only. Build the
    // phrases with their tokens PRE-SORTED (token_sort_ratio's order)
    // so despacing is provably pure indels and the recall assertions
    // below are score-derivable, not luck: fully fused = 2 indels,
    // partially fused = 1, "من " residue = 3 — all ≥ 82 at these
    // lengths. ASCII-first mixed phrases are sort-stable because every
    // ASCII letter precedes every Arabic letter in code-point order.
    val letters = "ابتثجحخدذرزسشصضطظعغفقكلمنةي"
    def tok(seed: Int, len: Int): String =
      (0 until len).map(i =>
        letters(math.abs(seed * 31 + i * 7 + 11) % letters.length)).mkString
    val ascii = Seq("cairo", "giza", "port", "hub", "dock", "zone",
      "gate", "ring")
    val synth3 = (for (a <- 0 until 25; b <- 0 until 10) yield
      Seq(tok(a, 4 + a % 3), tok(500 + b, 3 + b % 2),
        tok(2000 + a + b, 4)).sorted.mkString(" ")).distinct
    val mixed2 = (for (a <- 0 until 40; s <- ascii)
      yield s"$s ${tok(a, 4 + a % 3)}").distinct
    val mixed3 = (for (a <- 0 until 20; s <- ascii.take(5))
      yield s"$s ${tok(a, 4)} ${tok(300 + a, 3)}").distinct
    val raw = synth3 ++ mixed2 ++ mixed3
    val dim = raw.toDF("v")
      .select(graft.nlp.Normalize.normalizeCol($"v").as("vkey"))
      .distinct()
      .withColumn("canon", $"vkey").withColumn("vorder", lit(0L))
      .localCheckpoint()
    assert(dim.count() > LocationResolve.FuzzyBlockSwitch,
      "fixture drifted below the blocked switch")
    val three = dim.filter(
      length($"vkey") - length(translate($"vkey", " ", "")) >= 2)
    assert(three.count() > 200, "three-token class drifted too small")
    // probes: fully fused, partially fused (first space kept, rest
    // dropped), op-prefix residue, and spaced exacts
    val fusedAll = dim.select(translate($"vkey", " ", "").as("fnorm"))
    val partial = three.select(expr(
      "concat(substring_index(vkey, ' ', 1), ' ', " +
        "translate(substring_index(vkey, ' ', -2), ' ', ''))").as("fnorm"))
    val residue = dim.limit(200)
      .select(concat(lit("من "), $"vkey").as("fnorm"))
    val probes = fusedAll.union(partial).union(residue)
      .union(dim.limit(150).select($"vkey".as("fnorm")))
      .distinct().localCheckpoint()
    def resolved(blocked: Option[Boolean]): Map[String, String] =
      LocationResolve.fuzzyResolveDim(probes, dim, blocked)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (b, e) = (resolved(Some(true)), resolved(Some(false)))
    assert(b == e, {
      val diff = (b.keySet ++ e.keySet).filter(k => b.get(k) != e.get(k))
      s"${diff.size} diverging probes, e.g. ${diff.take(3).map(k =>
        s"'$k' blocked=${b.get(k)} exhaustive=${e.get(k)}").mkString("; ")}"
    })
    // recall per class — each probe family must carry real traffic,
    // or the equality above is vacuous for it
    val byFused = dim
      .select(translate($"vkey", " ", "").as("f"), $"vkey")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val threeSet = three.select($"vkey")
      .collect().map(_.getString(0)).toSet
    val fusedThreeHits = b.count { case (f, canon) =>
      byFused.get(f).contains(canon) && threeSet(canon) }
    assert(fusedThreeHits > 150,
      s"only $fusedThreeHits fused THREE-token probes resolved to " +
        "their spaced canon")
    val mixedFusedHits = b.count { case (f, canon) =>
      byFused.get(f).contains(canon) &&
        canon.exists(c => c >= 'a' && c <= 'z') }
    assert(mixedFusedHits > 150,
      s"only $mixedFusedHits fused MIXED-SCRIPT probes resolved to " +
        "their spaced canon")
    val partialPairs = partial.collect().map(_.getString(0)).toSet
    val partialHits = b.count { case (f, canon) =>
      partialPairs(f) && threeSet(canon) &&
        f.replace(" ", "") == canon.replace(" ", "") }
    assert(partialHits > 150,
      s"only $partialHits partially-fused probes resolved to their canon")
    val residueSet = dim.limit(200)
      .select(concat(lit("من "), $"vkey").as("p"), $"vkey")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val residueHits = b.count { case (f, canon) =>
      residueSet.get(f).contains(canon) }
    assert(residueHits > 120,
      s"only $residueHits op-prefix-residue probes resolved to their " +
        "canon — the residue class lost recall")
  }
}
