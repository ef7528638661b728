package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis

/** Golden cases for the x34 redaction regexes and structural invariants
  * for the x36 boilerplate-line scrub (the cross-engine value parity of
  * both is the DuckDB oracle's job; these pin the intended semantics on
  * hand-written cases). */
class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  private def redacted(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("s").select(TextAnalysis.redact($"s")).head.getString(0)
  }

  test("x34 goldens: email forms") {
    assert(redacted("mail john.doe+spam@sub.example.co.uk now") ==
      "mail <EMAIL> now")
    assert(redacted("a_b%c-d@ex-1.org end") == "<EMAIL> end")
  }

  test("x34 goldens: url forms (scheme through to whitespace)") {
    assert(redacted("go to https://a.example.com/p?q=1&x=2 then") ==
      "go to <URL> then")
    assert(redacted("see http://x.org/a b") == "see <URL> b")
  }

  test("x34 goldens: phone requires leading + and digits/dashes") {
    assert(redacted("call +44-20-7946-0958 now") == "call <PHONE> now")
    assert(redacted("order 123456 shipped") == "order 123456 shipped")
  }

  test("x34 goldens: URL redacted before the email inside it") {
    assert(redacted("u@example.com https://e.com/u@e.com +1-23-456") ==
      "<EMAIL> <URL> <PHONE>")
  }

  test("x34 goldens: pii-free text unchanged") {
    val s = "plain words with nothing to hide 42"
    assert(redacted(s) == s)
  }

  test("x38 invariants: per-language threshold honored, ~75% kept") {
    import spark.implicits._
    val kept = TextAnalysis.qualityPrune(spark, sf)
      .select($"lang", $"quality_score", $"q25").collect()
    assert(kept.nonEmpty)
    // every surviving doc clears its own language's threshold
    kept.foreach(r => assert(r.getDouble(1) >= r.getDouble(2), r.toString))
    // dropping below the 25th percentile keeps ~75% per language
    val total = Tables.documents(spark, sf)
      .groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // iterate the CORPUS languages, not the kept output's: a language
    // whose whole stratum was pruned (e.g. a q25 gone +inf) would
    // otherwise vanish from `kept` and silently escape the floor
    val keptByLang = kept.groupBy(_.getString(0))
    total.keys.foreach { lang =>
      val frac =
        keptByLang.get(lang).map(_.length).getOrElse(0).toDouble / total(lang)
      assert(frac >= 0.70 && frac <= 0.85, s"$lang kept $frac")
    }
  }

  test("x39 approx prune: kept fraction within 1% of exact x38 per language") {
    val exact = TextAnalysis.qualityPrune(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = TextAnalysis.qualityPruneApprox(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.keys.foreach { lang =>
      // within 1% of the per-language corpus, floored at one document:
      // approx_percentile returns an actual data value while the exact
      // percentile interpolates, so the one doc between the two
      // thresholds legitimately flips — at the ~80-doc fixture strata
      // that single doc is already >1%
      val slack = math.max(1.0, 0.01 * total(lang))
      val diff = math.abs(approx(lang) - exact(lang)).toDouble
      assert(diff <= slack,
        s"$lang: approx kept ${approx(lang)} vs exact ${exact(lang)} " +
          s"of ${total(lang)} — differs by $diff docs (slack $slack)")
    }
  }

  test("x36 invariants: line count, drop accounting, identity when clean") {
    import spark.implicits._
    val out = TextAnalysis.boilerplateScrub(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .select($"doc_id", $"n_lines", $"n_dropped", $"cleaned_text", $"text")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nWords = r.getAs[String]("text").split(" ").length
      val expLines = math.max(math.ceil(nWords / 8.0).toLong, 1L)
      assert(r.getAs[Long]("n_lines") == expLines, s"doc ${r.get(0)}")
      val dropped = r.getAs[Long]("n_dropped")
      assert(dropped >= 0 && dropped <= r.getAs[Long]("n_lines"))
      // a doc with nothing dropped must round-trip its text exactly
      if (dropped == 0)
        assert(r.getAs[String]("cleaned_text") == r.getAs[String]("text"))
      else
        assert(r.getAs[String]("cleaned_text").length <
          r.getAs[String]("text").length)
    }
  }

  test("x44 invariants: each distinct line survives exactly once, at its min key") {
    import spark.implicits._
    val occ = TextAnalysis.lineDedupOccurrences(spark, sf)
      .groupBy($"line")
      .agg(sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        min($"doc_id" * 1000000L + $"pos").as("min_key"),
        min(when($"kept", $"doc_id" * 1000000L + $"pos")).as("kept_key"))
      .collect()
    assert(occ.nonEmpty)
    occ.foreach { r =>
      assert(r.getAs[Long]("n_kept") == 1L, s"line kept ${r.get(1)} times")
      assert(r.getAs[Long]("kept_key") == r.getAs[Long]("min_key"),
        s"winner is not the first occurrence: $r")
    }
  }

  test("x44 reassembly: cleaned_text is the pos-ordered concat of kept lines") {
    import spark.implicits._
    val expected = TextAnalysis.lineDedupOccurrences(spark, sf)
      .filter($"kept")
      .groupBy($"doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct($"pos", $"line"))),
        s => s.getField("line"))).as("exp"))
    val out = TextAnalysis.lineDedup(spark, sf)
      .join(expected, Seq("doc_id"), "left")
      .select($"doc_id", $"n_lines", $"n_dropped", $"cleaned_text",
        coalesce($"exp", lit("")).as("exp"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[String]("cleaned_text") == r.getAs[String]("exp"),
        s"doc ${r.get(0)}")
      assert(r.getAs[Long]("n_dropped") >= 0 &&
        r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_lines"))
    }
  }

  test("x45 invariants: surprise floor and self-trained totals") {
    import spark.implicits._
    val out = TextAnalysis.unigramSurprise(spark, sf).collect()
    assert(out.nonEmpty)
    // per-word surprise = (total·SCALE) div cnt ≥ SCALE (cnt ≤ total),
    // so every doc mean is at least the fixed-point scale
    out.foreach { r =>
      assert(r.getAs[Double]("mean_surprise") >=
        TextAnalysis.SurpriseScale.toDouble, s"doc ${r.get(0)}")
      assert(r.getAs[Long]("n_words") > 0)
    }
    // the model is corpus-self-trained: Σ n_words across docs equals the
    // corpus word total the probabilities were computed from
    val sumWords = out.map(_.getAs[Long]("n_words")).sum
    val corpusWords = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "").count()
    assert(sumWords == corpusWords)
  }

  test("x46 reference coverage: slice excluded, counts sane, both branches") {
    val rows = TextAnalysis.refCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nb, hit, adm) =>
      assert(id % TextAnalysis.RefSliceMod != 0, s"reference doc $id scored")
      assert(hit >= 0 && hit <= nb, s"doc $id hit=$hit of $nb")
      assert(adm == (hit * 1000 >= TextAnalysis.RefCoveragePermille * nb))
    }
    // the threshold must split the fixture or the oracle row is weak
    assert(rows.exists(_._4) && rows.exists(!_._4),
      "threshold does not split the fixture")
  }

  test("x55 BPE merge table == clean-room single-machine reference run") {
    // Reference: the Sennrich et al. algorithm executed in plain Scala
    // on the collected word-frequency table — no Spark, no shared code
    // except bpeApplyMerge (the merge-application rule under test via
    // the UDF path anyway). The distributed trainer must reproduce the
    // merge table exactly, tiebreaks included.
    import spark.implicits._
    val wordFreq = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("w")).filter($"w" =!= "")
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var vocab = wordFreq.map { case (w, f) => (w.split("").toSeq, f) }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to TextAnalysis.BpeMergeRounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), cnt) = counts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) } // count desc, pair asc
        expected += ((rank, l, r, cnt))
        vocab = vocab.map { case (syms, f) =>
          (TextAnalysis.bpeApplyMerge(syms, l, r), f)
        }
      }
    }
    val got = TextAnalysis.bpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.length == TextAnalysis.BpeMergeRounds,
      s"fixture exhausted early: ${got.length} merges")
    assert(got.toSeq == expected.toSeq)
    // learned merges include at least one multi-char compound (a merge
    // built on an earlier merge — the property that makes BPE BPE)
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1),
      "no second-order merge learned — fixture or trainer degenerate")
  }

  test("x55 trainer regimes: local, batched, sequential yield one merge table") {
    import spark.implicits._
    val vocab = TextAnalysis.bpeVocab(spark, sf).localCheckpoint()
    val rounds = TextAnalysis.BpeMergeRounds
    // the fixture sits under the local gate — the registered path is the
    // zero-jobs-per-round collected loop
    assert(vocab.count() <= TextAnalysis.BpeLocalTrainMaxWords)
    val seqT = TextAnalysis.bpeTrainSequential(vocab, rounds)
    val (batT, trips) = TextAnalysis.bpeTrainBatched(vocab, rounds)
    val locT = TextAnalysis.bpeTrainLocal(
      vocab.as[(Seq[String], Long)].collect().toSeq, rounds)
    assert(seqT.length == rounds)
    assert(batT == seqT, s"batched diverged: ${batT.diff(seqT).take(3)}")
    assert(locT == seqT, s"local diverged: ${locT.diff(seqT).take(3)}")
    // the batching must actually cut driver round trips vs one per merge
    info(s"batched trainer: ${seqT.length} merges in $trips round trips")
    assert(trips < seqT.length,
      s"batching saved nothing: $trips trips for ${seqT.length} merges")

    // adversarial planted vocab: heavy count ties + shared symbols, the
    // regime where naive top-m batching breaks merge-order parity
    val planted = Seq(
      (Seq("a", "b", "a", "b"), 7L), (Seq("b", "a", "b", "a"), 7L),
      (Seq("a", "a", "a", "a"), 7L), (Seq("c", "d"), 7L),
      (Seq("d", "c", "d"), 7L), (Seq("e", "f", "e", "f"), 3L),
      (Seq("x", "y"), 5L), (Seq("y", "x", "y"), 5L),
      (Seq("p", "q", "r", "s"), 4L), (Seq("q", "r"), 4L)
    ).toDF("syms", "freq").localCheckpoint()
    val seqP = TextAnalysis.bpeTrainSequential(planted, 12)
    val (batP, _) = TextAnalysis.bpeTrainBatched(planted, 12)
    val locP = TextAnalysis.bpeTrainLocal(
      planted.as[(Seq[String], Long)].collect().toSeq, 12)
    assert(batP == seqP, s"batched diverged on ties: ${batP.diff(seqP).take(3)}")
    assert(locP == seqP, s"local diverged on ties: ${locP.diff(seqP).take(3)}")

    // self-pair regime: a run of repeated characters makes the argmax a
    // self-pair (a,a); its merge CREATES (aa,a)/(aa,aa) pairs bounded
    // only by its own count, so a later-accepted disjoint lower-count
    // pair (b,c) would jump ahead of the created (aa,a) the sequential
    // argmax picks next — the scan must stop at the accepted self-pair
    val selfP = Seq(
      (Seq("a", "a", "a", "a", "a"), 10L), (Seq("b", "c"), 9L)
    ).toDF("syms", "freq").localCheckpoint()
    val seqS = TextAnalysis.bpeTrainSequential(selfP, 3)
    val (batS, _) = TextAnalysis.bpeTrainBatched(selfP, 3)
    val locS = TextAnalysis.bpeTrainLocal(
      selfP.as[(Seq[String], Long)].collect().toSeq, 3)
    assert(seqS.map(m => (m._2, m._3, m._4)) ==
      Seq(("a", "a", 40L), ("aa", "a", 10L), ("aa", "aaa", 10L)),
      s"sequential reference drifted: $seqS")
    assert(batS == seqS, s"batched diverged on self-pair: $batS vs $seqS")
    assert(locS == seqS, s"local diverged on self-pair: $locS vs $seqS")

    // self-pair mid-prefix: a strictly-greater disjoint pair ahead of
    // the self-pair must survive; everything at/after the self-pair's
    // count must not be batched past it
    val selfP2 = Seq(
      (Seq("x", "y"), 50L),
      (Seq("a", "a", "a", "a", "a"), 10L), (Seq("b", "c"), 9L)
    ).toDF("syms", "freq").localCheckpoint()
    val seqS2 = TextAnalysis.bpeTrainSequential(selfP2, 4)
    val (batS2, _) = TextAnalysis.bpeTrainBatched(selfP2, 4)
    assert(batS2 == seqS2, s"batched diverged mid-prefix: $batS2 vs $seqS2")
  }

  test("x56 BPE encode: per-doc token sums replay exactly; bounds hold") {
    import spark.implicits._
    val merges = TextAnalysis.bpeMerges(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    def encode(w: String): Int = {
      var syms: Seq[String] = w.split("").toSeq
      merges.foreach { case (l, r) =>
        syms = TextAnalysis.bpeApplyMerge(syms, l, r)
      }
      syms.length
    }
    val expected = Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("ws")).collect()
      .map { r =>
        val ws = r.getSeq[String](1).filter(_.nonEmpty)
        r.getLong(0) -> (ws.length.toLong, ws.map(encode(_).toLong).sum,
          ws.map(_.length.toLong).sum)
      }.toMap
    val got = TextAnalysis.bpeTokenize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (id, nWords, nToks, nChars, cpt) =>
      val (eWords, eToks, eChars) = expected(id)
      assert((nWords, nToks, nChars) == (eWords, eToks, eChars),
        s"doc $id: got ($nWords,$nToks,$nChars) expected ($eWords,$eToks,$eChars)")
      // one token per word minimum; never more tokens than characters;
      // merges actually compress (ratio > 1000 somewhere is checked below)
      assert(nToks >= nWords && nToks <= nChars, s"doc $id bounds")
      assert(cpt == nChars * 1000 / nToks, s"doc $id ratio")
    }
    assert(got.exists(_._5 > 1000),
      "no document compressed below 1 char/token — merges never applied?")
  }

  test("x62 bigram surprise: driver replay exact; mass and floor invariants") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text").collect()
    val bgs = docs.flatMap { r =>
      val w = r.getString(2).split(" ").filter(_.nonEmpty)
      w.zip(w.drop(1)).map(p => (r.getLong(0), r.getString(1), p))
    }
    assert(bgs.nonEmpty)
    val c2 = bgs.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val c1 = bgs.groupBy(_._3._1).view.mapValues(_.length.toLong).toMap
    // conditional mass: per context, bigram counts sum to the context
    // count by construction — the property that makes this a proper LM
    assert(c1.forall { case (w1, n) =>
      c2.collect { case (b, c) if b._1 == w1 => c }.sum == n
    })
    val expected = bgs.groupBy(b => (b._1, b._2)).view.mapValues { xs =>
      (xs.length.toLong,
        xs.map(b => c1(b._3._1) * 1000000L / c2(b._3)).sum)
    }.toMap
    val got = TextAnalysis.bigramSurprise(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, s) = expected((r.getLong(0), r.getString(1)))
      assert((r.getLong(2), r.getLong(3)) == (n, s),
        s"doc ${r.getLong(0)} replay mismatch")
      // c1 ≥ c2 always ⇒ every transition's surprise ≥ 1 · SCALE
      assert(r.getLong(3) >= r.getLong(2) * 1000000L)
    }
  }

  test("x59 keep-best: survivor is each cluster's quality argmax; singletons intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val clusters = graft.ops.Dedup.dupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty, "fixture must produce dup clusters")
    val quality = Tables.documents(spark, sf)
      .select($"doc_id", TextAnalysis.qualityScore($"text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = graft.ops.Dedup.dedupKeepBest(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly one survivor per cluster + every singleton
    val singles = quality.keySet -- clusters.keySet
    assert(got.length == clusters.values.toSet.size + singles.size)
    got.foreach { case (id, cid, q) =>
      assert(q == quality(id))
      if (singles(id)) assert(cid == id, s"singleton $id relabeled")
      else {
        val members = clusters.collect { case (d, c) if c == cid => d }
        val best = members.maxBy(m => (quality(m), -m))
        assert(id == best, s"cluster $cid kept $id, not argmax $best")
      }
    }
    // the policy genuinely differs from min-id somewhere on the fixture,
    // or the test (and the operator) would be vacuously x15
    val minIdSurvivors = clusters.values.toSet.map { c: Long =>
      clusters.collect { case (d, cc) if cc == c => d }.min
    }
    assert(got.exists { case (id, cid, _) =>
      !singles(id) && !minIdSurvivors(id) },
      "keep-best never disagreed with keep-min-id on this fixture")
  }

  test("x55 Heaps bound: vocab dim ≪ corpus words; 100-round training stays vocab-bounded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val total = Tables.spread(Tables.documents(spark, sf))
      .select(explode(split($"text", " ")).as("w")).filter($"w" =!= "")
      .count()
    val vocab = TextAnalysis.bpeVocab(spark, sf)
    val nVocab = vocab.count()
    // the scale claim as an invariant, not prose: per-round training
    // cost is vocab-bounded, ≥2 orders below corpus-bounded (measured
    // 31 words / 270,704 running at sf0.1; 310 / 2,707,040 at the 10×
    // probe — PLANS.md round-8 row)
    assert(nVocab * 100 <= total,
      s"vocab $nVocab not ≪ $total corpus words — Heaps story broken")
    // 5× the registered merge depth on the same dim: rounds only
    // rewrite syms (never add rows), so deep training must complete
    // with contiguous ranks and the registered table as its prefix
    val deep = TextAnalysis.bpeTrain(vocab, 100)
    assert(deep.size <= 100)
    assert(deep.map(_._1) == (1 to deep.size), "ranks must be contiguous")
    val reg = TextAnalysis.bpeMergeTable(spark, sf)
    assert(deep.take(reg.size) == reg,
      "deep run is not an extension of the registered table — trainer nondeterministic")
    // greedy argmax on pair counts is non-increasing (a new pair (xy,z)
    // needs an xy occurrence, so its count ≤ the merge that minted xy)
    val cnts = deep.map(_._4)
    assert(cnts.zip(cnts.drop(1)).forall { case (a, b) => a >= b },
      "pair counts increased across rounds — argmax broken")
  }

  test("x56 broadcast guard: both join regimes produce identical rows") {
    // the public entry picks broadcast vs shuffle join from the memoized
    // distinct-word count (web-scale dictionaries must not broadcast);
    // the two paths must be indistinguishable in output
    val bc = Broadcasts.forcing(true)(TextAnalysis.bpeTokenize(spark, sf))
    val sj = Broadcasts.forcing(false)(TextAnalysis.bpeTokenize(spark, sf))
    assert(bc.schema == sj.schema)
    val a = bc.collect().map(_.toSeq).toSeq
    val b = sj.collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b, "join-path divergence in x56")
    // the guard must really change the plan: the broadcast path carries
    // the hint, the fallback must NOT (AQE may still small-table-BHJ the
    // fallback at test scale — that's its call, not a forced hint that
    // would OOM a web-scale dictionary)
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    assert(hinted(bc), "broadcast path lost its hint")
    assert(!hinted(sj), "fallback path still forces a broadcast hint")
  }

  test("x71 leakage-free split: clusters never straddle; regimes agree") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val asg = Broadcasts.forcing(true)(
      graft.ops.Sampling.leakageFreeAssign(spark, sf)).persist()
    try {
      // the leakage property: every cluster sees exactly one split
      val straddling = asg.filter($"label".isNotNull)
        .groupBy($"label")
        .agg(countDistinct($"split").as("nsplits"))
        .filter($"nsplits" > 1).count()
      assert(straddling == 0, s"$straddling clusters straddle splits")
      // non-vacuous: the naive doc_id-keyed split DOES leak on this
      // fixture (some cluster spans two naive splits), so the rep-keyed
      // assignment is doing real work
      val naiveLeaks = asg.filter($"label".isNotNull)
        .withColumn("naive", $"doc_id" % 10)
        .withColumn("nsplit", when($"naive" < 8, "train")
          .when($"naive" === 8, "val").otherwise("test"))
        .groupBy($"label")
        .agg(countDistinct($"nsplit").as("n"))
        .filter($"n" > 1).count()
      assert(naiveLeaks > 0, "fixture has no cluster the naive split leaks")
      // singletons reduce exactly to x50's assignment
      val singletonDrift = asg.filter($"label".isNull)
        .filter($"split" =!= when($"doc_id" % 10 < 8, "train")
          .when($"doc_id" % 10 === 8, "val").otherwise("test")).count()
      assert(singletonDrift == 0)
      // both join regimes produce identical assignments
      val shuffled = Broadcasts.forcing(false)(
        graft.ops.Sampling.leakageFreeAssign(spark, sf))
      assert(asg.select("doc_id", "split").except(
        shuffled.select("doc_id", "split")).count() == 0)
    } finally asg.unpersist()
  }

  test("x72 shuffle-shards: true permutation, clean-room FNV ranks, real shuffle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = graft.ops.Sampling.shuffleShards(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val ids = Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().sorted
    // every doc exactly once, across all 32 shards, positions contiguous
    assert(out.map(_._2).sorted.sameElements(ids))
    val byShard = out.groupBy(_._1)
    assert(byShard.keySet == (0 until 32).toSet, "empty shard on fixture")
    byShard.values.foreach { rows =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    }
    // clean-room: recompute the unsigned-FNV order independently
    def refFnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      h
    }
    val ref = ids.map { id =>
      val h = refFnv(id.toString)
      (java.lang.Math.floorMod(h, 32L).toInt, id, h ^ Long.MinValue)
    }.groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
      rows.toSeq.sortBy(r => (r._3, r._2)).zipWithIndex
        .map { case ((_, id, _), i) => (shard, id, i + 1L) }
    }.toSet
    assert(out.toSet == ref)
    // it actually shuffles: within some shard, doc_id order != pos order
    assert(byShard.values.exists(rows =>
      !rows.sortBy(_._3).map(_._2).sameElements(rows.map(_._2).sorted)),
      "permutation degenerate: every shard in doc_id order")
  }

  test("x77 rejection ledger partitions the corpus; kept set == x75 survivors") {
    import spark.implicits._
    // ONE collect of each pipeline run — the ledger and x75 are the two
    // most expensive queries in the suite, and both views below read
    // from the same rows
    val ledgerRows = graft.ops.Pipeline.rejectionLedger(spark, sf)
      .select("doc_id", "feat_sum_micro", "stage", "keeper_id",
        "n_removed", "split", "shard", "pos").collect()
    val v2Rows = graft.ops.Pipeline.pipelineV2(spark, sf)
      .select("doc_id", "n_removed", "split", "shard", "pos").collect()
    val ledger = ledgerRows
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val total = Tables.documents(spark, sf).count()
    assert(ledger.length == total, "one ledger row per original doc")
    // the verdicts partition the corpus and each row's evidence is
    // self-consistent with its verdict
    ledger.foreach { case (id, feat, stage, keeper) =>
      stage match {
        case "classifier" => assert(feat <= 0 && keeper.isEmpty, s"doc $id")
        case "exact_dup" =>
          assert(feat > 0 && keeper.exists(_ < id), s"doc $id")
        case "kept" => assert(feat > 0 && keeper.contains(id), s"doc $id")
        case other => fail(s"doc $id: unknown stage $other")
      }
    }
    // only stages 1-2 of the v2 chain drop documents, so the ledger's
    // kept set must be exactly the pipeline's surviving doc_ids
    val kept = ledger.collect { case (id, _, "kept", _) => id }.toSet
    val surv = v2Rows.map(_.getLong(0)).toSet
    assert(kept == surv,
      s"ledger kept-set diverged from x75 survivors: " +
        s"missing=${(surv -- kept).take(3)} extra=${(kept -- surv).take(3)}")
    // transform-stage provenance (since r11): kept rows carry EXACTLY
    // x75's (n_removed, split, shard, pos) for that doc; dropped rows
    // carry typed NULL evidence (they never reached those stages)
    val evidence = ledgerRows
      .map(r => r.getLong(0) -> (r.getString(2),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        Option(r.getString(5)),
        if (r.isNullAt(6)) None else Some(r.getInt(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toMap
    val v2rows = v2Rows
      .map(r => r.getLong(0) ->
        (Some(r.getLong(1)), Some(r.getString(2)), Some(r.getInt(3)),
          Some(r.getLong(4)))).toMap
    evidence.foreach { case (id, (stage, nRem, spl, shd, pos)) =>
      if (stage == "kept")
        assert((nRem, spl, shd, pos) == v2rows(id),
          s"doc $id kept evidence diverged from x75: " +
            s"${(nRem, spl, shd, pos)} vs ${v2rows(id)}")
      else
        assert(nRem.isEmpty && spl.isEmpty && shd.isEmpty && pos.isEmpty,
          s"doc $id dropped row leaked transform evidence")
    }
    // verdict coverage is data-driven: classifier+kept must both occur
    // (the score map is ~balanced by construction), and exact_dup rows
    // exist iff some admitted text is shared — the fixture's documents
    // are unique, so prove the verdict on a planted duplicate instead
    assert(Set("classifier", "kept").subsetOf(ledger.map(_._3).toSet),
      "degenerate fixture")
    val admittedTexts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, _) =>
        ledger.find(_._1 == id).exists(_._3 != "classifier") }
    val dupTexts = admittedTexts.groupBy(_._2).exists(_._2.length > 1)
    assert(ledger.exists(_._3 == "exact_dup") == dupTexts,
      s"exact_dup verdicts inconsistent with corpus dup structure")
    // planted duplicate: a copy of a kept doc must lose to it by min-id
    import spark.implicits._
    val keptDoc = ledger.collectFirst { case (id, _, "kept", _) => id }.get
    val keptText = admittedTexts.toMap.apply(keptDoc)
    val planted = Seq((keptDoc, keptText), (keptDoc + 1000000L, keptText),
      (keptDoc + 2000000L, "")).toDF("doc_id", "text")
    graft.functions.CustomExprs.register(spark)
    val w2 = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    val plantedLedger = planted
      .withColumn("w0", org.apache.spark.sql.functions.split($"text", " "))
      .withColumn("feat", TextAnalysis.classifierScoreMicro($"w0",
        TextAnalysis.classifierWeights(spark, sf)))
      .withColumn("h", org.apache.spark.sql.functions.sha2($"text", 256))
      .withColumn("keeper", org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.when($"feat" > 0, $"doc_id")).over(w2))
      .select($"doc_id",
        org.apache.spark.sql.functions.when($"feat" <= 0, "classifier")
          .when($"doc_id" =!= $"keeper", "exact_dup")
          .otherwise("kept").as("stage"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(plantedLedger(keptDoc) == "kept")
    assert(plantedLedger(keptDoc + 1000000L) == "exact_dup",
      "planted duplicate did not lose to the min-id keeper")
  }

  test("x73 datasheet: ALL row is the sum of language rows; dup count matches x17") {
    import spark.implicits._
    val rows = graft.ops.Pipeline.corpusDatasheet(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    val langs = rows.keySet - "ALL"
    assert(langs.nonEmpty && rows.contains("ALL"))
    assert(rows("ALL")._1 == langs.toSeq.map(rows(_)._1).sum, "n_docs rollup")
    assert(rows("ALL")._2 == langs.toSeq.map(rows(_)._2).sum, "n_tokens rollup")
    assert(rows("ALL")._3 == langs.toSeq.map(rows(_)._3).sum, "n_dup_docs rollup")
    val dupDocs = graft.ops.Dedup.dupClusters(spark, sf).count()
    assert(rows("ALL")._3 == dupDocs, "dup exposure must equal x17's label dim")
  }

  test("x73 median regime gate: exact at fixture scale, approx regime within tolerance") {
    // fixture sits far below the 100M-row bound → the registered query
    // IS the exact regime (what the DuckDB oracle hash-matches)
    assert(graft.ops.Pipeline.docCount(spark, sf) <=
      graft.ops.Pipeline.DatasheetExactMedianMaxRows)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val registered = rowsOf(graft.ops.Pipeline.corpusDatasheet(spark, sf))
    val exact = rowsOf(graft.ops.Pipeline.datasheetVia(spark, sf,
      exactMedian = true))
    assert(registered == exact, "gate did not pick the exact regime")
    // the over-threshold regime: every exact counter identical, the one
    // sketch column (t-digest median) within x74's tolerance
    val approx = rowsOf(graft.ops.Pipeline.datasheetVia(spark, sf,
      exactMedian = false))
    assert(approx.map(_.take(7)) == exact.map(_.take(7)),
      "approx regime drifted an exact counter")
    exact.zip(approx).foreach { case (e, a) =>
      val (ep, ap) = (e(7).toString.toDouble, a(7).toString.toDouble)
      assert(math.abs(ap - ep) <= math.max(1.0, 0.02 * ep),
        s"${e.head}: p50 approx=$ap exact=$ep")
    }
  }

  test("x74 approx datasheet: counters exact, sketch columns within tolerance") {
    def byLang(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6),
          r.get(7).toString.toDouble)
      }.toMap
    val exact = byLang(graft.ops.Pipeline.corpusDatasheet(spark, sf))
    val approx = byLang(graft.ops.Pipeline.corpusDatasheetApprox(spark, sf))
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (lang, e) =>
      val a = approx(lang)
      assert(a._1 == e._1 && a._2 == e._2 && a._4 == e._4 &&
        a._5 == e._5 && a._6 == e._6, s"$lang: exact counters drifted")
      // HLL++ at default rsd 0.05; fixture cardinalities are tiny so the
      // sketch is near-exact, but the gate allows the documented error
      assert(math.abs(a._3 - e._3) <= math.max(1L, (0.1 * e._3).toLong),
        s"$lang: n_sources approx=${a._3} exact=${e._3}")
      assert(math.abs(a._7 - e._7) <= math.max(1.0, 0.02 * e._7),
        s"$lang: p50 approx=${a._7} exact=${e._7}")
    }
  }

  test("x69 classifier scoring == clean-room reference; decision balanced") {
    import spark.implicits._
    // independent re-implementation of the whole scoring path: FNV-1a
    // over utf-8 word bytes, bucket, trained-weight lookup, intercept,
    // sum. (Training itself is independently replayed by the DuckDB
    // oracle's unrolled CTEs and by the held-out/regime tests below.)
    val wts = TextAnalysis.classifierWeights(spark, sf)
    def refFnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach { b =>
        h ^= (b & 0xffL); h *= 0x100000001b3L
      }
      h
    }
    def refScore(text: String): (Long, Long) = {
      val words = text.split(" ", -1)
      val sum = wts(65536) + words.map { w =>
        wts(java.lang.Math.floorMod(refFnv(w), 65536L).toInt)
      }.sum
      (words.length.toLong, sum)
    }
    val got = graft.ops.TextAnalysis.qualityClassifier(spark, sf)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(texts.nonEmpty && got.size == texts.length)
    texts.foreach { case (id, text) =>
      val (n, sum) = refScore(text)
      val (gn, gsum, gkept) = got(id)
      assert(gn == n, s"doc $id n_words $gn != $n")
      assert(gsum == sum, s"doc $id feat_sum $gsum != $sum")
      assert(gkept == (sum > 0), s"doc $id kept flag")
    }
    // the trained decision must not degenerate to all-kept/none-kept —
    // the r14 lang-id teacher candidate FAILED exactly this way (every
    // doc predicted 'en' ⇒ constant labels ⇒ kept 500/500) while
    // staying hash-green against its oracle, so this distribution gate
    // is the one that catches a semantically useless teacher; positives
    // are the top quality quartile by construction
    val keptFrac = got.values.count(_._3).toDouble / got.size
    assert(keptFrac > 0.02 && keptFrac < 0.6, s"kept fraction $keptFrac")
  }

  test("x69 trained weights: held-out accuracy beats majority class") {
    import spark.implicits._
    // labels re-derived from the independent signal exactly as the
    // trainer defines them (r14: x30's quality blend at the TRAIN
    // slice's exact TOP-QUARTILE element — the ((3(n+1)) div 4)-th
    // smallest) — then accuracy measured ONLY on the doc_id % 4 == 0
    // quarter the trainer never saw
    val q = graft.ops.TextAnalysis.textQuality(spark, sf)
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    val trainQ = q.collect { case (id, s) if id % 4 != 0 => s }.toArray.sorted
    val thr = trainQ((3 * (trainQ.length + 1) / 4 - 1).toInt)
    val kept = graft.ops.TextAnalysis.qualityClassifier(spark, sf)
      .select($"doc_id", $"kept").as[(Long, Boolean)].collect().toMap
    val held = q.keys.filter(_ % 4 == 0).toSeq
    assert(held.nonEmpty)
    val pos = held.count(id => q(id) >= thr)
    val majority = math.max(pos, held.size - pos).toDouble / held.size
    val correct = held.count(id => kept(id) == (q(id) >= thr))
    val accuracy = correct.toDouble / held.size
    info(f"held-out accuracy $accuracy%.3f vs majority $majority%.3f " +
      f"(n=${held.size}, pos=$pos)")
    assert(accuracy > majority,
      f"trained classifier ($accuracy%.3f) must beat the majority class " +
        f"($majority%.3f) on the held-out quarter")
  }

  test("x69 trainer regimes: local and distributed GD are bit-equal") {
    import spark.implicits._
    // a planted corpus with heavy bucket collisions is unnecessary —
    // the fixture's own training frames exercise both paths; 16 rounds
    // keep the distributed run's job count testable while proving the
    // per-round arithmetic identical (equality holds round by round)
    val docs = Tables.documents(spark, sf)
      .filter($"doc_id" % 4 =!= 0)
      .select($"doc_id", split($"text", " ").as("w"),
        graft.ops.TextAnalysis.qualityScore($"text").as("qs"))
    graft.functions.CustomExprs.register(spark)
    val n = docs.count()
    val thr = docs.orderBy($"qs").limit(((n + 1) / 2).toInt)
      .orderBy($"qs".desc).select($"qs").head.getDouble(0)
    val labels = docs.select($"doc_id",
      when($"qs" >= thr, 1L).otherwise(0L).as("y"))
    val triples = docs
      .select($"doc_id", explode($"w").as("x"))
      .select($"doc_id", pmod(call_function("fnv1a64", $"x"),
        lit(TextAnalysis.ClassifierBuckets)).as("bucket"))
      .unionAll(docs.select($"doc_id",
        lit(TextAnalysis.ClassifierBiasBucket).as("bucket")))
      .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("c"))
    val local = TextAnalysis.classifierTrainLocal(
      triples.as[(Long, Long, Long)].collect().toSeq,
      labels.as[(Long, Long)].collect().toMap, 16,
      TextAnalysis.ClassifierGdEtaDen)
    val dist = TextAnalysis.classifierTrainDistributed(
      triples, labels, 16, TextAnalysis.ClassifierGdEtaDen)
    assert(local.filter(_._2 != 0L) == dist.filter(_._2 != 0L),
      s"regimes diverged: ${local.toSeq.diff(dist.toSeq).take(3)}")
    assert(local.nonEmpty && local.values.exists(_ != 0L))
  }

  test("x82 snapshot diff: pedestrian replay; every status non-vacuous") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val old = docs.filter(_._1 % 17 != 3).toMap
    val neu = docs.filter(_._1 % 13 != 5)
      .map { case (id, t) => id -> (if (id % 11 == 2) t + " [rev2]" else t) }
      .toMap
    val expect = (old.keySet ++ neu.keySet).toSeq.sorted.flatMap { id =>
      (old.get(id), neu.get(id)) match {
        case (None, Some(_))              => Some(id -> "added")
        case (Some(_), None)              => Some(id -> "removed")
        case (Some(a), Some(b)) if a != b => Some(id -> "changed")
        case _                            => None
      }
    }
    val got = graft.ops.Pipeline.snapshotDiff(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expect)
    // the fixture must exercise all three statuses, or the gate is vacuous
    assert(got.map(_._2).toSet == Set("added", "removed", "changed"))
    // changed = exactly the recrawled slice present in BOTH snapshots
    assert(got.collect { case (id, "changed") => id }.toSet ==
      docs.map(_._1).filter(id =>
        id % 11 == 2 && id % 17 != 3 && id % 13 != 5).toSet)
  }

  test("x86 delta reprocessing: increment = x82's added+changed; banded " +
      "pairs ≡ exhaustive delta × unchanged join") {
    import spark.implicits._
    val got = graft.ops.Pipeline.deltaReprocess(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // 1. every increment id carries exactly its x82 status
    val diff = graft.ops.Pipeline.snapshotDiff(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(t => t._2 == "added" || t._2 == "changed").toMap
    got.foreach { case (inc, status, _) =>
      assert(diff.get(inc).contains(status),
        s"inc $inc status $status vs x82 ${diff.get(inc)}")
    }
    // 2. banded candidates lost nothing: same pair set as the
    // exhaustive delta × unchanged join (no band pruning at all)
    val neu = graft.ops.Pipeline.newSnapshotText(
      Tables.documents(spark, sf))
    val sh = neu
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("sh"))
      .withColumn("nsh", size($"sh"))
    val isDelta = ($"doc_id" % 17 === 3 || $"doc_id" % 11 === 2)
    val inc = sh.filter(isDelta)
      .select($"doc_id".as("inc_id"), $"sh".as("sh_a"), $"nsh".as("na"))
    val hist = sh.filter(!isDelta)
      .select($"doc_id".as("hist_id"), $"sh".as("sh_b"), $"nsh".as("nb"))
    val exhaustive = inc.crossJoin(hist)
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("j", $"inter" / ($"na" + $"nb" - $"inter"))
      .filter($"j" >= 0.3)
      .select($"inc_id", $"hist_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._3)).toSet == exhaustive,
      "banded probe diverged from the exhaustive join — band recall " +
        "broke on this corpus; x86 must demote to rows-only (see oracle " +
        "scaladoc)")
    assert(exhaustive.nonEmpty, "fixture plants no delta-vs-unchanged " +
      "near-dups — the gate is vacuous")
  }
}
