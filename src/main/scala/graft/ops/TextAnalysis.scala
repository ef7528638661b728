package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis over `documents` — token/char statistics, quality
  * scoring, marker-based language ID, and an order-sensitive positional
  * fingerprint. All built-in expressions; shuffle-free except where a
  * global/window aggregate is the semantics.
  */
object TextAnalysis {

  private val stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

  /** The quality-blend terms (type-token ratio, stopword ratio, average
    * word length) over a text column — ONE definition shared by x30 and
    * x38 so the formula can't drift between them. */
  private def qualityTerms(textCol: Column): (Column, Column, Column) = {
    val w = split(textCol, " ")
    val nWords = size(w).cast("long")
    val nChars = length(textCol).cast("long")
    val ttr = size(array_distinct(w)).cast("long") * 1.0 / nWords
    val nStop = size(filter(w, x => x.isInCollection(stopwords))).cast("long")
    (ttr, nStop * 1.0 / nWords, (nChars - nWords + lit(1L)) * 1.0 / nWords)
  }

  /** Blended quality score: ttr·0.5 + (1−stopRatio)·0.3 + min(avgLen/8,1)·0.2. */
  def qualityScore(textCol: Column): Column = {
    val (ttr, stopRatio, avgLen) = qualityTerms(textCol)
    ttr * 0.5 + (lit(1.0) - stopRatio) * 0.3 +
      least(avgLen / 8.0, lit(1.0)) * 0.2
  }

  /** The same blend as DuckDB SQL over a word-list column `w` and a
    * char-count column `nChars`. */
  private[graft] def qualityScoreSqlExpr(w: String, nChars: String): String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"(len(list_distinct($w)) * 1.0 / len($w)) * 0.5 +\n" +
      s"    (1.0 - len(list_filter($w, x -> x IN ($stops))) * 1.0 / len($w)) * 0.3 +\n" +
      s"    LEAST((($nChars - len($w) + 1) * 1.0 / len($w)) / 8.0, 1.0) * 0.2"
  }

  /** x30 — per-doc token & quality metrics.
    * tokens: whitespace words, distinct words, regex alnum-run tokens and
    * a BPE-ish subword estimate (ceil(chars/4) — the common rule of
    * thumb); quality: type-token ratio, stopword ratio, avg word length,
    * and a blended score (identical expression tree on both sides). */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = split($"text", " ")
    val nWords = size(w).cast("long")
    val nChars = length($"text").cast("long")
    val nDistinct = size(array_distinct(w)).cast("long")
    val (ttr, stopRatio, avgLen) = qualityTerms($"text")
    Tables.documents(spark, sfDir).select(
      $"doc_id", $"lang",
      nWords.as("n_words"),
      nDistinct.as("n_distinct_words"),
      regexp_count($"text", lit("[A-Za-z0-9]+")).cast("long").as("n_alnum_tokens"),
      ceil(nChars * 1.0 / 4.0).cast("long").as("n_subword_est"),
      avgLen.as("avg_word_len"),
      ttr.as("type_token_ratio"),
      stopRatio.as("stopword_ratio"),
      qualityScore($"text").as("quality_score"),
    ).orderBy($"doc_id")
  }

  val textQualitySql: String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS w,
       |    CAST(LENGTH(text) AS BIGINT) AS n_chars
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
       |    CAST(len(list_filter(w, x -> x IN ($stops))) AS BIGINT) AS n_stop,
       |    n_chars,
       |    ${qualityScoreSqlExpr("w", "n_chars")}
       |      AS quality_score
       |  FROM d
       |)
       |SELECT doc_id, lang, n_words, n_distinct_words,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_alnum_tokens,
       |  CAST(CEIL(n_chars * 1.0 / 4.0) AS BIGINT) AS n_subword_est,
       |  (n_chars - n_words + 1) * 1.0 / n_words AS avg_word_len,
       |  n_distinct_words * 1.0 / n_words AS type_token_ratio,
       |  n_stop * 1.0 / n_words AS stopword_ratio,
       |  quality_score
       |FROM m ORDER BY doc_id""".stripMargin
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "y", "las", "que"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "zh" -> Seq("的", "是", "了"),
  )

  /** Per-language marker-hit scores over a words column — the x31
    * heuristic's evidence, shared by x31 itself, the x69 teacher
    * labels and the x87 seed pass (one definition, the three cannot
    * drift). */
  private[graft] def langScores(w: Column): Seq[(String, Column)] =
    langMarkers.map { case (l, ms) =>
      l -> size(filter(w, x => x.isInCollection(ms))).cast("long")
    }

  /** Best (score, lang) struct over a words column, first-wins on
    * score ties (the langMarkers declaration order). */
  private[graft] def langBest(w: Column): Column = {
    val scores = langScores(w)
    scores.tail.foldLeft(
      struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) {
      case (acc, (l, s)) =>
        when(s > acc.getField("s"), struct(s.as("s"), lit(l).as("l")))
          .otherwise(acc)
    }
  }

  /** The langScores SQL (DuckDB) as `score_<lang>` select items over a
    * words column `w`. */
  private[graft] def langScoreSqlExprs: String = {
    def cnt(ms: Seq[String]) =
      s"CAST(len(list_filter(w, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS BIGINT)"
    langMarkers.map { case (l, ms) => s"${cnt(ms)} AS score_$l" }
      .mkString(",\n    ")
  }

  /** The langBest SQL over the `score_<lang>` columns: a strict-> fold
    * replicating the Spark fold's first-wins tie order; `(expr).s` /
    * `(expr).l` read the winner. */
  private[graft] def langBestSqlExpr: String =
    langMarkers.tail.foldLeft("STRUCT_PACK(s := score_en, l := 'en')") {
      case (acc, (l, _)) =>
        s"CASE WHEN score_$l > ($acc).s THEN STRUCT_PACK(s := score_$l, l := '$l') ELSE $acc END"
    }

  /** x31 — marker-word language ID (n-gram-heuristic family): count
    * function-word hits per language, argmax with fixed priority order on
    * ties, compare against the labeled lang column. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = split($"text", " ")
    val scores = langScores(w)
    val best = langBest(w)
    Tables.documents(spark, sfDir).select(
      Seq($"doc_id", $"lang") ++
        scores.map { case (l, s) => s.as(s"score_$l") } ++ Seq(
          best.getField("l").as("predicted"),
          (best.getField("l") === $"lang").as("agrees_with_label"),
        ): _*
    ).orderBy($"doc_id")
  }

  val langIdSql: String = {
    val pred = langBestSqlExpr
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
       |), m AS (
       |  SELECT doc_id, lang,
       |    $langScoreSqlExprs
       |  FROM d
       |)
       |SELECT doc_id, lang, score_en, score_fr, score_es, score_de, score_zh,
       |  ($pred).l AS predicted,
       |  (($pred).l = lang) AS agrees_with_label
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** x32 — order-sensitive positional fingerprint: Σ (i+1)·(131·len(wᵢ) +
    * codepoint(wᵢ[0])) — a rolling-hash-family fingerprint expressible on
    * both engines; shared-fingerprint counts surface exact duplicates. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = split($"text", " ")
    val fp = aggregate(
      zip_with(w, sequence(lit(1), size(w)),
        (x, i) => i.cast("long") * (length(x).cast("long") * 131L + ascii(x))),
      lit(0L), _ + _)
    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", fp.as("fingerprint"))
    base.withColumn("n_sharing",
        count(lit(1)).over(Window.partitionBy($"fingerprint")))
      .orderBy($"doc_id")
  }

  /** x35 — corpus-level n-gram statistics: top-50 word bigrams by
    * document frequency (explode → two-level aggregation; the shape of
    * every vocabulary/phrase-mining job). */
  /** Per-doc distinct bigrams over a PROJECTED words column `w` (never
    * the split expression inlined into the lambda — the x42
    * interpreted-HOF lesson: an inlined split re-executes per element,
    * O(words²) per doc; measured 40× on x35 at the 10× probe before
    * the projection). ONE definition shared by x35 and x46 so the two
    * bigram ops can't drift. */
  private def distinctBigrams: Column =
    when(size(col("w")) < 2, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)))))

  def topNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("w", split($"text", " "))
      .select($"doc_id", explode(distinctBigrams).as("ngram"))
      .groupBy($"ngram")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy($"doc_freq".desc, $"ngram")
      .limit(50)
  }

  val topNgramsSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), b AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(w), 1)),
      |    i -> w[i] || ' ' || w[i+1]))) AS ngram
      |  FROM d WHERE len(w) >= 2
      |)
      |SELECT ngram, COUNT(*) AS doc_freq FROM b GROUP BY ngram
      |ORDER BY doc_freq DESC, ngram LIMIT 50""".stripMargin

  /** x37 — TF-IDF-style top term per document. The score is the rational
    * tf·N·SCALE/df (instead of tf·log(N/df)) — same ranking family as
    * log-idf for top-1 — evaluated in DOUBLE end to end: IEEE multiply
    * and divide are exactly rounded, so both engines produce the same
    * bits at ANY corpus size, where a 64-bit integer product would wrap
    * in Spark (non-ANSI) and error in DuckDB once tf·N·SCALE passes
    * 2⁶³ (tf 10⁴ × N 10⁹ × SCALE 10⁶ at crawl scale). Ties (including
    * any lost to 2⁵³-rounding) break on the term itself. Two shuffles:
    * df aggregation and the per-doc window. */
  def tfidfTopTerm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.spread(Tables.documents(spark, sfDir))
    val terms = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // df from tf, not from a second explode + DISTINCT over the corpus:
    // tf's key set IS the distinct (doc, term) relation, so one row per
    // key per term is the document frequency — and deriving it here
    // lets ReuseExchange share the (doc_id, term) shuffle between the
    // two aggregates instead of exploding and shuffling the terms twice
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"term".asc)
    tf.join(df, "term")
      .crossJoin(n)
      .withColumn("score",
        $"tf".cast("double") * $"n_docs" * 1000000L / $"df")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"doc_id", $"term".as("top_term"), $"tf", $"df", $"score")
      .orderBy($"doc_id")
  }

  val tfidfTopTermSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms
      |  WHERE term <> '' GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM (
      |    SELECT DISTINCT doc_id, term FROM terms WHERE term <> '') t
      |  GROUP BY term
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * n.n_docs * 1000000 / df.df AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs * 1000000 / df.df
      |        DESC, tf.term ASC) AS rk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term AS top_term, tf, df, score
      |FROM scored WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- x34 PII

  /** Redaction regexes — kept to the common Java-regex/RE2 subset (no
    * lookarounds, no backrefs) so the Spark expression and the DuckDB
    * oracle match byte-for-byte. CurationSpec pins golden cases. */
  val emailRegex: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRegex: String = "https?://[^ ]+"
  val phoneRegex: String = "\\+[0-9][0-9-]+[0-9]"

  /** Redact URLs, then emails, then phones (URL first so its path digits
    * and dots can't be half-eaten by the narrower patterns). */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, urlRegex, "<URL>"),
        emailRegex, "<EMAIL>"),
      phoneRegex, "<PHONE>")

  /** The documents fixture carries no PII, so each doc gets a
    * deterministic synthetic contact block (a pure function of doc_id —
    * the oracle rebuilds the identical string) before scrubbing. */
  private def withSyntheticPii(doc: Column, docId: Column): Column = {
    val id = docId.cast("string")
    concat(doc,
      lit(" Contact user"), id, lit("@example.com or +1-555-0"),
      (docId % 10000).cast("string"),
      when(docId % 3 === 0,
        concat(lit(" cc admin"), id, lit("@mail.example.org"))).otherwise(""),
      when(docId % 4 === 1,
        concat(lit(" fax +20-2-"), (docId % 1000).cast("string"), lit("-99")))
        .otherwise(""),
      lit(" see https://site"), (docId % 7).cast("string"),
      lit(".example.com/d/"), id)
  }

  /** x34 — PII scrub: count emails/phones/URLs per doc and emit the
    * redacted text. Map-only (no shuffle but the output sort): the exact
    * shape a 100 TB pre-training scrub pass needs — every expression is
    * codegen'd regexp work, rows never leave their input partition. */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pii = withSyntheticPii($"text", $"doc_id")
    Tables.documents(spark, sfDir).select(
      $"doc_id",
      regexp_count(pii, lit(emailRegex)).cast("long").as("n_emails"),
      regexp_count(pii, lit(phoneRegex)).cast("long").as("n_phones"),
      regexp_count(pii, lit(urlRegex)).cast("long").as("n_urls"),
      redact(pii).as("redacted"),
    ).orderBy($"doc_id")
  }

  val piiScrubSql: String = {
    // same regexes; DuckDB regexp_replace needs the explicit 'g' flag
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ ]+"
    val phone = "\\+[0-9][0-9-]+[0-9]"
    s"""WITH p AS (
       |  SELECT doc_id,
       |    text || ' Contact user' || doc_id || '@example.com or +1-555-0'
       |      || (doc_id % 10000)
       |      || CASE WHEN doc_id % 3 = 0
       |              THEN ' cc admin' || doc_id || '@mail.example.org' ELSE '' END
       |      || CASE WHEN doc_id % 4 = 1
       |              THEN ' fax +20-2-' || (doc_id % 1000) || '-99' ELSE '' END
       |      || ' see https://site' || (doc_id % 7) || '.example.com/d/' || doc_id
       |      AS pii
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(pii, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(pii, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(pii, '$url')) AS BIGINT) AS n_urls,
       |  regexp_replace(regexp_replace(regexp_replace(pii,
       |    '$url', '<URL>', 'g'), '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS redacted
       |FROM p ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- x38 quality pruning

  /** x38 — per-language quality pruning: keep documents whose x30-style
    * quality score clears their language's 25th percentile — the standard
    * "drop the worst quartile per stratum" curation pass. Two shuffles:
    * the per-language exact percentile (a tiny dim — one row per
    * language) and nothing else: the threshold dim broadcasts back onto
    * the doc rows, so the filter is map-side at any corpus size. (At
    * 100 TB the exact percentile would swap for approx_percentile — same
    * plan shape, no oracle parity.) */
  def qualityPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source",
        qualityScore($"text").as("quality_score"))
    val thresholds = scored.groupBy($"lang")
      .agg(expr("percentile(quality_score, 0.25)").as("q25"))
    scored.join(broadcast(thresholds), "lang")
      // tolerance-aware: Spark's percentile and the oracle's quantile_cont
      // interpolate with a different fp operation order, so a doc scoring
      // exactly AT the threshold could flip in/out between engines; the
      // 1e-12 slack (applied identically in the oracle) absorbs last-ulp
      // differences without admitting any genuinely sub-threshold doc
      .filter($"quality_score" >= $"q25" - lit(1e-12))
      .select($"doc_id", $"lang", $"source", $"quality_score", $"q25")
      .orderBy($"doc_id")
  }

  /** x39 — the 100 TB form of [[qualityPrune]]: per-language threshold via
    * `approx_percentile` (t-digest style mergeable sketch — one pass, no
    * per-language full sort) instead of exact `percentile`. Identical plan
    * shape: tiny per-lang threshold dim broadcast back for a map-side
    * filter. Rows-only under the driver (the sketch's threshold is
    * engine-specific by design); CurationSpec gates the kept fraction
    * within 1% of the exact x38 per language. Accuracy knob = 10000
    * (max error ≈ 1/accuracy of rank). */
  def qualityPruneApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source",
        qualityScore($"text").as("quality_score"))
    val thresholds = scored.groupBy($"lang")
      .agg(expr("approx_percentile(quality_score, 0.25, 10000)").as("q25"))
    scored.join(broadcast(thresholds), "lang")
      .filter($"quality_score" >= $"q25" - lit(1e-12))
      .select($"doc_id", $"lang", $"source", $"quality_score", $"q25")
      .orderBy($"doc_id")
  }

  /** x69 feature-hash geometry: 2¹⁶ buckets (fastText's default
    * hashing-trick order of magnitude, scaled to the fixture), plus one
    * intercept slot one past the hash range. */
  private[graft] val ClassifierBuckets = 65536L
  private[graft] val ClassifierBiasBucket: Long = ClassifierBuckets
  /** Fixed GD round count and step divisor — COMPILE-TIME constants so
    * the oracle can unroll training as chained CTEs (the x22/x55
    * trick). Step = −grad / (n_train · EtaDen): a 0.1 learning rate in
    * micro units, tuned on the fixture (held-out accuracy plateaus
    * ~0.81 here; more rounds keep helping but inflate the unrolled
    * oracle roughly linearly in both size and DuckDB planning time). */
  private[graft] val ClassifierGdRounds = 128
  private[graft] val ClassifierGdEtaDen = 10L
  /** Margin clamp before the rational sigmoid: keeps 500000·s inside
    * Long on the Spark side while leaving any realistic margin
    * untouched (the sigmoid is saturated to within 10⁻⁶ of its limit
    * long before |s| = 10¹²). */
  private[graft] val ClassifierMarginClamp = 1000000000000L
  /** Training-doc stride-sample cap (the [[graft.ops.Similarity]]
    * trainSampleOf pattern — classifiers train on bounded samples at
    * crawl scale as a matter of course) and the triple-count gate below
    * which the zero-jobs-per-round driver-local loop runs. */
  private[graft] val ClassifierTrainDocCap: Long = 1L << 20
  private[graft] val ClassifierLocalMaxTriples: Long = 1L << 22

  /** Deterministic training corpus: the doc_id % 4 ≠ 0 slice — the
    * % 4 = 0 quarter is NEVER trained on, so CurationSpec can score it
    * as genuinely held-out — stride-sampled down to
    * ~[[ClassifierTrainDocCap]] docs above the cap (`pmod(xxhash64(id),
    * ⌈n/cap⌉) = 0`, no rand(); a no-op at fixture scale, so the oracle
    * replays the below-cap regime — same contract as Lloyd's
    * TrainSampleCap). */
  private def classifierTrainDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 4 =!= 0).select($"doc_id", $"text")
    val n = t.count()
    if (n <= ClassifierTrainDocCap) t
    else t.filter(pmod(xxhash64($"doc_id"),
      lit((n + ClassifierTrainDocCap - 1) / ClassifierTrainDocCap)) === 0)
  }

  /** The TRAINED x69 model: a dense Long[2¹⁶+1] (hash-bucket weights +
    * intercept at [[ClassifierBiasBucket]]), memoized per (session,
    * corpus) and built by [[classifierTrainLocal]] /
    * [[classifierTrainDistributed]] — real training code, not hand-set
    * constants.
    *
    * LABELS are distilled from the x30 quality TEACHER at the r13
    * verdict's quartile split: a train-slice doc is positive iff its
    * quality blend reaches the slice's exact TOP-QUARTILE element —
    * the CCNet/fastText teacher-student shape (score with a cheap
    * reference signal, distill into a hashed-BoW model that then
    * generalizes with no feature pipeline), with a selective teacher
    * (25% positives) instead of the old median coin-flip. The
    * verdict's other candidate — x31 lang-ID as the class — was
    * evaluated and is DEGENERATE on this corpus: the fixture's shared
    * word soup contains 'a'/'the', so the marker argmax predicts 'en'
    * for every document and the label is a constant (PLANS.md r14).
    *
    * TRAINER: full-batch gradient descent on a logistic objective for
    * [[ClassifierGdRounds]] fixed rounds in EXACT integer micro-unit
    * arithmetic — margins, the rational sigmoid
    * p = ½ + s/(2·(1+|s|)) (micro: 500000 + 500000·s div (10⁶+|s|)),
    * residuals, gradients and updates are all Long ops, so every sum
    * is associative and the result is bit-identical under any
    * partitioning, executor count, or summation order. That is what
    * lets one merge table serve three gates: the local and distributed
    * regimes are provably equal (CurationSpec), and the oracle replays
    * all rounds as unrolled MATERIALIZED CTEs in DuckDB
    * ([[classifierTrainingCtes]]) with the same truncating integer
    * division (Scala `/` ≡ DuckDB `//`, both toward zero). */
  private[graft] def classifierWeights(spark: SparkSession, sfDir: String): Array[Long] =
    graft.Caches.memoValue(spark, s"classifier-weights:$sfDir") {
      import spark.implicits._
      graft.functions.CustomExprs.register(spark)
      val docs = classifierTrainDocs(spark, sfDir)
        .select($"doc_id", split($"text", " ").as("w"),
          qualityScore($"text").as("qs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count()
      // exact top-quartile element: the ((3(n+1)) div 4)-th smallest
      // quality value — a deterministic element of the multiset (no
      // tie ambiguity, no float averaging), replayed by row_number in
      // the oracle
      val thr = docs.orderBy($"qs").limit(((3 * (nDocs + 1)) / 4).toInt)
        .orderBy($"qs".desc).select($"qs").head.getDouble(0)
      val labels = docs.select($"doc_id",
        when($"qs" >= thr, 1L).otherwise(0L).as("y"))
      val triples = docs
        .select($"doc_id", explode($"w").as("x"))
        .select($"doc_id",
          pmod(call_function("fnv1a64", $"x"), lit(ClassifierBuckets)).as("bucket"))
        .unionAll(docs.select($"doc_id", lit(ClassifierBiasBucket).as("bucket")))
        .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("c"))
        // persisted BEFORE the gate count: both regimes re-read the frame
        // right after (collect / per-round scans), and without the persist
        // the corpus-wide explode+shuffle would run twice
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nTriples = triples.count()
      val trained =
        if (nTriples <= ClassifierLocalMaxTriples)
          classifierTrainLocal(
            triples.as[(Long, Long, Long)].collect().toSeq,
            labels.as[(Long, Long)].collect().toMap,
            ClassifierGdRounds, ClassifierGdEtaDen)
        else classifierTrainDistributed(triples, labels,
          ClassifierGdRounds, ClassifierGdEtaDen)
      triples.unpersist(blocking = false)
      docs.unpersist(blocking = false)
      val arr = new Array[Long](ClassifierBuckets.toInt + 1)
      trained.foreach { case (b, v) => arr(b.toInt) = v }
      arr
    }

  /** Below-gate trainer: the (doc, bucket, count) triples and labels
    * are collected ONCE (bounded by [[ClassifierLocalMaxTriples]]) and
    * all [[ClassifierGdRounds]] rounds run driver-side with zero Spark
    * jobs — the x55 local-regime shape. */
  private[graft] def classifierTrainLocal(triples: Seq[(Long, Long, Long)],
      labels: Map[Long, Long], rounds: Int, etaDen: Long): Map[Long, Long] = {
    val byDoc = triples.groupBy(_._1)
    val docs = labels.keys.toArray.sorted.map { d =>
      val t = byDoc.getOrElse(d, Nil)
      (t.map(_._2).toArray, t.map(_._3).toArray, labels(d))
    }
    val n = docs.length.toLong
    val w = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var t = 0
    while (t < rounds) {
      val grad = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      docs.foreach { case (bs, cs, y) =>
        var s = 0L
        var i = 0
        while (i < bs.length) { s += cs(i) * w(bs(i)); i += 1 }
        val sc = math.max(-ClassifierMarginClamp, math.min(ClassifierMarginClamp, s))
        val p = 500000L + 500000L * sc / (1000000L + math.abs(sc))
        val r = p - y * 1000000L
        i = 0
        while (i < bs.length) { grad(bs(i)) += r * cs(i); i += 1 }
      }
      grad.foreach { case (b, g) => w(b) = w(b) - g / (n * etaDen) }
      t += 1
    }
    w.toMap
  }

  /** Above-gate trainer: per round ONE margins-residuals-gradient
    * aggregation over the (persisted) triples — the weight dim (≤2¹⁶+1
    * rows) broadcasts out, the integer gradient groupBy-bucket comes
    * back. Integer sums make the round deterministic regardless of
    * partitioning, so this is bit-equal to the local loop (CurationSpec
    * pins it) and the gradient collect is bounded by the bucket count,
    * never the corpus. */
  private[graft] def classifierTrainDistributed(triples: DataFrame,
      labels: DataFrame, rounds: Int, etaDen: Long): Map[Long, Long] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val tr = triples.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lb = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = lb.count()
    var w = Map.empty[Long, Long]
    var t = 0
    while (t < rounds) {
      val wDf = w.toSeq.toDF("bucket", "wt")
      val resid = tr.join(broadcast(wDf), Seq("bucket"), "left")
        .groupBy($"doc_id")
        .agg(sum($"c" * coalesce($"wt", lit(0L))).as("s"))
        .withColumn("sc", greatest(least($"s", lit(ClassifierMarginClamp)),
          lit(-ClassifierMarginClamp)))
        .join(lb, "doc_id")
        // div = truncating integer division, matching Scala / exactly
        .withColumn("r",
          expr("500000 + (500000 * sc) div (1000000 + abs(sc)) - y * 1000000"))
      val grad = tr.join(resid.select($"doc_id", $"r"), "doc_id")
        .groupBy($"bucket").agg(sum($"r" * $"c").as("g"))
        .as[(Long, Long)].collect()
      w = w ++ grad.map { case (b, g) => b -> (w.getOrElse(b, 0L) - g / (n * etaDen)) }
      t += 1
    }
    tr.unpersist(blocking = false)
    lb.unpersist(blocking = false)
    w
  }

  /** x69's summed-margin score over a PROJECTED words-array column —
    * shared by batch, the pipelines and the streaming siblings so every
    * consumer scores identically. The trained weight vector rides along
    * as ONE dense array literal (512 KiB — the "k·4-byte broadcast
    * array an executor holds once"); the intercept initialises the
    * fold, each word costs one O(1) element_at. Scoring stays a PURE
    * MAP over documents — no vocabulary dim, no shuffle, no join — the
    * property that makes classifier filtering viable at crawl scale. */
  private[graft] def classifierScoreMicro(w: Column, weights: Array[Long]): Column = {
    require(weights.length == ClassifierBuckets.toInt + 1,
      s"dense weights + intercept expected, got ${weights.length}")
    val arr = typedLit(weights.take(ClassifierBuckets.toInt).toSeq)
    aggregate(
      transform(w, x => element_at(arr,
        (pmod(call_function("fnv1a64", x), lit(ClassifierBuckets)) + lit(1L))
          .cast("int"))),
      lit(weights(ClassifierBuckets.toInt)),
      (acc, x) => acc + x)
  }

  /** x69 — MODEL-BASED quality classification, the fastText-style
    * filter modern data recipes run after heuristic pruning (CCNet,
    * LLaMA's Wikipedia-reference classifier, DataComp's fasttext
    * baselines): hash each word into one of [[ClassifierBuckets]]
    * feature buckets (FNV-1a 64 → pmod — the hashing trick; no
    * vocabulary dim exists at all), look up the bucket's TRAINED weight
    * ([[classifierWeights]]), and score the document by intercept +
    * summed feature weights; `kept` is the positive-margin decision.
    * The oracle replays the ENTIRE path — training rounds unrolled,
    * then word-level FNV-1a bucketing and the weight join — so scoring
    * is hash-exact end to end against a model DuckDB trained itself. */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val wts = classifierWeights(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", split($"text", " ").as("w"))
      .select($"doc_id", $"lang",
        size($"w").cast("long").as("n_words"),
        classifierScoreMicro($"w", wts).as("feat_sum_micro"))
      .withColumn("kept", $"feat_sum_micro" > 0)
      .orderBy($"doc_id")
  }

  /** FNV-1a-64(word) % [[ClassifierBuckets]] as a DuckDB scalar over a
    * word column — the oracle's replay of the fnv1a64/pmod bucketing
    * (same recurrence as [[fnvFingerprintSql]], over the word's UTF-8
    * bytes). */
  private def wordBucketSqlExpr(c: String): String = {
    val byteAt =
      s"(strpos('0123456789ABCDEF', substr(hex(encode($c)), CAST(2*i+1 AS INT), 1))-1)*16" +
        s" + (strpos('0123456789ABCDEF', substr(hex(encode($c)), CAST(2*i+2 AS INT), 1))-1)"
    s"""CAST(list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |        list_transform(range(0, octet_length(encode($c))),
       |          i -> CAST($byteAt AS HUGEINT))),
       |      (acc, fb) -> (xor(acc, fb) * 1099511628211)
       |                     % CAST(18446744073709551616 AS HUGEINT))
       |    % $ClassifierBuckets AS BIGINT)""".stripMargin
  }

  /** The x69 TRAINING REPLAY: every CTE a DuckDB re-derivation of what
    * [[classifierWeights]] computes — train slice, quality labels with
    * the exact top-quartile threshold, hashed-BoW triples with the intercept
    * row, then [[ClassifierGdRounds]] unrolled GD rounds (integer
    * micro-unit margins → rational sigmoid → gradient → update, `//`
    * matching Scala's truncating `/`). Ends with `clf_w(bucket, wt)`,
    * the final weight table x69/x75/x77's scoring joins consume. Every
    * multiply-referenced CTE is MATERIALIZED (the DuckDB inliner rule —
    * see x55). */
  private[graft] def classifierTrainingCtes: String = {
    val clamp = ClassifierMarginClamp
    val rounds = (0 until ClassifierGdRounds).map { t =>
      s"""clf_g$t AS MATERIALIZED (
         |  SELECT wb.bucket,
         |    SUM((500000 + (500000*ms.sc)//(1000000+abs(ms.sc))
         |         - yy.y*1000000) * wb.c) AS g
         |  FROM clf_wb wb
         |  JOIN (SELECT wb2.doc_id,
         |          GREATEST(LEAST(COALESCE(SUM(wb2.c * w.wt), 0),
         |            $clamp), -$clamp) AS sc
         |        FROM clf_wb wb2
         |        LEFT JOIN clf_w$t w ON wb2.bucket = w.bucket
         |        GROUP BY wb2.doc_id) ms ON wb.doc_id = ms.doc_id
         |  JOIN clf_y yy ON wb.doc_id = yy.doc_id
         |  GROUP BY wb.bucket
         |), clf_w${t + 1} AS MATERIALIZED (
         |  SELECT g.bucket,
         |    CAST(COALESCE(w.wt, 0)
         |      - g.g//((SELECT n FROM clf_n) * $ClassifierGdEtaDen)
         |      AS BIGINT) AS wt
         |  FROM clf_g$t g LEFT JOIN clf_w$t w ON g.bucket = w.bucket
         |)""".stripMargin
    }.mkString(", ")
    s"""clf_d AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    CAST(LENGTH(text) AS BIGINT) AS n_chars
       |  FROM documents WHERE doc_id % 4 != 0
       |), clf_q AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${qualityScoreSqlExpr("w", "n_chars")} AS qs
       |  FROM clf_d
       |), clf_thr AS MATERIALIZED (
       |  SELECT qs AS t FROM (
       |    SELECT qs, row_number() OVER (ORDER BY qs) AS rn FROM clf_q) r
       |  WHERE rn = (SELECT (3*(count(*)+1))//4 FROM clf_q)
       |), clf_y AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN qs >= (SELECT t FROM clf_thr) THEN 1 ELSE 0 END AS y
       |  FROM clf_q
       |), clf_n AS MATERIALIZED (SELECT count(*) AS n FROM clf_y),
       |clf_wb AS MATERIALIZED (
       |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, ${wordBucketSqlExpr("x")} AS bucket
       |    FROM (SELECT doc_id, unnest(w) AS x FROM clf_d) u
       |    UNION ALL SELECT doc_id, $ClassifierBiasBucket AS bucket FROM clf_q
       |  ) b GROUP BY doc_id, bucket
       |), clf_w0 AS MATERIALIZED (
       |  SELECT CAST(NULL AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS wt
       |  WHERE 1=0
       |), $rounds,
       |clf_w AS MATERIALIZED (
       |  SELECT bucket, wt FROM clf_w$ClassifierGdRounds
       |)""".stripMargin
  }

  /** Scoring CTE over a docs CTE exposing (doc_id, w): intercept +
    * Σ_word-occurrences wt[bucket(word)] — unseen buckets contribute 0
    * (SUM skips the unmatched-join NULLs), exactly the dense-array
    * semantics of [[classifierScoreMicro]]. */
  private[graft] def classifierScoreCtes(src: String, out: String): String =
    s""", $out AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    CAST((SELECT wt FROM clf_w WHERE bucket = $ClassifierBiasBucket)
       |      + COALESCE(SUM(cw.wt), 0) AS BIGINT) AS feat_sum_micro
       |  FROM $src d
       |  LEFT JOIN (
       |    SELECT doc_id, ${wordBucketSqlExpr("x")} AS bucket
       |    FROM (SELECT doc_id, unnest(w) AS x FROM $src) u
       |  ) wx ON wx.doc_id = d.doc_id
       |  LEFT JOIN clf_w cw ON cw.bucket = wx.bucket
       |  GROUP BY d.doc_id
       |)""".stripMargin

  /** x69's oracle: train the model in DuckDB (unrolled rounds), then
    * score every document with the trained weight table. */
  def qualityClassifierSql: String =
    s"""WITH $classifierTrainingCtes,
       |doc0 AS MATERIALIZED (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
       |)${classifierScoreCtes("doc0", "clf_sc")}
       |SELECT d.doc_id, d.lang, CAST(len(d.w) AS BIGINT) AS n_words,
       |  s.feat_sum_micro, s.feat_sum_micro > 0 AS kept
       |FROM doc0 d JOIN clf_sc s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val qualityPruneSql: String = {
    s"""WITH d AS (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS w,
       |    CAST(LENGTH(text) AS BIGINT) AS n_chars
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, lang, source,
       |    ${qualityScoreSqlExpr("w", "n_chars")}
       |      AS quality_score
       |  FROM d
       |), t AS (
       |  SELECT lang, quantile_cont(quality_score, 0.25) AS q25
       |  FROM s GROUP BY lang
       |)
       |SELECT doc_id, s.lang, source, quality_score, q25
       |FROM s JOIN t ON s.lang = t.lang
       |WHERE quality_score >= q25 - 1e-12
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- x36 boilerplate lines

  /** x36 line segmentation: the fixture text is newline-free word soup, so
    * a "line" is a fixed 8-word chunk — deterministic on both engines. */
  val LineWords = 8

  /** A line appearing in >= this many distinct docs is boilerplate. */
  val BoilerplateDocFreq = 3

  /** x36 — C4-style per-line boilerplate removal: segment docs into lines,
    * compute each line's document frequency, drop lines appearing in >= K
    * distinct docs, reassemble the surviving text in order. Fully
    * relational: explode → df aggregation on the line → join back (both
    * shuffles hash on `line`, so they share a partitioning) → per-doc
    * regroup. The line-df table is the only corpus-sized intermediate —
    * exactly the two-pass shape of the C4 boilerplate rule at scale. */
  /** The fixed-8-word line chunking shared by x36 and x44, over a
    * PROJECTED words column `w` (never the split expression inlined
    * into the lambda — the x42 interpreted-HOF lesson: an inlined split
    * re-executes per chunk, O(words²) per doc). ONE definition so the
    * two line-level ops can't drift. */
  private def lineChunks: Column = {
    val nChunks = greatest(ceil(size(col("w")) / lit(LineWords.toDouble)),
      lit(1L)).cast("int")
    transform(sequence(lit(0), nChunks - 1),
      i => struct(i.as("pos"),
        concat_ws(" ",
          slice(col("w"), i * LineWords + 1, lit(LineWords))).as("line")))
  }

  def boilerplateScrub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // words projected, never inlined into the chunk lambda (x42 lesson)
    val lines = lineChunks
    // deliberately NOT persisted, unlike the shingle tables: the exploded
    // line frame has exactly one consumer pair inside one query, its
    // recompute is a narrow scan+chunk expression, and at 100 TB pinning
    // a corpus-sized line table in executor storage costs more than the
    // second pass (AQE exchange reuse dedupes the shared scan+repartition
    // prefix at runtime anyway)
    val exploded = Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("w", split($"text", " "))
      .select($"doc_id", explode(lines).as("l"))
      .select($"doc_id", $"l.pos".as("pos"), $"l.line".as("line"))
    val lineDf = exploded.groupBy($"line")
      .agg(countDistinct($"doc_id").as("ldf"))
    exploded.join(lineDf, "line")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when($"ldf" >= BoilerplateDocFreq, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when($"ldf" < BoilerplateDocFreq, struct($"pos", $"line")))),
          s => s.getField("line"))).as("cleaned_text"))
      .orderBy($"doc_id")
  }

  val boilerplateScrubSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), c AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, greatest(CAST(ceil(len(w) / $LineWords.0) AS BIGINT), 1)),
       |    i -> struct_pack(pos := i,
       |      line := array_to_string(
       |        list_slice(w, i * $LineWords + 1, i * $LineWords + $LineWords), ' ')))) AS u
       |  FROM d
       |), l AS (
       |  SELECT doc_id, u.pos AS pos, u.line AS line FROM c
       |), f AS (
       |  SELECT line, COUNT(DISTINCT doc_id) AS ldf FROM l GROUP BY line
       |), j AS (
       |  SELECT l.doc_id, l.pos, l.line, f.ldf FROM l JOIN f USING (line)
       |)
       |SELECT doc_id, COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN ldf >= $BoilerplateDocFreq THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  COALESCE(string_agg(CASE WHEN ldf < $BoilerplateDocFreq THEN line END,
       |                      ' ' ORDER BY pos), '') AS cleaned_text
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------- x44 line-level keep-first dedup

  /** x44 occurrence frame: every (doc_id, pos, line) occurrence with its
    * keep flag. A line's WINNER is its globally first occurrence — the
    * minimum of the single integer key doc_id·10⁶+pos (pos < 10⁶ by
    * construction: a 10⁶-line document would be ~8 M words), computed with
    * a map-side-combinable `min` aggregation rather than a per-line window
    * sort, so a boilerplate line appearing in half the corpus costs one
    * combiner cell, not an O(df log df) sort partition. */
  private def lineOccurrences(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val exploded = Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("w", split($"text", " "))
      .select($"doc_id", explode(lineChunks).as("l"))
      .select($"doc_id", $"l.pos".as("pos"), $"l.line".as("line"))
    val winner = exploded.groupBy($"line")
      .agg(min($"doc_id" * 1000000L + $"pos").as("wkey"))
    exploded.join(winner, "line")
      .withColumn("kept", $"doc_id" * 1000000L + $"pos" === $"wkey")
  }

  /** x44 — duplicated-line KEEP-FIRST dedup (the RefinedWeb/MassiveText
    * line-dedup rule, complementing x36's C4 df-threshold rule): every
    * distinct line survives exactly once corpus-wide — at its first
    * occurrence in (doc_id, pos) order — and all later occurrences are
    * removed; unique lines are untouched. Relational shape: explode →
    * min-key winner per line (one combinable agg) → join back on `line`
    * (both shuffles share the hash partitioning) → ordered per-doc
    * reassembly. Unlike x36 there is no frequency threshold to tune, so
    * the rule also removes 2-doc duplication that a df≥3 cut misses. */
  def lineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lineOccurrences(spark, sfDir)
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(!$"kept", 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when($"kept", struct($"pos", $"line")))),
          s => s.getField("line"))).as("cleaned_text"))
      .orderBy($"doc_id")
  }

  val lineDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), c AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, greatest(CAST(ceil(len(w) / $LineWords.0) AS BIGINT), 1)),
       |    i -> struct_pack(pos := i,
       |      line := array_to_string(
       |        list_slice(w, i * $LineWords + 1, i * $LineWords + $LineWords), ' ')))) AS u
       |  FROM d
       |), l AS (
       |  SELECT doc_id, u.pos AS pos, u.line AS line FROM c
       |), win AS (
       |  SELECT line, MIN(doc_id * 1000000 + pos) AS wkey FROM l GROUP BY line
       |), j AS (
       |  SELECT l.doc_id, l.pos, l.line,
       |    (l.doc_id * 1000000 + l.pos = win.wkey) AS kept
       |  FROM l JOIN win USING (line)
       |)
       |SELECT doc_id, COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  COALESCE(string_agg(CASE WHEN kept THEN line END,
       |                      ' ' ORDER BY pos), '') AS cleaned_text
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Spec hook: the (doc_id, pos, line, kept) occurrence frame. */
  def lineDedupOccurrences(spark: SparkSession, sfDir: String): DataFrame =
    lineOccurrences(spark, sfDir)

  /** x33 — FNV-1a 64-bit rolling content hash via the custom codegen
    * expression. Hash-checked since round 9: the oracle REPLAYS the
    * exact FNV-1a byte recurrence in DuckDB (hex-nibble byte
    * extraction, HUGEINT accumulator with mod-2⁶⁴ wrap-around multiply,
    * signed-BIGINT conversion at the end), so the custom expression is
    * pinned byte-for-byte against an independent implementation —
    * CustomExprsSpec additionally proves its groups coincide with
    * sha256 groups. */
  def fnvFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        call_function("fnv1a64", $"text").as("fnv64"))
      .withColumn("n_sharing",
        count(lit(1)).over(Window.partitionBy($"fnv64")))
      .orderBy($"doc_id")
  }

  /** The FNV-1a 64 recurrence replayed independently in DuckDB:
    * bytes from hex nibbles, HUGEINT accumulator, xor-then-multiply
    * with an explicit mod-2⁶⁴ wrap (DuckDB BIGINT errors on overflow
    * instead of wrapping), then the unsigned→signed two's-complement
    * conversion to match the JVM Long the expression returns. */
  val fnvFingerprintSql: String = {
    val byteAt =
      "(strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1))-1)*16" +
        " + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1))-1)"
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS len
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(0, len), i -> CAST($byteAt AS HUGEINT))),
       |    (acc, x) -> (xor(acc, x) * 1099511628211)
       |                  % CAST(18446744073709551616 AS HUGEINT)) AS fnvu
       |  FROM d
       |), g AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN fnvu >= CAST(9223372036854775808 AS HUGEINT)
       |      THEN fnvu - CAST(18446744073709551616 AS HUGEINT)
       |      ELSE fnvu END AS BIGINT) AS fnv64
       |  FROM f
       |)
       |SELECT doc_id, fnv64,
       |  COUNT(*) OVER (PARTITION BY fnv64) AS n_sharing
       |FROM g ORDER BY doc_id""".stripMargin
  }

  val fingerprintSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), f AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(w,
      |    (x, i) -> CAST(i AS BIGINT) * (CAST(LENGTH(x) AS BIGINT) * 131 + unicode(x))
      |  )) AS BIGINT) AS fingerprint
      |  FROM d
      |)
      |SELECT doc_id, fingerprint,
      |  COUNT(*) OVER (PARTITION BY fingerprint) AS n_sharing
      |FROM f ORDER BY doc_id""".stripMargin

  // ------------------------------------- x45 unigram-LM surprise scoring

  /** x45 fixed-point scale for the per-word inverse probability. BIGINT
    * bound: sum_surprise ≤ n_words(doc) · total_words · SCALE, safe to
    * ~10¹² corpus words at 10⁶; past that, shrink SCALE or lift the
    * accumulator to decimal(38,0) — same plan shape. */
  val SurpriseScale = 1000000L

  /** x45 — unigram language-model surprise per document (the CCNet-style
    * "LM quality" gate, here with a corpus-self-trained unigram model):
    * rare-word-heavy documents score high, common-word documents low.
    * The usual statistic is mean −log p(word); like x37's tf-idf this
    * engine uses the exact-integer member of the same monotone family —
    * per-word surprise = (total_words · SCALE) DIV count(word), an exact
    * BIGINT rational — so the DuckDB comparison is bit-exact (a float
    * Σlog aggregates in engine-dependent order and can flip last ulps).
    * Plan: explode → word-count aggregation (map-side combinable) →
    * join back on `word` → per-doc sum. The count dim is
    * vocabulary-bounded (Heaps' law), i.e. broadcastable at any corpus
    * size; the single-row total is the established crossJoin shape. */
  def unigramSurprise(spark: SparkSession, sfDir: String): DataFrame = {
    val words = unigramWords(Tables.spread(Tables.documents(spark, sfDir)))
    surpriseScores(words, unigramCounts(words))
  }

  /** (doc_id, lang, word) exploded non-empty words — the ONE tokenizer
    * both the batch model trainer and the streaming incremental trainer
    * use (a drifted split would silently diverge the two models). */
  private[graft] def unigramWords(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"lang", explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
  }

  /** The unigram model: (word, cnt) trained on a words frame. */
  private[graft] def unigramCounts(words: DataFrame): DataFrame =
    words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Score a words frame against an arbitrary (word, cnt) model — shared
    * by batch x45 (model = the corpus itself) and the streaming
    * incrementally-maintained model (Streaming.unigramModel). */
  private[graft] def surpriseScores(words: DataFrame, cnt: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val tot = cnt.agg(sum($"cnt").as("total"))
    words.join(cnt, "word")
      .crossJoin(tot)
      .withColumn("surp", expr(s"total * $SurpriseScale div cnt"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_words"), sum($"surp").as("sum_surprise"))
      .withColumn("mean_surprise",
        $"sum_surprise".cast("double") / $"n_words")
      .select($"doc_id", $"lang", $"n_words", $"sum_surprise",
        $"mean_surprise")
      .orderBy($"doc_id")
  }

  val unigramSurpriseSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
       |  FROM documents
       |), words AS (
       |  SELECT * FROM w WHERE word <> ''
       |), cnt AS (
       |  SELECT word, COUNT(*) AS cnt FROM words GROUP BY word
       |), tot AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt
       |), s AS (
       |  SELECT doc_id, lang,
       |    (tot.total * $SurpriseScale) // cnt.cnt AS surp
       |  FROM words JOIN cnt USING (word) CROSS JOIN tot
       |)
       |SELECT doc_id, lang, COUNT(*) AS n_words,
       |  CAST(SUM(surp) AS BIGINT) AS sum_surprise,
       |  CAST(CAST(SUM(surp) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_surprise
       |FROM s GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  // ------------------------------------- x62 bigram-LM surprise scoring

  /** x62 — BIGRAM language-model surprise per document: the conditional
    * upgrade of x45 (KenLM-style fluency, one order up): per position
    * i ≥ 2, surprise of wᵢ given wᵢ₋₁ = (context_count(wᵢ₋₁) · SCALE)
    * DIV bigram_count(wᵢ₋₁, wᵢ) — the exact-integer member of the
    * −log p(wᵢ | wᵢ₋₁) monotone family, same bit-exact-parity trick as
    * x45/x37. Context counts are BIGRAM-context totals (bigrams whose
    * first word is w), not raw unigram counts, so per-context
    * conditional probabilities sum to exactly 1 — proper LM semantics
    * (a doc's final word conditions nothing and contributes no mass).
    * x45 scores "rare words"; this scores "rare transitions" — word
    * soup with plausible vocabulary but scrambled order (spam keyword
    * stuffing, shuffled boilerplate) passes x45 and fails here.
    *
    * Shape: one positional-bigram explode (projected filtered words
    * array — the x42 lesson), a bigram-count aggregation and its
    * first-word rollup (both map-side combinable), one equi join back
    * on the bigram key, one per-doc sum. The bigram dim grows ~V·b
    * (b = avg branching) — larger than x45's vocab dim but still far
    * below corpus positions; it is NOT broadcast-hinted (the x56
    * lesson: web-scale noise vocabularies can blow any fixed budget —
    * the shuffle join is the safe default and AQE upgrades it when the
    * dim is small). Docs with fewer than 2 words carry no bigram and
    * are excluded, same both sides. */
  def bigramSurprise(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bigrams = when(size($"w") < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), size($"w") - 1),
        i => struct(element_at($"w", i).as("w1"),
          element_at($"w", i + 1).as("w2"))))
    val bg = Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("w", filter(split($"text", " "), x => x =!= ""))
      .select($"doc_id", $"lang", explode(bigrams).as("b"))
      .select($"doc_id", $"lang", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val cnt2 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val cnt1 = cnt2.groupBy($"w1").agg(sum($"c2").as("c1"))
    bg.join(cnt2, Seq("w1", "w2")).join(cnt1, Seq("w1"))
      .withColumn("surp", expr(s"c1 * $SurpriseScale div c2"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_bigrams"), sum($"surp").as("sum_surprise"))
      .withColumn("mean_surprise",
        $"sum_surprise".cast("double") / $"n_bigrams")
      .select($"doc_id", $"lang", $"n_bigrams", $"sum_surprise",
        $"mean_surprise")
      .orderBy($"doc_id")
  }

  val bigramSurpriseSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), bg AS (
       |  SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
       |  FROM d, unnest(range(1, len(w))) t(i)
       |  WHERE len(w) >= 2
       |), cnt2 AS (
       |  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
       |), cnt1 AS (
       |  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM cnt2 GROUP BY w1
       |), s AS (
       |  SELECT doc_id, lang, (cnt1.c1 * $SurpriseScale) // cnt2.c2 AS surp
       |  FROM bg JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1)
       |)
       |SELECT doc_id, lang, COUNT(*) AS n_bigrams,
       |  CAST(SUM(surp) AS BIGINT) AS sum_surprise,
       |  CAST(CAST(SUM(surp) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_surprise
       |FROM s GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- x42 repetition filter

  /** Keep docs whose duplicated-trigram fraction is at most this (the
    * Gopher-style "repetition" rule: templated/looping text repeats its
    * own n-grams). 0.05 is fixture-calibrated so the filter demonstrably
    * BITES at the driver's gate SF (drops 1 doc at sf0.01, 3 at sf0.1 —
    * the fixture corpus is word soup with little self-repetition); a web
    * corpus would run nearer the Gopher 0.2. Threshold comparisons are
    * exact: both engines compute the identical rational 1 − distinct/total
    * in the same operation order. */
  val MaxRepetitionRatio = 0.05

  /** x42 — intra-document repetition filter: rep_ratio = 1 − distinct
    * trigrams / total trigrams (0 for docs under 3 words); drop docs
    * above [[MaxRepetitionRatio]]. The distinct-trigram count is NOT
    * recomputed: it already exists as `nsh` in the persisted shingle
    * signature table every dedup operator shares, so this is a codegen'd
    * one-join plan (documents ⋈ shingled on doc_id) with a trivial
    * total-trigram projection — reusing the index beats re-deriving it
    * (the recompute form also re-enters the interpreted-HOF trap through
    * predicate pushdown, which inlines the aliased shingle expression
    * into the filter: measured 9-13 s vs 0.5 s at sf0.1). Complements
    * x30 (vocabulary/stopword shape, not self-repetition) and x38
    * (composite score per language). */
  def repetitionFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("total_tri",
        greatest(call_function("word_count", $"text") - 2, lit(0))
          .cast("long"))
      .select($"doc_id", $"lang", $"total_tri")
    val sh = graft.ops.Dedup.shingled(spark, sfDir).select($"doc_id", $"nsh")
    docs.join(sh, "doc_id")
      .withColumn("rep_ratio",
        when($"total_tri" <= 0, lit(0.0))
          .otherwise(lit(1.0) - $"nsh" * 1.0 / $"total_tri"))
      .filter($"rep_ratio" <= MaxRepetitionRatio)
      .select($"doc_id", $"lang", $"rep_ratio")
      .orderBy($"doc_id")
  }

  val repetitionFilterSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
       |), t AS (
       |  SELECT doc_id, lang,
       |    CAST(greatest(len(w) - 2, 0) AS BIGINT) AS total_tri,
       |    len(list_distinct(list_transform(
       |      range(1, greatest(len(w) - 1, 1)),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS distinct_tri
       |  FROM d
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN total_tri <= 0 THEN 0.0
       |       ELSE 1.0 - distinct_tri * 1.0 / total_tri END AS rep_ratio
       |FROM t
       |WHERE (CASE WHEN total_tri <= 0 THEN 0.0
       |            ELSE 1.0 - distinct_tri * 1.0 / total_tri END)
       |      <= $MaxRepetitionRatio
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- x43 token chunking

  /** x43 chunk geometry: 64-token windows, stride 48 (16-token overlap). */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** x43 — token-window CHUNKING: split each document into overlapping
    * fixed-token windows — the pre-embedding / pre-training segmentation
    * step (a doc longer than the model context must become several
    * sequences; the overlap keeps boundary context). Pure generate:
    * `posexplode` over the window starts (a `sequence` of stride steps),
    * then a `slice` + `concat_ws` per window — map-side only, rows out
    * ∝ tokens in, no shuffle except the final ordering. */
  def chunkTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = split($"text", " ")
    Tables.documents(spark, sfDir)
      .withColumn("w", w)
      .select($"doc_id", $"w",
        posexplode(sequence(lit(1), greatest(size($"w"), lit(1)),
          lit(ChunkStride))).as(Seq("chunk_id", "start")))
      .select($"doc_id", $"chunk_id",
        least(lit(ChunkTokens), size($"w") - $"start" + 1).cast("long")
          .as("n_tokens"),
        concat_ws(" ", slice($"w", $"start", lit(ChunkTokens))).as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val chunkTokensSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), starts AS (
       |  SELECT doc_id, w, unnest(range(1, greatest(len(w), 1) + 1,
       |    $ChunkStride)) AS start
       |  FROM d
       |)
       |SELECT doc_id,
       |  CAST((start - 1) / $ChunkStride AS INT) AS chunk_id,
       |  CAST(least($ChunkTokens, len(w) - start + 1) AS BIGINT) AS n_tokens,
       |  array_to_string(w[start : least(start + ${ChunkTokens - 1}, len(w))],
       |    ' ') AS chunk_text
       |FROM starts ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------- x46 reference coverage

  /** x46 knobs: the trusted-reference slice (doc_id ≡ 0 mod 13 — a
    * distinct slice from x19's benchmark mod 17) and the admission
    * threshold in permille of a doc's distinct bigrams that must appear
    * in the reference (850 splits the fixture: coverage runs 588-1000
    * with median ≈ 862 at both gate SFs, so both branches are
    * exercised). */
  val RefSliceMod = 13L
  val RefCoveragePermille = 850L

  /** x46 — reference-coverage data selection (the DSIR idea — Xie et
    * al. 2023, arXiv:2302.03169 — with set-coverage in place of hashed
    * importance weights so the score is EXACT): score every candidate
    * document by the fraction of its distinct word bigrams that occur
    * anywhere in a trusted reference slice, and admit docs at ≥
    * [[RefCoveragePermille]]. All integer arithmetic — the admission
    * test is cross-multiplied, never a float division — so the DuckDB
    * oracle hash-matches. Docs with fewer than two words have no
    * bigrams and are unscored (excluded), same both sides.
    *
    * Scale shape: one distinct-bigram shuffle, one equi join keyed on
    * bigram against the (much smaller) reference bigram set, one
    * per-doc aggregation. At 100 TB the reference set is the broadcast
    * side when it fits (a curated reference usually does); here it
    * stays a shuffle join since the fixture slice is 1/13 of the
    * corpus. */
  def refCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("w", split($"text", " ")) // see distinctBigrams PERF note
      .select($"doc_id", explode(distinctBigrams).as("ngram"))
    val ref = all.filter($"doc_id" % RefSliceMod === 0)
      .select($"ngram").distinct().withColumn("in_ref", lit(1L))
    all.filter($"doc_id" % RefSliceMod =!= 0)
      .join(ref, Seq("ngram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce($"in_ref", lit(0L))).as("n_in_ref"))
      .withColumn("admitted",
        $"n_in_ref" * 1000 >= lit(RefCoveragePermille) * $"n_bigrams")
      .orderBy($"doc_id")
  }

  val refCoverageSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), b AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w), 1)),
       |    i -> w[i] || ' ' || w[i+1]))) AS ngram
       |  FROM d WHERE len(w) >= 2
       |), ref AS (
       |  SELECT DISTINCT ngram FROM b WHERE doc_id % $RefSliceMod = 0
       |)
       |SELECT b.doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(CASE WHEN r.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_in_ref,
       |  CAST(SUM(CASE WHEN r.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      * 1000 >= $RefCoveragePermille * COUNT(*) AS admitted
       |FROM b LEFT JOIN ref r USING (ngram)
       |WHERE b.doc_id % $RefSliceMod <> 0
       |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  // ------------------------------------------------ x55 BPE tokenizer

  /** Merge rounds for the x55 trainer (a real tokenizer runs 30k-100k;
    * the algorithm and plan shape are identical at any count). */
  val BpeMergeRounds = 20

  /** One greedy left-to-right BPE merge application over a symbol
    * sequence — the exact application rule of Sennrich et al. 2016
    * (non-overlapping, leftmost first). Shared by the distributed
    * trainer (as a UDF over the vocabulary dim) and the spec's
    * clean-room reference implementation. */
  private[graft] def bpeApplyMerge(syms: Seq[String], l: String,
      r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** x55 — BPE TOKENIZER TRAINING (Sennrich et al. 2016, the byte-pair
    * encoding merge loop behind GPT/LLaMA-family tokenizers) as an
    * iterative relational computation: per round, count adjacent symbol
    * pairs weighted by word frequency, merge the most frequent pair
    * (deterministic count-desc, pair-asc tiebreak), repeat. Output is
    * the learned merge table (rank, left, right, pair_count) — the
    * artifact a tokenizer ships.
    *
    * Scale shape: the ONLY corpus-sized pass is the initial word count;
    * everything after runs on the (word, freq) VOCABULARY dim, which is
    * Heaps-law bounded (this is how production BPE trainers work — they
    * train on word counts, not the raw stream). Since round 10 the
    * trainer is REGIME-GATED ([[bpeTrain]]): a dim under
    * [[BpeLocalTrainMaxWords]] is collected once and the merge loop
    * runs on the driver — zero Spark jobs per round, the
    * production-standard single-node trainer; a larger dim runs the
    * distributed loop with BATCHED top-m symbol-disjoint merge
    * selection ([[bpeTrainBatched]]) — ~batch-size× fewer driver round
    * trips than one-merge-per-round, provably the same merge table.
    * A pin per rewrite truncates the growing lineage (the x17
    * lesson). HASH-checked since round 10: the fixed round count lets
    * [[bpeMergesSql]] unroll the whole merge loop as chained DuckDB
    * CTEs, so the oracle rederives the argmax sequence independently;
    * CurationSpec additionally pins the merge table against a
    * clean-room single-machine reference run, pins all three trainer
    * paths equal, plus invariants. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bpeMergeTable(spark, sfDir)
      .toDF("rank", "left", "right", "pair_count")
      .orderBy($"rank")
  }

  /** The learned merge table, memoized per (session, sfDir) — x56's
    * encode step reuses the artifact instead of re-training. */
  private[graft] def bpeMergeTable(spark: SparkSession,
      sfDir: String): Seq[(Int, String, String, Long)] =
    graft.Caches.memoValue(spark, s"bpe-merges:$sfDir") {
      bpeTrain(bpeVocab(spark, sfDir), BpeMergeRounds)
    }

  /** The (syms, freq) vocabulary dim — the trainer's working set and
    * the ONLY corpus-sized pass of BPE training. Measured on the
    * fixture family (PLANS.md round-8 row): 31 distinct words per
    * 270,704 running words at sf0.1 and 310 per 2,707,040 at the 10×
    * probe (the probe's per-replica suffixing is the vocab WORST case —
    * it mints a disjoint vocabulary per replica — and the rows/words
    * ratio still holds at ~10⁻⁴), so per-round cost is vocab-bounded,
    * ≈4 orders below corpus-bounded. */
  private[graft] def bpeVocab(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, sfDir))
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select(split($"w", "").as("syms"), $"freq")
  }

  /** Regime gate for BPE training. The vocabulary dim is Heaps-law
    * bounded, so even web-scale corpora often land under a single-node
    * budget — and the production-standard trainer (Sennrich's reference,
    * HF tokenizers) runs the merge loop over collected word counts on
    * one machine. Below the gate we do exactly that: collect the dim
    * ONCE and run the loop locally — ZERO Spark jobs per round and
    * trivially identical semantics. Above it, the distributed loop runs
    * with BATCHED merge selection ([[bpeTrainBatched]]): top-m
    * symbol-disjoint merges per pair-count job, cutting driver round
    * trips by the accepted batch size. 1M words × ~300 B of split-sym
    * overhead ≈ 300 MB driver heap — conservative. */
  private[graft] val BpeLocalTrainMaxWords = 1000000L

  /** Candidate window per batched round (the m in top-m). */
  private[graft] val BpeBatchWindow = 64

  /** The merge trainer over an arbitrary vocabulary dim — parameterized
    * rounds so the spec can run a 100-round training (5× the registered
    * depth) and pin that round cost stays vocab-bounded. Dispatches on
    * the regime gate; both paths are parity-pinned in CurationSpec
    * against [[bpeTrainSequential]], the one-merge-per-round reference. */
  private[graft] def bpeTrain(vocab0: DataFrame,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    val vocab = graft.Caches.pin(vocab0)
    if (vocab.count() <= BpeLocalTrainMaxWords)
      bpeTrainLocal(
        vocab.as[(Seq[String], Long)].collect().toSeq, rounds)
    else
      bpeTrainBatched(vocab, rounds)._1
  }

  /** Single-node merge loop over collected (syms, freq) word counts —
    * the under-gate path. Same argmax key and greedy left-to-right
    * apply as the distributed forms. */
  private[graft] def bpeTrainLocal(vocab0: Seq[(Seq[String], Long)],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (rank <- 1 to rounds if !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, freq) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + freq
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.min(bpePairOrdering)
        merges += ((rank, l, r, cnt))
        vocab = vocab.map { case (syms, freq) =>
          (bpeApplyMerge(syms, l, r), freq)
        }
      }
    }
    merges.toSeq
  }

  /** Unsigned UTF-8 byte comparison — Spark's UTF8String ordering and
    * DuckDB's binary collation. Java's String.compareTo compares UTF-16
    * code units, which ranks U+E000..U+FFFD AFTER supplementary-plane
    * characters (emoji) instead of before — a local trainer using it
    * would break count-tie merge parity with the distributed trainers
    * and the SQL oracle on astral-plane text. */
  private def utf8Compare(a: String, b: String): Int = {
    val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val c = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  /** The trainer argmax key — count desc, then (l, r) ascending in
    * UTF-8 byte order, matching orderBy(cnt desc, l, r) exactly. */
  private val bpePairOrdering: Ordering[((String, String), Long)] =
    new Ordering[((String, String), Long)] {
      def compare(x: ((String, String), Long),
          y: ((String, String), Long)): Int = {
        val c = java.lang.Long.compare(y._2, x._2)
        if (c != 0) c
        else {
          val cl = utf8Compare(x._1._1, y._1._1)
          if (cl != 0) cl else utf8Compare(x._1._2, y._1._2)
        }
      }
    }

  /** The original one-merge-per-round distributed loop — kept as the
    * parity REFERENCE for both production paths (it is the definition
    * of BPE merge order). One pair-count job + one checkpoint per
    * merge. */
  private[graft] def bpeTrainSequential(vocab0: DataFrame,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    val mergeUdf = udf(bpeApplyMerge _)
    var vocab = graft.Caches.pin(vocab0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (rank <- 1 to rounds if !exhausted) {
      val top = vocab.filter(size($"syms") >= 2)
        .select($"freq", explode(bpeAdjPairs).as("p"))
        .groupBy($"p.l", $"p.r").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"l".asc, $"r".asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, cnt))
        vocab = graft.Caches.pin(vocab
          .select(mergeUdf($"syms", lit(l), lit(r)).as("syms"), $"freq"))
      }
    }
    merges.toSeq
  }

  private def bpeAdjPairs = transform(
    sequence(lit(1), size(col("syms")) - 1),
    i => struct(element_at(col("syms"), i).as("l"),
      element_at(col("syms"), i + 1).as("r")))

  /** The CTE prefix shared by the x55/x56 oracles: the ENTIRE merge
    * loop replayed in DuckDB with the [[BpeMergeRounds]] rounds
    * UNROLLED as chained CTE stages — per round, a pair-count over the
    * current vocabulary symbolization, the (cnt desc, l, r) argmax
    * (binary string collation = Spark's UTF8 ordering), and the greedy
    * left-to-right merge application as a list_reduce fold (elements
    * wrapped in single-item lists so the accumulator and element types
    * unify; the fold's "merge with previous" rule reproduces
    * non-overlapping L2R application exactly — "a a a a" → [aa, aa]).
    * Exhaustion degrades gracefully: an empty argmax empties the merge
    * LIST (empty m<k> rows union to nothing) while the VOCAB chain
    * keeps flowing — each rewrite stage reads its round's argmax
    * through a scalar-subquery single row (mo<k>), whose NULL l/r make
    * the fold's merge condition falsy and the rewrite a no-op. (A bare
    * cross join against an empty m<k> would instead empty the vocab
    * and zero x56's encode — caught in round-10 review.) "Iterative
    * argmax is not
    * SQL-expressible" stopped being true the moment the round count
    * became a fixed constant to unroll. The vocab stages are
    * AS MATERIALIZED: each v(k-1) is referenced twice (pair count +
    * rewrite), so DuckDB's default CTE inlining would expand the chain
    * 2^rounds-fold — the first un-hinted run died on file handles
    * before it could die of arithmetic. */
  private def bpeTrainingCtes: String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS MATERIALIZED (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |  FROM documents
             |), wf AS (
             |  SELECT w, COUNT(*) AS freq FROM w0 WHERE w <> '' GROUP BY w
             |), v0 AS MATERIALIZED (
             |  SELECT w, freq, list_transform(range(1, length(w)+1),
             |    i -> substr(w, CAST(i AS INT), 1)) AS syms
             |  FROM wf
             |)""".stripMargin
    for (k <- 1 to BpeMergeRounds) {
      val prev = s"v${k - 1}"
      sb ++= s""", p$k AS (
                |  SELECT syms[CAST(i AS INT)] AS l,
                |    syms[CAST(i AS INT)+1] AS r, SUM(freq) AS cnt
                |  FROM $prev, UNNEST(range(1, len(syms))) AS t(i)
                |  GROUP BY 1, 2
                |), m$k AS (
                |  SELECT l, r, cnt FROM p$k
                |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
                |), mo$k AS (
                |  SELECT (SELECT l FROM m$k) AS l, (SELECT r FROM m$k) AS r
                |), v$k AS MATERIALIZED (
                |  SELECT w, freq, list_reduce(
                |    list_prepend(CAST([] AS VARCHAR[]),
                |      list_transform(syms, x -> [x])),
                |    (acc, x) -> CASE
                |        WHEN len(acc) > 0 AND acc[-1] = m.l AND x[1] = m.r
                |        THEN list_append(array_pop_back(acc), m.l || m.r)
                |        ELSE list_append(acc, x[1]) END) AS syms
                |  FROM $prev, mo$k m
                |)""".stripMargin
    }
    sb.toString
  }

  /** x55's oracle: the unrolled training replay; one row per argmax. */
  def bpeMergesSql: String =
    bpeTrainingCtes + "\n" +
      (1 to BpeMergeRounds).map { k =>
        s"""SELECT $k AS rank, l AS "left", r AS "right",
           |  CAST(cnt AS BIGINT) AS pair_count FROM m$k""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY rank")

  /** x56's oracle: the final vocabulary state v<rounds> IS the encode
    * result for every corpus word (the corpus and the training corpus
    * are the same frame), so per-word token count = final symbol count,
    * joined back to the exploded corpus. */
  def bpeTokenizeSql: String =
    bpeTrainingCtes +
      s""", enc AS (
         |  SELECT w, CAST(len(syms) AS BIGINT) AS n_toks
         |  FROM v$BpeMergeRounds
         |), agg AS (
         |  SELECT doc_id, COUNT(*) AS n_words, SUM(n_toks) AS n_tokens,
         |    CAST(SUM(length(w)) AS BIGINT) AS n_word_chars
         |  FROM w0 JOIN enc USING (w) WHERE w <> '' GROUP BY doc_id
         |)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, n_word_chars,
         |  n_word_chars * 1000 // CAST(n_tokens AS BIGINT)
         |    AS chars_per_token_permille
         |FROM agg ORDER BY doc_id""".stripMargin

  /** BATCHED merge selection — the above-gate distributed path. Per
    * round: ONE pair-count job fetches the top-[[BpeBatchWindow]]
    * candidates, and a maximal prefix of them is accepted under a rule
    * that makes the batch provably equal to running the sequential
    * argmax that many times:
    *
    *  - PREFIX-DISJOINT: scan candidates in (cnt desc, l, r) order;
    *    STOP at the first one sharing a symbol with any accepted pair
    *    (everything below it may gain/lose count from the accepted
    *    merges, so nothing past that point can be trusted this round);
    *  - SELF-PAIR STOP: an accepted candidate with l == r is ALSO a
    *    scan stopper (stopCnt = its count). A self-merge creates pairs
    *    like (ll, l) / (ll, ll) whose counts are bounded only by the
    *    self-pair's OWN count — not by any overlapping rejected
    *    candidate — so nothing at or below that count can be trusted
    *    this round. The strict-bound filter below then drops the
    *    self-pair itself unless it is the head (where it is the exact
    *    sequential argmax and always sound);
    *  - STRICT BOUND: let cBound = the stopping candidate's count (or
    *    the window tail's count if the window filled without overlap —
    *    unseen candidates can tie it). Keep only accepted pairs with
    *    cnt > cBound, because a merge of (l,r) can CREATE pairs like
    *    (x, l+r) whose count is bounded by count(x, l) — an overlapping
    *    candidate, hence ≤ cBound — so every created pair scores
    *    strictly below every kept pair and cannot alter the argmax
    *    order within the batch. Destroyed occurrences only ever lower
    *    overlapping (= rejected) pairs; disjoint survivors keep exact
    *    counts and their tiebreak order.
    *
    *  The head candidate is always kept (it IS the sequential argmax),
    *  so progress is guaranteed; accepted merges are applied in rank
    *  order inside one vocab rewrite + checkpoint. Returns the merge
    *  table and the number of driver round trips (the spec's job-count
    *  gate). */
  private[graft] def bpeTrainBatched(vocab0: DataFrame, rounds: Int,
      window: Int = BpeBatchWindow): (Seq[(Int, String, String, Long)], Int) = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    val multiMergeUdf = udf { (syms: Seq[String], ls: Seq[String], rs: Seq[String]) =>
      var s = syms
      var i = 0
      while (i < ls.length) { s = bpeApplyMerge(s, ls(i), rs(i)); i += 1 }
      s
    }
    var vocab = graft.Caches.pin(vocab0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var roundTrips = 0
    var exhausted = false
    while (merges.length < rounds && !exhausted) {
      val w = math.min(window, rounds - merges.length + 1)
      val top = vocab.filter(size($"syms") >= 2)
        .select($"freq", explode(bpeAdjPairs).as("p"))
        .groupBy($"p.l", $"p.r").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"l".asc, $"r".asc)
        .limit(w).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      roundTrips += 1
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stopCnt = -1L // count of the first overlapping candidate
        var i = 0
        while (i < top.length && stopCnt < 0 && accepted.length < rounds - merges.length) {
          val (l, r, cnt) = top(i)
          if (used(l) || used(r)) stopCnt = cnt
          else {
            accepted += top(i); used += l; used += r
            // self-merge creates pairs bounded only by its own count —
            // stop here; the > cBound filter drops this pair unless head
            if (l == r) stopCnt = cnt
          }
          i += 1
        }
        // unseen candidates beyond a filled window can tie its tail
        val cBound = if (stopCnt >= 0) stopCnt
          else if (top.length == w) top.last._3
          else -1L
        val kept = accepted.head +: accepted.tail.filter(_._3 > cBound)
        kept.foreach { case (l, r, cnt) =>
          merges += ((merges.length + 1, l, r, cnt))
        }
        vocab = graft.Caches.pin(vocab
          .select(multiMergeUdf($"syms",
            typedLit(kept.map(_._1).toSeq),
            typedLit(kept.map(_._2).toSeq)).as("syms"),
            $"freq"))
      }
    }
    (merges.toSeq, roundTrips)
  }

  /** x56 — BPE TOKENIZATION with the learned merge table (the encode
    * step a tokenizer runs over the whole corpus): apply x55's merges
    * in rank order to every word, emit per-doc token statistics and the
    * chars-per-token compression ratio (permille, exact integer) —
    * the standard signal for "is this text tokenizer-friendly".
    *
    * Shape: the merge table is a k-row driver artifact (memoized);
    * application runs once per DISTINCT word — the dictionary
    * confinement trick the NLP tiers use, sound because BPE merges
    * never cross word boundaries — then a join back to the exploded
    * corpus and one per-doc aggregation. The distinct-word dim grows
    * sub-linearly (Heaps' law) on natural text, but a 100 TB web crawl's
    * "word" set (typos, URLs, hex blobs) can still reach billions of
    * entries and blow an unconditional broadcast, so the join side is
    * GUARDED: broadcast only while the memoized distinct-word count is
    * ≤ [[BpeBroadcastMaxWords]], plain shuffle join (still one shuffle
    * of the small dim, not the corpus re-encode) beyond it.
    * HASH-checked since round 10: [[bpeTokenizeSql]] replays training
    * unrolled and reads each word's token count off the final
    * vocabulary state; CurationSpec replays the encode on the collected
    * dictionary, pins per-word token counts + bounds invariants, and
    * proves the two join paths byte-identical. */
  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // count via the SAME helper the merge table trains on, so the guard
    // stays coupled to the dictionary it sizes if the word rule changes
    val nWords = graft.Caches.memoValue(spark, s"bpe-dict-count:$sfDir") {
      bpeVocab(spark, sfDir).count()
    }
    bpeTokenizeVia(spark, sfDir, broadcastDim = nWords <= BpeBroadcastMaxWords)
  }

  /** Broadcast budget for the x56 dictionary dim: ~words × (avg word +
    * 8-byte count) must stay well inside a 1-8 GB executor broadcast
    * budget; 50M words × ~20 B ≈ 1 GB is the conservative ceiling. */
  private[graft] val BpeBroadcastMaxWords = 50000000L

  /** Both join regimes of x56, spec-provable equal: the encode-per-
    * distinct-word dim either broadcasts (small-dict fast path) or
    * shuffle-joins (the web-scale fallback the guard selects). */
  private[graft] def bpeTokenizeVia(spark: SparkSession, sfDir: String,
      broadcastDim: Boolean): DataFrame = {
    import spark.implicits._
    val merges = bpeMergeTable(spark, sfDir).map(m => (m._2, m._3))
    val encode = udf { (w: String) =>
      var syms: Seq[String] = w.split("").toSeq
      merges.foreach { case (l, r) => syms = bpeApplyMerge(syms, l, r) }
      syms.length
    }
    val words = Tables.spread(Tables.documents(spark, sfDir))
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
    val dict = words.select($"w").distinct()
      .withColumn("n_toks", encode($"w").cast("long"))
    words.join(if (broadcastDim) broadcast(dict) else dict, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_toks").as("n_tokens"),
        sum(length($"w")).cast("long").as("n_word_chars"))
      .withColumn("chars_per_token_permille",
        expr("n_word_chars * 1000 div n_tokens"))
      .orderBy($"doc_id")
  }
}
