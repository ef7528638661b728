package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.LocationResolve

/** The relational gram-key derivation the per-row kernel replaced:
  * occurrence window, broadcast join of the gram order, rank window,
  * rank-ordered self-join for the pair keys, join back onto the
  * strings. Kept as the reference the kernel's keys must equal. */
object RelationalGramKeys {
  def withBlockKeys(df0: DataFrame, strCol: String, gramOrder: DataFrame,
      slenAs: String, cutoff: Double, grams: Boolean = true,
      crossGrams: Boolean = false): DataFrame = {
    val spark = df0.sparkSession
    import spark.implicits._
    val sch = LocationResolve.gramScheme(cutoff)
    val payload = df0.columns.map(col).toSeq
    val toks = filter(split(col(strCol), "\\s+"), t => length(t) > 0)
    val df = df0
      .withColumn("_js", array_join(array_sort(toks), " "))
      .withColumn("_ntok", size(toks))
      .withColumn("_ntokd", size(array_distinct(toks)))
      .withColumn("_slen", length($"_js"))
    val out = payload :+ col("_slen").as(slenAs)
    val multi = df.filter($"_ntokd" >= 2)
      .select(out :+ explode(transform(LocationResolve.blockKeys($"_js"),
        k => concat(lit("t:"), k))).as("bkey"): _*)
    if (!grams) return multi
    val tiny = df.filter($"_ntok" <= 1 && $"_slen" <= 1)
      .select(out :+ concat(lit("w:"), $"_js").as("bkey"): _*)
    val single =
      if (crossGrams) df.filter($"_slen" >= 2)
      else df.filter($"_ntokd" <= 1 && $"_slen" >= 2)
    val tCol = greatest(lit(1),
      floor(($"_slen".cast("long") * sch.keepNum + (sch.den - 1)) /
        lit(sch.den)).cast("int") - 1)
    val wOcc = org.apache.spark.sql.expressions.Window
      .partitionBy($"_js", $"_g0").orderBy($"_pos")
    val indexed = single.select($"_js", $"_slen").distinct()
      .select($"_js", $"_slen",
        posexplode(transform(sequence(lit(1), $"_slen" - 1),
          i => $"_js".substr(i, lit(2)))).as(Seq("_pos", "_g0")))
      .withColumn("_g",
        concat($"_g0", lit("#"), (row_number().over(wOcc) - 1).cast("string")))
    val ranked = indexed
      .join(broadcast(gramOrder), Seq("_g0"), "left")
      .withColumn("_gdf", coalesce($"_gdf", lit(0L)))
      .withColumn("_t", tCol)
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"_js").orderBy($"_gdf", $"_g")))
      .filter($"_rk" <= $"_slen" - $"_t" + 2)
      .select($"_js", $"_slen", $"_t", $"_g", $"_rk")
    val f1 = ranked
      .filter($"_slen" <= sch.f1MaxLen && $"_rk" <= $"_slen" - $"_t")
      .select($"_js", concat(lit("g1:"), $"_g").as("bkey"))
    val f2 =
      if (sch.f2MinLen == Int.MaxValue) f1.limit(0)
      else {
        val a = ranked.filter($"_slen" >= sch.f2MinLen)
          .select($"_js", $"_rk".as("_ra"), $"_g".as("_ga"))
        val b = ranked.filter($"_slen" >= sch.f2MinLen)
          .select($"_js".as("_jsb"), $"_rk".as("_rb"), $"_g".as("_gb"))
        a.join(b, $"_js" === $"_jsb" && $"_ra" < $"_rb")
          .select($"_js",
            concat(lit("g2:"), $"_ga", lit("|"), $"_gb").as("bkey"))
      }
    val gram = single.join(f1.unionByName(f2), Seq("_js"))
      .select(out :+ $"bkey": _*)
    multi.unionByName(tiny).unionByName(gram)
  }
}

/** The per-row gram-key kernel (LocationResolve.withBlockKeys over
  * CustomExprs.GramBlockKeys) emits exactly the keys of the relational
  * derivation it replaced, and a warm n13 build runs no eager pin for
  * the probe keys. */
class GramKeysSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val cutoff = graft.nlp.Cleaner.FuzzyScoreCutoff

  /** (string, len, bkey) → multiplicity. */
  private def keyBag(df: DataFrame, strCol: String): Map[(String, Int, String), Int] =
    df.select(col(strCol), col("slen"), col("bkey")).collect().toSeq
      .groupBy(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .map { case (k, v) => k -> v.size }

  /** Keys `strs` under the df order of `dict` both ways and compares. */
  private def assertSameKeys(label: String, dict: DataFrame, dictCol: String,
      strs: DataFrame, strCol: String): Unit = {
    val order = LocationResolve.gramOrderOf(dict, dictCol).localCheckpoint()
    val gdf = LocationResolve.collectGramDf(order)
    Seq(false, true).foreach { cross =>
      val kernel = keyBag(LocationResolve.withBlockKeys(
        strs, strCol, gdf, "slen", cutoff, crossGrams = cross), strCol)
      val ref = keyBag(RelationalGramKeys.withBlockKeys(
        strs, strCol, order, "slen", cutoff, crossGrams = cross), strCol)
      assert(kernel == ref, {
        val diff = (kernel.keySet ++ ref.keySet)
          .filter(k => kernel.get(k) != ref.get(k)).toSeq.sortBy(_.toString)
        s"[$label crossGrams=$cross] ${diff.size} (string, len, bkey) " +
          "multiplicities differ, e.g. " + diff.take(4).map(k =>
            s"$k kernel=${kernel.getOrElse(k, 0)} ref=${ref.getOrElse(k, 0)}")
            .mkString("; ")
      })
      if (cross) assert(ref.keys.exists(_._3.startsWith("g")),
        s"[$label] no gram keys: the comparison is vacuous")
    }
  }

  test("kernel keys ≡ relational derivation on the n09/n13/n14/n15 dims " +
      "and probe sets, crossGrams on and off") {
    graft.functions.CustomExprs.register(spark)
    val part = Tables.part(spark, SparkSuite.sf)
    Seq(
      ("n09", LocationResolve.scaleDim(part).select(col("vkey")),
        LocationResolve.fuzzyProbes(part).select(col("norm"))),
      ("n13", LocationResolve.gramScaleDim(part).select(col("vkey")),
        LocationResolve.gramProbes(part).select(col("norm"))),
      ("n14", LocationResolve.crossScaleDim(part).select(col("vkey")),
        LocationResolve.crossProbes(part).select(col("norm"))),
      ("n15", LocationResolve.multiScaleDim(part).select(col("vkey")),
        LocationResolve.multiProbes(part).select(col("norm")))
    ).foreach { case (name, dim0, probes0) =>
      val dim = dim0.localCheckpoint()
      val probes = probes0.localCheckpoint()
      assertSameKeys(s"$name dim", dim, "vkey", dim, "vkey")
      assertSameKeys(s"$name probes", dim, "vkey", probes, "norm")
    }
  }

  test("kernel keys ≡ relational derivation on edge strings: repeated " +
      "bigrams and tokens, Arabic, 0/1 chars, the f1/f2 length bounds, " +
      "and supplementary-plane vs U+E000–U+FFFF binary order") {
    import spark.implicits._
    graft.functions.CustomExprs.register(spark)
    val sch = LocationResolve.gramScheme(cutoff)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    // strings of exactly f1MaxLen and f2MinLen code points, and one
    // either side of each bound
    val atBounds = Seq(sch.f1MaxLen, sch.f2MinLen).flatMap(n =>
      Seq(n - 1, n, n + 1)).map(n => letters.take(n))
    val edge = (Seq(
      "abababababababab", "aaaaaaaaaaaa", "abcabcabcabcabc",
      "aa aa aa", "ab ab ab ab", "xy xy",
      "القاهرة", "الاسكندرية الجديدة", "مدينة نصر", "شرم الشيخ",
      "a", "", " ", "ab", "a b",
      // U+1F600 sorts BEFORE U+FF71 in UTF-16 (surrogate D83D < FF71)
      // and AFTER it in UTF-8 (F0 > EF): Spark orders the binary way
      "😀ｱ😀ｱ😀ｱ😀ｱ", "ｱ😀ｱ😀ｱ😀ｱ😀ｱ", "x😀yｱx😀yｱ", "😀ｱ ｱ😀 zz"
    ) ++ atBounds).toDF("s")
    // grams absent from the dictionary tie at df 0: the gram string
    // alone orders them, which is where binary order shows
    val latin = (atBounds ++ Seq("abab", "ababab", "xyzzy")).toDF("s")
    assertSameKeys("edge/self", edge, "s", edge, "s")
    assertSameKeys("edge/latin", latin, "s", edge, "s")
    val part = Tables.part(spark, SparkSuite.sf)
    assertSameKeys("edge/n13", LocationResolve.gramScaleDim(part)
      .select(col("vkey")).localCheckpoint(), "vkey", edge, "s")
  }

  test("a warm n13 build runs at most 3 eager SQL executions (t12 pin, " +
      "probe sizing, fuzzy pin): no pin for the probe keys") {
    graft.functions.CustomExprs.register(spark)
    // warm: the index memos (dim, df map, keyed index, guard verdicts)
    LocationResolve.gramDictScale(spark, SparkSuite.sf).count()
    val m = Metrics.attach(spark)
    try LocationResolve.gramDictScale(spark, SparkSuite.sf)
    finally m.detach()
    val execs = m.executions
    assert(execs.size >= 1, "listener saw no execution — gate is vacuous")
    assert(execs.size <= 3,
      s"${execs.size} eager executions while building a warm n13: " +
        execs.map(_.description).mkString(" | "))
  }
}
