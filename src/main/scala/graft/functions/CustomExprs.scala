package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.nlp.Cleaner

/** Custom Catalyst expressions (SURVEY §4 "custom inventory"): scalar
  * functions the built-ins can't express, implemented as native
  * expressions with doGenCode so they stay inside whole-stage codegen
  * (no UDF boxing/serialization) — preference order (b) of the build
  * rules.
  */
object CustomExprs {

  // Static entry points live in the TOP-LEVEL ExprImpl object below:
  // Scala only emits Java static forwarders for top-level objects, and
  // Janino cannot resolve a nested object (CustomExprs.Impl) from
  // generated code — it silently falls back to interpreted mode.
  private val implName = "graft.functions.ExprImpl"

  // All expressions declare ExpectsInputTypes: without it a mistyped
  // call (e.g. token_sort_ratio over two longs) analyzes fine and only
  // fails at execution with a ClassCastException or an opaque Janino
  // codegen error, instead of the AnalysisException built-ins raise.

  /** rapidfuzz-compatible token_sort_ratio as a codegen'd expression
    * (N8's scorer; reference cleaner_v6.py:198-208). */
  case class TokenSortRatio(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(StringType, StringType)
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      ExprImpl.tokenSortRatio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"$implName.tokenSortRatio($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** FNV-1a 64-bit content fingerprint as a codegen'd expression. */
  case class Fnv1a64(child: Expression) extends UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      ExprImpl.fnv1a64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$implName.fnv1a64($c)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Dot product over array<double> as a codegen'd expression (x14/x20/
    * x21 hot path — sequential accumulation, same order both engines). */
  case class VectorDot(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      ExprImpl.vectorDot(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$implName.vectorDot($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** 64-bit SimHash fingerprint of a space-separated text as ONE codegen'd
    * map-side expression (x12's signature stage). Semantics are exactly
    * the relational formulation it replaces — fnv1a64(word) per non-empty
    * word, ±1 vote per bit, bit set iff votes > 0 — but with no word
    * explode and no 64-column aggregate: at 100 TB the signature stage
    * becomes a pure map over documents instead of a words-sized shuffle.
    * The word-hash family is FNV-1a (not xxhash64) so the whole x12
    * pipeline is integer arithmetic a DuckDB oracle replays bit-exactly
    * — the same reasoning that made x33 hash-checkable. */
  case class SimHash64(child: Expression) extends UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      ExprImpl.simhash64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$implName.simhash64($c)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Sum of a binary column's raw payload bytes (unsigned) as ONE
    * codegen'd map expression — the honest measured statistic for an
    * opaque blob with no container to decode (x40's `byte_mean` is
    * this div byte_size). The DuckDB oracle replays it from the blob's
    * hex() digit pairs, so x40 keeps a full hash check. */
  case class ByteSum(child: Expression) extends UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      ExprImpl.byteSum(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$implName.byteSum($c)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** `size(array_intersect(a, b))` without materializing the
    * intersection array — the Jaccard-verify hot path (x13/x16/x18/
    * x86 score millions of candidate shingle pairs; the built-in
    * builds a per-row GenericArrayData only for `size` to read its
    * length). Exact built-in semantics: count of DISTINCT elements of
    * `a` also present in `b`, a null element matching a null element,
    * null through on null input. */
  case class ArrayIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType), ArrayType(StringType))
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any =
      ExprImpl.arrayIntersectCount(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"$implName.arrayIntersectCount($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** `size(split(s, " "))` as a byte scan — the token-count idiom of
    * the budget/packing/datasheet family allocates every word of every
    * document just to count them. Spark's split keeps trailing and
    * consecutive empty segments (limit −1), so the segment count is
    * EXACTLY spaces + 1; 0x20 never occurs inside a UTF-8 multibyte
    * sequence (the SimHash64 argument), so the byte scan is exact. */
  case class WordCount(child: Expression) extends UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any): Any =
      ExprImpl.wordCount(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$implName.wordCount($c)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** A dictionary's bigram document frequencies, the global gram order
    * of the blocking keys ([[GramBlockKeys]]). Held by reference in the
    * plan and shipped with the task binary, never as a plan literal;
    * prints as its size. */
  final class GramDf(val df: java.util.Map[UTF8String, java.lang.Long])
      extends Serializable {
    override def toString: String = s"gramdf(${df.size})"
  }

  /** Every gram blocking key ("g1:" and "g2:") of one sorted-joined
    * string as ONE per-row kernel ([[ExprImpl.gramBlockKeys]]): the
    * keys come out of a projection, with no window, join or shuffle
    * (see LocationResolve.withBlockKeys for the derivation). */
  case class GramBlockKeys(child: Expression, order: GramDf, keepNum: Int,
      den: Int, f1MaxLen: Int, f2MinLen: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      ExprImpl.gramBlockKeys(v.asInstanceOf[UTF8String], order.df,
        keepNum, den, f1MaxLen, f2MinLen)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val df = ctx.addReferenceObj("gramDf", order.df, "java.util.Map")
      defineCodeGen(ctx, ev, c => s"$implName.gramBlockKeys($c, $df, " +
        s"$keepNum, $den, $f1MaxLen, $f2MinLen)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** A3's pair generator as a native Generator (UDTF): emits every
    * unordered pair (i<j) of a sorted string array — the reference's
    * itertools.combinations(sorted(locs), 2) (Main.py:250). */
  case class ArrayCombinations2(child: Expression)
      extends UnaryExpression with CollectionGenerator with CodegenFallback
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType))
    override val inline: Boolean = false
    override def position: Boolean = false
    override def elementSchema: StructType = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType)))
    override def dataType: DataType = ArrayType(elementSchema)
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
      val arr = child.eval(input)
      if (arr == null) return Iterator.empty
      val data = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = data.numElements()
      for {
        i <- (0 until n).iterator
        j <- (i + 1 until n).iterator
      } yield org.apache.spark.sql.catalyst.InternalRow(
        data.getUTF8String(i), data.getUTF8String(j))
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Column builders resolve through the function registry (the public
    * Column↔Expression bridge is private[sql] in Spark 4) — call
    * register(spark) once per session first. */
  def token_sort_ratio(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("token_sort_ratio", a, b)

  def fnv1a64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("fnv1a64", c)

  def vector_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vector_dot", a, b)

  def simhash64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", c)

  def byte_sum(c: Column): Column =
    org.apache.spark.sql.functions.call_function("byte_sum", c)

  /** [[GramBlockKeys]] carries a per-dictionary map, which a registered
    * SQL function cannot take, so it is built as a Column directly. */
  def gram_block_keys(js: Column, order: GramDf, keepNum: Int, den: Int,
      f1MaxLen: Int, f2MinLen: Int): Column =
    org.apache.spark.sql.graft.ExprColumn(GramBlockKeys(
      org.apache.spark.sql.graft.ExprColumn.expression(js), order,
      keepNum, den, f1MaxLen, f2MinLen))

  /** SQL registration (spark.sql("SELECT token_sort_ratio(a,b) …")).
    * Once per session: callers invoke this per query, and re-registering
    * logs a "function replaced" WARN per function per call — 7×N lines
    * that drowned round-7's 2,000-char crash tail. The guard lives in
    * its OWN per-session map, not Caches.memoValue: Caches.clear()
    * runs at the end of every Verify/Bench pass while the functions
    * stay registered in the session, so a Caches-lifecycle guard would
    * re-register (and re-WARN) on the next pass of the same session.
    * Stopped-session entries are swept on each call, like Caches. */
  private val registered =
    scala.collection.concurrent.TrieMap.empty[SparkSession, Boolean]

  def register(spark: SparkSession): Unit = {
    registered.keys.filter(_.sparkContext.isStopped).foreach(registered.remove)
    registered.getOrElseUpdate(spark, { registerNow(spark); true })
    ()
  }

  /** ONE builder list shared by [[register]] (temp functions) and
    * [[GraftExtensions]] (session-extensions injection), so the two
    * registration paths cannot drift — the extensions path once lacked
    * bloom_agg/might_contain because the lambdas were hand-copied.
    * Each builder validates arity up front: a wrong-argument-count SQL
    * call must fail with the function name and expected count, not an
    * IndexOutOfBoundsException from a bare es(1). Includes Spark's OWN
    * bloom-filter expressions (the machinery behind runtime bloom join
    * pruning), surfaced as callable functions — the analyzer wraps the
    * returned AggregateFunction exactly as it does for sum():
    * bloom_agg(xxhash64(x), estItems, numBits) -> binary sketch;
    * might_contain(<binary literal>, xxhash64(x)) -> boolean probe. */
  private[functions] val builders
      : Seq[(String, Seq[Expression] => Expression)] = {
    def arity(name: String, n: Int)(
        f: Seq[Expression] => Expression): Seq[Expression] => Expression =
      es => {
        if (es.length != n) throw new IllegalArgumentException(
          s"$name expects $n argument(s), got ${es.length}")
        f(es)
      }
    Seq(
      "token_sort_ratio" -> arity("token_sort_ratio", 2)(
        es => TokenSortRatio(es.head, es(1))),
      "fnv1a64" -> arity("fnv1a64", 1)(es => Fnv1a64(es.head)),
      "array_combinations2" -> arity("array_combinations2", 1)(
        es => ArrayCombinations2(es.head)),
      "vector_dot" -> arity("vector_dot", 2)(
        es => VectorDot(es.head, es(1))),
      "array_intersect_count" -> arity("array_intersect_count", 2)(
        es => ArrayIntersectCount(es.head, es(1))),
      "word_count" -> arity("word_count", 1)(es => WordCount(es.head)),
      "simhash64" -> arity("simhash64", 1)(es => SimHash64(es.head)),
      "byte_sum" -> arity("byte_sum", 1)(es => ByteSum(es.head)),
      "bloom_agg" -> arity("bloom_agg", 3)(
        es => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es.head, es(1), es(2))),
      "might_contain" -> arity("might_contain", 2)(
        es => org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(es.head, es(1))))
  }

  private def registerNow(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Static entry points referenced from generated code (top-level so the
  * Scala compiler emits Java static forwarders Janino can resolve). */
object ExprImpl {
  def tokenSortRatio(a: UTF8String, b: UTF8String): Double =
    Cleaner.tokenSortRatio(a.toString, b.toString)

  /** T(L), the guaranteed shared-bigram count of a sorted-joined
    * string of L code points at the scheme's cutoff:
    * max(1, ceil(L·keepNum/den) − 1), in exact integer arithmetic. */
  def gramT(l: Int, keepNum: Int, den: Int): Int =
    math.max(1, ((l.toLong * keepNum + den - 1) / den).toInt - 1)

  private val gramHash = UTF8String.fromString("#")
  private val gramPipe = UTF8String.fromString("|")
  private val gramG1 = UTF8String.fromString("g1:")
  private val gramG2 = UTF8String.fromString("g2:")

  /** The gram blocking keys of one sorted-joined string `js` of L code
    * points: its L−1 code-point bigrams, occurrence-indexed in order of
    * position ("ab#0", "ab#1", …), sorted by (df, indexed gram) with a
    * gram absent from `df` at 0 and ties broken in UTF8String binary
    * order (Spark's string order, which is not Java's UTF-16 order
    * above the BMP); the sorted list is cut to its (L−T+2)-prefix,
    * T = [[gramT]]. Emits "g1:<gram>" for the (L−T)-prefix when
    * L ≤ f1MaxLen and "g2:<a>|<b>" for every rank-ordered pair of the
    * kept prefix when L ≥ f2MinLen. Code points are walked the way
    * Spark's `substr` and `length` walk them. */
  def gramBlockKeys(js: UTF8String,
      df: java.util.Map[UTF8String, java.lang.Long],
      keepNum: Int, den: Int, f1MaxLen: Int, f2MinLen: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = js.getBytes
    val starts = new Array[Int](bytes.length + 1)
    var l = 0
    var i = 0
    while (i < bytes.length) {
      starts(l) = i
      l += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(l) = math.min(i, bytes.length)
    if (l < 2) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])
    val t = gramT(l, keepNum, den)
    val g = l - 1
    val grams = new Array[UTF8String](g)
    val dfs = new Array[Long](g)
    var p = 0
    while (p < g) {
      val s = starts(p)
      val e = starts(p + 2)
      var occ = 0
      var q = 0
      while (q < p) {
        if (java.util.Arrays.equals(bytes, starts(q), starts(q + 2),
            bytes, s, e)) occ += 1
        q += 1
      }
      val base = UTF8String.fromBytes(bytes, s, e - s)
      val d = df.get(base)
      dfs(p) = if (d == null) 0L else d.longValue
      grams(p) = UTF8String.concat(base, gramHash,
        UTF8String.fromString(Integer.toString(occ)))
      p += 1
    }
    // insertion sort of positions by (df, gram): strings are short
    val rank = Array.range(0, g)
    i = 1
    while (i < g) {
      val x = rank(i)
      var j = i - 1
      while (j >= 0 && (dfs(rank(j)) > dfs(x) ||
          (dfs(rank(j)) == dfs(x) && grams(rank(j)).binaryCompare(grams(x)) > 0))) {
        rank(j + 1) = rank(j)
        j -= 1
      }
      rank(j + 1) = x
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (l <= f1MaxLen)
      (0 until math.min(g, l - t)).foreach(r =>
        out += UTF8String.concat(gramG1, grams(rank(r))))
    if (l >= f2MinLen) {
      val keep = math.min(g, l - t + 2)
      for (a <- 0 until keep; b <- a + 1 until keep)
        out += UTF8String.concat(gramG2, grams(rank(a)), gramPipe,
          grams(rank(b)))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** size(array_intersect) without the intersection array: hash-set of
    * b's elements once, then one pass over a counting distinct members
    * (a second set dedups a — the built-in's distinct semantics). Null
    * elements match null elements, like the built-in. */
  def arrayIntersectCount(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val bSet = new java.util.HashSet[UTF8String]()
    var bHasNull = false
    val nb = b.numElements()
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bHasNull = true
      else bSet.add(b.getUTF8String(i))
      i += 1
    }
    val seen = new java.util.HashSet[UTF8String]()
    var seenNull = false
    var cnt = 0
    val na = a.numElements()
    i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bHasNull && !seenNull) cnt += 1
        seenNull = true
      } else {
        val e = a.getUTF8String(i)
        if (bSet.contains(e) && seen.add(e)) cnt += 1
      }
      i += 1
    }
    cnt
  }

  /** size(split(s, " ")) as a byte scan: segments = 0x20 bytes + 1. */
  def wordCount(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var c = 1
    var i = 0
    while (i < n) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20)
        c += 1
      i += 1
    }
    c
  }

  /** Unsigned sum over raw blob bytes — allocation-free. */
  def byteSum(b: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < b.length) { s += b(i) & 0xff; i += 1 }
    s
  }

  /** Allocation-free dot product over two array<double> columns (the
    * zip_with/aggregate HOF form materializes an intermediate array per
    * row — measurable at millions of candidate pairs). */
  def vectorDot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** SimHash-64 over space-separated words: fnv1a64 per non-empty word
    * hashed straight off the UTF8String bytes (0x20 never occurs inside
    * a UTF-8 multibyte sequence, so byte-level splitting is exact), ±1
    * vote per bit, bit set iff votes > 0. Zero allocations per row
    * beyond the vote array. FNV-1a as the word-hash family keeps x12
    * DuckDB-replayable (x33's recurrence per word). */
  def simhash64(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n ||
          org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        if (i > start) {
          val h = fnv1a64Range(base, off + start, i - start)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  /** FNV-1a 64 over an unsafe byte range — allocation-free word-hash
    * core shared by [[simhash64]]'s splitter. */
  private def fnv1a64Range(base: AnyRef, off: Long, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < len) {
      h ^= (org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** FNV-1a 64-bit over UTF-8 bytes — an order-sensitive rolling
    * document fingerprint. */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}
