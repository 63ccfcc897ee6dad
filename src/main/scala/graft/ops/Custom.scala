package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import graft.ops.T._

/** Custom Catalyst expression: clamp(x, lo, hi) = min(max(x, lo), hi) with
  * whole-stage codegen — the capability proof for the Expression extension
  * point (SURVEY §4.2). Reference analog: the clip step inside
  * flexcalc/process.py::preprocess (R4) and soft_threshold (R14).
  */
case class Clamp(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_clamp"
  override protected def nullSafeEval(x: Any, lo: Any, hi: Any): Any =
    math.min(math.max(x.asInstanceOf[Double], lo.asInstanceOf[Double]),
      hi.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, lo, hi) => s"Math.min(Math.max($x, $lo), $hi)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Codegen'd dot product over two array<double> columns. Versus the
  * `aggregate(zip_with(...))` HOF composition it allocates no intermediate
  * array and fuses into the surrounding WholeStageCodegen loop — the §4.2
  * "custom Expression when bench demands" case, motivated by the
  * exhaustive-pair similarity queries (millions of 64-dim dots).
  * Left-to-right summation, identical to the HOF fold and to DuckDB's
  * list_dot_product — cross-engine results are bit-identical.
  * Assumes arrays without null elements (embeddings are dense).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared-L2 distance Σ(xᵢ−yᵢ)² over two array<double>
  * columns — the distance twin of [[ArrayDotProduct]] for the IVF/PQ
  * paths (operators/Ann), replacing their `aggregate(zip_with)` HOF
  * folds. Same left-to-right summation order as the HOF form, so every
  * oracle that replays the fold in SQL stays bit-identical; deliberately
  * NOT rewritten as dot(a,a)−2dot(a,b)+dot(b,b), which is algebraically
  * equal but floating-point DIFFERENT. Assumes dense (no-null-element)
  * arrays, like the embeddings it serves.
  */
case class ArrayL2Sq(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val dv = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $dv = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $dv * $dv;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd SORTED-set intersection COUNT over two array<bigint>
  * columns — the jaccard pair loop's inner operation (x_dedup_jaccard:
  * quadratic-over-distinct-masks pairs × O(na+nb) each). PRECONDITION:
  * both arrays ascending-sorted with distinct elements (the
  * `array_sort(collect_set(...))` build guarantees it) — then a
  * two-pointer merge counts common elements with ZERO allocation,
  * replacing `size(array_intersect(...))`, which builds a hash set AND
  * materializes the intersection array per pair only to take its length.
  * Identical result on the preconditioned inputs (count of distinct
  * common elements), so oracle hashes are unchanged.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** 60-bit MD5 SimHash of a space-tokenized string, one tight JVM pass per
  * row. Bit-for-bit equal to the relational formulation the oracle runs —
  * per DISTINCT token h = first 15 hex digits of md5(utf8) as a 60-bit
  * int (here: first 8 digest bytes big-endian >>> 4), per-bit ±1 vote,
  * bit set iff vote sum >= 0 — but with no corpus×60 explode and no
  * groupBy shuffle. HOF forms of the same fold were 8× SLOWER than the
  * explode pipeline (interpreted CodegenFallback lambdas, SURVEY §7.5b);
  * a native expression is the right tool: codegen emits one static call.
  */
/** Morton/Z-ORDER interleave of two 16-bit keys — the multi-dimensional
  * clustering primitive behind `DocumentIO.writeZOrdered` (x_io_zorder):
  * bit i of `a` lands at 2i, bit i of `b` at 2i+1, so sorting by the
  * 32-bit result gives every contiguous key range a bounded 2-D box —
  * one sorted layout serves range predicates on EITHER (or both)
  * dimensions, where 1-D clustering (`writeClustered`) serves only its
  * sort key. Codegen'd like Clamp — the interleave sits in the write
  * path's hot projection.
  */
case class ZInterleave(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZInterleave.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ops.ZInterleave.compute($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZInterleave {
  /** Interleaves the LOW 16 bits of each input (callers quantize wider
    * domains down first — SURVEY's layout keys mask with 0xFFFF). */
  def compute(a: Long, b: Long): Long = {
    var r = 0L
    var i = 0
    while (i < 16) {
      r |= ((a >> i) & 1L) << (2 * i)
      r |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }
}

/** Custom catalyst GENERATOR — the real UDTF extension point (SURVEY
  * §7.4: `u_udtf_posexplode` grades the built-in Generator surface; THIS
  * proves a user can add one): emits (pos, bigram) per adjacent token
  * pair of a space-separated text. A Generator beats the
  * explode(udf(...)) spelling because no intermediate array is
  * materialized per row — rows stream out of eval — and beats a join-
  * with-offsets because it stays a NARROW per-row op. CodegenFallback is
  * the standard posture for generators (Spark's own inline/json_tuple
  * fall back too — generator codegen buys little since the lazy iterator
  * dominates).
  */
case class SlidingBigrams(child: Expression)
  extends UnaryExpression with Generator with CodegenFallback
  with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("bigram", StringType, nullable = false)))
  override def prettyName: String = "graft_bigrams"
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      // split(" ", -1): keep empty tokens, matching SQL split semantics
      val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
      (0 until toks.length - 1).map { i =>
        InternalRow(i, UTF8String.fromString(toks(i) + " " + toks(i + 1)))
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Md5SimHash(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_md5"
  override protected def nullSafeEval(input: Any): Any =
    Md5SimHash.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Md5SimHash.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5SimHash {
  def compute(text: UTF8String): Long = {
    // split(" ", -1) matches Spark SQL split(text, ' ') (keeps trailing
    // empties); HashSet.add replicates array_distinct's dedup.
    val tokens = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    var ti = 0
    while (ti < tokens.length) {
      val tok = tokens(ti)
      if (seen.add(tok)) {
        md.reset()
        val digest = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (digest(i) & 0xFFL); i += 1 }
        h = h >>> 4 // top 60 bits = conv(substring(md5_hex, 1, 15), 16, 10)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      ti += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) >= 0) sig |= 1L << b; b += 1 }
    sig
  }
}

/** 8-seed MD5 MinHash signature of a space-tokenized string, one pass per
  * row (same rationale and codegen shape as [[Md5SimHash]]). Equal to the
  * relational form `min(md5(concat(tok, '#', seed)))` per seed over
  * DISTINCT tokens: hex strings are lowercase ASCII, so String.compareTo
  * is the same order as SQL binary string min.
  */
case class Md5MinHash(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash_md5"
  override protected def nullSafeEval(input: Any): Any =
    Md5MinHash.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Md5MinHash.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5MinHash {
  val NumHashes = 8
  private val hexChars = "0123456789abcdef".toCharArray

  def compute(text: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val tokens = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val mins = new Array[String](NumHashes)
    val md = java.security.MessageDigest.getInstance("MD5")
    var ti = 0
    while (ti < tokens.length) {
      val tok = tokens(ti)
      if (seen.add(tok)) {
        var i = 0
        while (i < NumHashes) {
          md.reset()
          val digest = md.digest((tok + "#" + i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val hex = new Array[Char](32)
          var j = 0
          while (j < 16) {
            hex(j * 2) = hexChars((digest(j) >> 4) & 0xF)
            hex(j * 2 + 1) = hexChars(digest(j) & 0xF)
            j += 1
          }
          val s = new String(hex)
          if (mins(i) == null || s.compareTo(mins(i)) < 0) mins(i) = s
          i += 1
        }
      }
      ti += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      mins.map(UTF8String.fromString(_): AnyRef))
  }
}

/** Span excision over a space-tokenized string: drops every token covered
  * by some `[s, s + k)` with `s` in `starts` (0-based token offsets of
  * `split(text, ' ')`) and rejoins the kept tokens with ' ' — equal to
  * `concat_ws(' ', kept tokens in order)`, so an empty `starts` returns
  * the text byte-identical. One pass over the UTF-8 bytes (0x20 never
  * occurs inside a multi-byte sequence) plus one over the starts via a
  * coverage difference array: O(bytes + starts), no sort, where an
  * `exists` lambda per token would be O(tokens × starts) and
  * interpreted. The rewrite step of [[graft.operators.Dedup.removeSpans]].
  */
case class RemoveTokenSpans(left: Expression, right: Expression, k: Int)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, ArrayType(IntegerType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_remove_spans"
  override protected def nullSafeEval(text: Any, starts: Any): Any =
    RemoveTokenSpans.compute(text.asInstanceOf[UTF8String],
      starts.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.ops.RemoveTokenSpans.compute($t, $s, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RemoveTokenSpans {
  def compute(text: UTF8String, starts: ArrayData, k: Int): UTF8String = {
    val ns = starts.numElements()
    if (ns == 0) return text
    val bytes = text.getBytes
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    // depth(t) - depth(t - 1) = spans opening at t minus spans closing at t
    val delta = new Array[Int](nTok + 1)
    i = 0
    while (i < ns) {
      if (!starts.isNullAt(i)) {
        val s = starts.getInt(i)
        if (s >= 0 && s < nTok) {
          delta(s) += 1
          delta(math.min(s + k, nTok)) -= 1
        }
      }
      i += 1
    }
    val out = new Array[Byte](bytes.length)
    var o = 0
    var depth = 0
    var tok = 0
    var from = 0
    var first = true
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        depth += delta(tok)
        if (depth == 0) {
          if (!first) { out(o) = ' '; o += 1 }
          System.arraycopy(bytes, from, out, o, i - from)
          o += i - from
          first = false
        }
        tok += 1
        from = i + 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}

/** Geometric mean as a typed Aggregator. The ln-sum buffer is an exact
  * BigDecimal (scale 12) so the result is independent of partition count
  * and merge order; output rounded to 2 decimals because cross-engine
  * libm ln() can differ in the last ulp per row (SURVEY §7.3 R3, noted
  * deviation from round-6).
  *
  * Domain policy: non-positive inputs FAIL the aggregate (fail-fast,
  * reduce() below) rather than being silently skipped — a silently
  * shrinking denominator would bias the mean with no signal. Callers
  * whose column may contain non-positives choose explicitly:
  * `.filter(col > 0)` before aggregating (skip semantics) or accept the
  * error (domain-violation semantics). The graded u_udaf_geomean runs on
  * o_totalprice, which is positive by construction.
  */
object GeoMeanAgg extends Aggregator[Double, GeoBuf, Double] {
  def zero: GeoBuf = GeoBuf(BigDecimal(0), 0L)
  def reduce(b: GeoBuf, x: Double): GeoBuf = {
    // ln of a non-positive is -Inf/NaN, which BigDecimal cannot hold —
    // fail with the domain error, not an opaque NumberFormatException.
    require(x > 0, s"GeoMeanAgg: geometric mean requires positive inputs, got $x")
    GeoBuf(b.sumLn + BigDecimal(math.log(x)).setScale(12, BigDecimal.RoundingMode.HALF_UP), b.n + 1)
  }
  def merge(a: GeoBuf, b: GeoBuf): GeoBuf = GeoBuf(a.sumLn + b.sumLn, a.n + b.n)
  def finish(b: GeoBuf): Double = math.exp(b.sumLn.toDouble / b.n)
  def bufferEncoder = org.apache.spark.sql.Encoders.product[GeoBuf]
  def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
}
case class GeoBuf(sumLn: BigDecimal, n: Long)

/** Element-wise mean vector over array<float> — typed Aggregator with an
  * Array[Double]+count buffer (reference analog: per-voxel mean over a
  * stack, flexcalc/process.py R18/R26 family).
  */
object CentroidAgg extends Aggregator[Seq[Float], CentBuf, Seq[Double]] {
  def zero: CentBuf = CentBuf(Seq.empty, 0L)
  def reduce(b: CentBuf, a: Seq[Float]): CentBuf =
    if (b.n == 0L) CentBuf(a.map(_.toDouble), 1L)
    else {
      require(b.sums.length == a.length,
        s"CentroidAgg: ragged input (${b.sums.length} vs ${a.length}) — pad inputs to equal length")
      CentBuf(b.sums.zip(a).map { case (s, x) => s + x }, b.n + 1)
    }
  def merge(a: CentBuf, b: CentBuf): CentBuf =
    if (a.n == 0L) b else if (b.n == 0L) a
    else {
      require(a.sums.length == b.sums.length,
        s"CentroidAgg: ragged merge (${a.sums.length} vs ${b.sums.length}) — pad inputs to equal length")
      CentBuf(a.sums.zip(b.sums).map { case (x, y) => x + y }, a.n + b.n)
    }
  def finish(b: CentBuf): Seq[Double] = b.sums.map(_ / b.n)
  def bufferEncoder = org.apache.spark.sql.Encoders.product[CentBuf]
  def outputEncoder = ExpressionEncoder[Seq[Double]]()
}
case class CentBuf(sums: Seq[Double], n: Long)

/** Group U (UDF / UDAF / UDTF / Expression surface) — SURVEY.md §2b.
  * Reference analog: batch.py's `generic(callback)` node (R24) — arbitrary
  * user code inside the engine's execution graph.
  */
object Custom {

  /** Idempotent registration of the custom expressions for a session
    * (the packaged form is graft.plans.GraftExtensions).
    */
  def register(s: org.apache.spark.sql.SparkSession): Unit = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_clamp", (args: Seq[Expression]) => Clamp(args(0), args(1), args(2)),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", (args: Seq[Expression]) => ArrayDotProduct(args(0), args(1)),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash_md5", (args: Seq[Expression]) => Md5SimHash(args(0)),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash_md5", (args: Seq[Expression]) => Md5MinHash(args(0)),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc", (args: Seq[Expression]) =>
        graft.functions.UnicodeNormalize(args(0), "NFC"), "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfkc", (args: Seq[Expression]) =>
        graft.functions.UnicodeNormalize(args(0), "NFKC"), "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bpe", (args: Seq[Expression]) =>
        graft.functions.BpeEncode(args(0), args(1)), "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bigrams", (args: Seq[Expression]) => SlidingBigrams(args(0)),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_zorder", (args: Seq[Expression]) => ZInterleave(args(0), args(1)),
      "scala_udf")
    // The optimizer rule installs HERE, with the functions, not inside
    // any one query lambda: extraOptimizations is SESSION-global, so a
    // lambda-side install would make every later clamp-using key's
    // optimized plan depend on whether u_rule_rewrite ran first —
    // values unaffected, but plan-pin tests become order-sensitive.
    if (!s.experimental.extraOptimizations
        .contains(graft.plans.SimplifyDegenerateClamp))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+
          graft.plans.SimplifyDegenerateClamp
  }

  private val normalizeText = udf((s: String) =>
    if (s == null) null
    else s.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll("\\s+", " ").trim)

  val queries: Map[String, Q] = Map(
    "u_udf_scalar" -> ((s, d) =>
      t(s, d, "documents")
        .select(substring(normalizeText(col("text")), 1, 8).as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("prefix")),

    "u_udaf_geomean" -> ((s, d) => {
      val gm = udaf(GeoMeanAgg)
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(round(gm(col("o_totalprice")), 2).as("geomean"))
        .orderBy("o_orderstatus")
    }),

    "u_udaf_centroid" -> ((s, d) => {
      val cen = udaf(CentroidAgg)
      t(s, d, "embeddings")
        .groupBy("label")
        .agg(cen(col("embedding")).as("cent"))
        .select(col("label"),
          round(element_at(col("cent"), 1), 6).as("c1"),
          round(element_at(col("cent"), 2), 6).as("c2"),
          round(element_at(col("cent"), 3), 6).as("c3"),
          round(element_at(col("cent"), 4), 6).as("c4"))
        .orderBy("label")
    }),

    // Generator surface: built-in posexplode (0-based pos); a custom
    // Generator would plug in identically.
    "u_udtf_posexplode" -> ((s, d) =>
      t(s, d, "documents")
        .filter(col("doc_id") <= 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "token")
        .orderBy("doc_id", "pos")),

    // CUSTOM Generator (SlidingBigrams above) registered in the
    // FunctionRegistry and invoked as a SQL generator function — the
    // user-defined table function extension path, one step beyond the
    // built-in generator u_udtf_posexplode grades. Narrow per-row op;
    // rows stream from eval without an intermediate array.
    "u_udtf_custom" -> ((s, d) => {
      register(s)
      t(s, d, "documents")
        .filter(col("doc_id") <= 20)
        .select(col("doc_id"), expr("graft_bigrams(text)"))
        .orderBy("doc_id", "pos")
    }),

    // Custom Expression registered in the session FunctionRegistry and
    // invoked through SQL text — proves the full extension path.
    "u_expr_custom" -> ((s, d) => {
      register(s)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("graft_clamp(l_extendedprice, 1000.0D, 50000.0D)").as("clamped"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Custom OPTIMIZER RULE under oracle grading — the last extension
    // point of the U taxonomy (Expression / Generator / UDAF / UDF /
    // Strategy / RULE): plans/SimplifyDegenerateClamp rewrites a Clamp
    // whose constant bounds are degenerate (lo >= hi) into the literal
    // hi (null/NaN preserved) — the constant-folding class Catalyst's
    // own ConstantFolding cannot reach because the input is non-literal.
    // The query evaluates one DEGENERATE clamp (rewritten away — the
    // optimized plan carries no Clamp for it, pinned in LibrarySpec)
    // and one live clamp side by side; the oracle grades the semantics
    // both ways, so a rule that changed VALUES would hash-fail and a
    // rule that stopped firing would fail the plan pin. The rule itself
    // installs in [[register]] (session setup), so plan shapes don't
    // depend on key execution order.
    "u_rule_rewrite" -> ((s, d) => {
      register(s)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("graft_clamp(l_quantity, 30.0D, 30.0D)").as("pinned"),
          expr("graft_clamp(l_extendedprice, 5000.0D, 40000.0D)").as("clamped"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Custom PLANNER STRATEGY under oracle grading: exact top-3 orders
    // per status through plans/TopKPerKey (LogicalPlan + Strategy +
    // heap-based SparkPlan — no per-partition sort). Deterministic
    // because the order column o_orderkey is unique, so the heap's
    // tie-arbitrariness never fires and the window-form oracle agrees
    // row-for-row.
    "u_strategy_topk" -> ((s, d) =>
      graft.plans.TopK.perKey(t(s, d, "orders"),
          Seq("o_orderstatus"), "o_orderkey", 3)
        .select(col("o_orderstatus"), col("o_orderkey"))
        .orderBy("o_orderstatus", "o_orderkey"))
,
    // PARSER extension graded end to end (round-12 addition, the last
    // U-taxonomy extension point: Expression / Generator / UDAF / UDF /
    // Strategy / Rule / PARSER): plans/GraftSqlParser adds ONE statement
    // — GRAFT SNAPSHOT HISTORY '<root>' — and delegates everything else
    // to Spark's parser verbatim (the Delta/Iceberg SQL-extension
    // shape). Parsers bind at session CONSTRUCTION, so the key builds
    // the snapshot lifecycle on the graded session, then opens an
    // extension-bearing SIBLING session over the same context and
    // SharedState (GraftBridge.sessionWithExtensions) and runs the
    // added statement there — proving the packaged GraftExtensions
    // installer wires the parser, not just a test harness. The history
    // frame is #versions-sized manifest metadata; the oracle states the
    // expected (version, n_rows, is_current) rows directly.
    "u_parser_snapshot" -> ((s, d) => {
      val dir = T.scratchDir("graft_parser")
      val docs = t(s, d, "documents")
      graft.sources.Snapshot.publish(s, dir, docs, "lang", "text")
      val edits = docs
        .filter(col("lang") === "en" && pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
      graft.sources.Snapshot.upsert(s, dir, edits, "doc_id", "lang", "text")
      val ext = graft.ops.T.extSession(s)
      ext.sql(s"GRAFT SNAPSHOT HISTORY '$dir'")
        .select(col("version").cast("bigint").as("version"), col("n_rows"),
          col("is_current"))
        .orderBy("version")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "u_udf_scalar" ->
      ("SELECT substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "'\\s+', ' ', 'g')), 1, 8) AS prefix, count(*) AS cnt " +
        "FROM documents GROUP BY prefix ORDER BY prefix"),
    "u_udaf_geomean" ->
      ("SELECT o_orderstatus, " +
        "round(exp(CAST(sum(CAST(ln(o_totalprice) AS DECIMAL(38,12))) AS DOUBLE) / count(*)), 2) AS geomean " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "u_udaf_centroid" ->
      ("SELECT label, round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS c1, " +
        "round(avg(CAST(embedding[2] AS DOUBLE)), 6) AS c2, " +
        "round(avg(CAST(embedding[3] AS DOUBLE)), 6) AS c3, " +
        "round(avg(CAST(embedding[4] AS DOUBLE)), 6) AS c4 " +
        "FROM embeddings GROUP BY label ORDER BY label"),
    "u_udtf_posexplode" ->
      ("SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS token " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id <= 20), " +
        "UNNEST(range(1, len(toks) + 1)) AS r(i) ORDER BY doc_id, pos"),
    // One row per ADJACENT pair: i runs to len-1, bigram = toks[i,i+1].
    "u_udtf_custom" ->
      ("SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, " +
        "toks[i] || ' ' || toks[i + 1] AS bigram " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id <= 20), " +
        "UNNEST(range(1, len(toks))) AS r(i) ORDER BY doc_id, pos"),
    "u_expr_custom" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "least(greatest(l_extendedprice, 1000.0), 50000.0) AS clamped " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    // The degenerate clamp's SEMANTICS (hi for every finite non-null
    // input) and the live clamp, graded together.
    "u_rule_rewrite" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "CAST(30.0 AS DOUBLE) AS pinned, " +
        "least(greatest(l_extendedprice, 5000.0), 40000.0) AS clamped " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "u_strategy_topk" ->
      ("SELECT o_orderstatus, o_orderkey FROM (" +
        "SELECT o_orderstatus, o_orderkey, " +
        "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey DESC) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_orderstatus, o_orderkey"),
    // The two-version history stated directly: the upsert replaces keys,
    // so both versions carry the full corpus row count.
    "u_parser_snapshot" ->
      ("SELECT CAST(1 AS BIGINT) AS version, " +
        "(SELECT count(*) FROM documents) AS n_rows, false AS is_current " +
        "UNION ALL SELECT CAST(2 AS BIGINT), " +
        "(SELECT count(*) FROM documents), true ORDER BY version")
  )
}
