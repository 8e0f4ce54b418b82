package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions (SURVEY.md §2.10) filling Spark 4.1 builtin
  * gaps relative to the reference surface (DataFusion's gcd/lcm/date_bin:
  * /root/reference/datafusion/functions/src/math/gcd.rs, lcm.rs,
  * datetime/date_bin.rs) plus the vector kernels the LLM-pipeline operators
  * need (cosine similarity, hamming distance — the reference's arrow-extra
  * crate ships custom compute kernels; on Spark the analogue is a custom
  * Expression with `doGenCode` so the hot loop lives inside whole-stage
  * codegen, no UDF serialization, no boxing).
  */

/** Cosine similarity of two float-array embeddings. 0.0 when either norm is
  * zero. Tight scalar loop in generated Java; stays inside
  * WholeStageCodegen — at 100 TB this runs per-row with zero allocation. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity needs two array<float> args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      // promote BEFORE multiplying: float*float rounds to float and would
      // diverge from double-accumulating oracles
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i); double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Inner (dot) product of two float-array embeddings — the `ip` metric of
  * the ANN tier (the standard maximum-inner-product-search objective;
  * reference surface: array_distance & friends in functions-nested). Same
  * codegen pattern and double-promoted accumulation as
  * [[CosineSimilarity]]. */
case class InnerProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"inner_product needs two array<float> args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "inner_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Euclidean (L2) distance of two float-array embeddings — the `l2` metric
  * of the ANN tier (reference: `array_distance` in functions-nested is
  * exactly this). Same pattern as [[CosineSimilarity]]; the ANN tier
  * negates it where a higher-is-closer score is needed. */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_distance needs two array<float> args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_distance"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d; i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Hamming distance between two 64-bit signatures (simhash compare). */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hammingdistance needs two bigint args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_distance"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Morton/z-order bit interleave of two bucket ids: bit i of `left` lands
  * at position 2i, bit i of `right` at 2i+1 (low 32 bits each — 10-bit
  * z-order buckets use a fraction of that). Spark 4.1 has no builtin and
  * the `aggregate()` higher-order-function spelling is CodegenFallback —
  * this is the codegen'd replacement for the sink_zorder layout job,
  * O(log w) bit-spreading instead of a 10-iteration lambda fold per row. */
case class ZInterleave(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"z_interleave needs two bigint args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "z_interleave"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZInterleave.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZInterleave.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ZInterleave {
  /** Spread the low 32 bits of x to the even bit positions (the classic
    * magic-mask doubling; see Warren, Hacker's Delight §7-2). */
  def spread(x: Long): Long = {
    var v = x & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }
  def compute(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** Greatest common divisor (Spark 4.1 has no builtin; DataFusion does). */
case class Gcd(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gcd needs two bigint args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "gcd"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Gcd.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Gcd.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Gcd {
  /** Euclid on magnitudes; gcd(0, 0) = 0 (DataFusion/DuckDB convention). */
  def compute(a: Long, b: Long): Long = {
    var x = math.abs(a); var y = math.abs(b)
    while (y != 0) { val t = x % y; x = y; y = t }
    x
  }
}

/** Least common multiple; lcm(0, x) = 0. */
case class Lcm(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lcm needs two bigint args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "lcm"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Lcm.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Lcm.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Lcm {
  /** Errors on Long overflow (incl. abs(Long.MinValue)) instead of silently
    * wrapping — mirrors the reference's explicit lcm overflow error
    * (datafusion/functions/src/math/lcm.rs). */
  def compute(a: Long, b: Long): Long =
    if (a == 0 || b == 0) 0L
    else {
      val g = Gcd.compute(a, b)
      val r = Math.multiplyExact(a / g, b) // throws ArithmeticException
      if (r == Long.MinValue)
        throw new ArithmeticException(s"lcm($a, $b) overflows BIGINT")
      math.abs(r)
    }
}

/** Origin-aligned time binning: floor((ts - origin) / width) * width + origin,
  * all in epoch microseconds (DataFusion's date_bin; Spark 4.1 lacks it —
  * `window()` buckets are structs and date_trunc has no custom width).
  * Negative-safe via floorDiv so pre-origin timestamps bin correctly. */
case class DateBin(widthUs: Expression, ts: Expression, originTs: Expression)
    extends TernaryExpression {

  override def first: Expression = widthUs
  override def second: Expression = ts
  override def third: Expression = originTs

  override def checkInputDataTypes(): TypeCheckResult =
    if (widthUs.dataType == LongType && ts.dataType == TimestampType &&
        originTs.dataType == TimestampType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"date_bin_us(bigint, timestamp, timestamp) got " +
        s"${widthUs.dataType}, ${ts.dataType}, ${originTs.dataType}")
  override def dataType: DataType = TimestampType
  override def prettyName: String = "date_bin_us"

  override protected def nullSafeEval(w: Any, t: Any, o: Any): Any =
    DateBin.compute(w.asInstanceOf[Long], t.asInstanceOf[Long], o.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, t, o) =>
      s"${ev.value} = graft.functions.DateBin.compute($w, $t, $o);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(widthUs = f, ts = s, originTs = t)
}

object DateBin {
  /** Rejects non-positive widths explicitly (the reference's date_bin errors
    * on "stride must be positive"; floorDiv would otherwise surface an
    * opaque ArithmeticException or, for negative widths, wrong bins). */
  def compute(widthUs: Long, tUs: Long, oUs: Long): Long = {
    if (widthUs <= 0)
      throw new IllegalArgumentException(
        s"date_bin_us: bin width must be positive, got $widthUs")
    Math.floorDiv(tUs - oUs, widthUs) * widthUs + oUs
  }
}

/** 64-bit order-sensitive rolling fingerprint of whitespace-split words:
  * fp_i = xxh64(bytes(w_i), seed = fp_{i-1}), fp_0 = 0. Replaces the round-1
  * transform+aggregate HOF chain, which ran interpreted (CodegenFallback) and
  * boxed per element; this is one static-call codegen'd loop over the
  * string's UTF-8 bytes with zero allocation (no split array is ever
  * materialized). Equal texts collide w.h.p. only when equal — the document
  * fingerprint of SURVEY §2.7. */
case class RollingFingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_fingerprint needs a string arg, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"

  override protected def nullSafeEval(s: Any): Any =
    RollingFingerprint.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingFingerprint.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RollingFingerprint {
  /** Chain over words (split on single space, like `split(text, ' ')` —
    * consecutive spaces yield empty words, hashed like any other). */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    var fp = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        fp = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          i - start, fp)
        start = i + 1
      }
      i += 1
    }
    fp
  }
}

/** Shingle + MinHash kernels (SURVEY §2.5). Round 1 built shingling from
  * posexplode+window+collect_set and signatures from a second explode into a
  * 128-min-buffer aggregate — correct and codegen'd, but each pays a full
  * doc_id shuffle of exploded rows. As native expressions the whole
  * signature pipeline is a narrow per-row map: at 100 TB NOTHING shuffles
  * until the LSH banding join, and the per-shingle permutation loop is 128
  * wrapping multiply-adds in JIT'd JVM code (ANSI-mode SQL arithmetic would
  * overflow-throw; JVM longs wrap by design — the standard MinHash trick). */
object ShingleKernels {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** Sorted-distinct hashes of word n-gram shingles (split on ' '). */
  def wordShingles(s: org.apache.spark.unsafe.types.UTF8String, width: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    // word hashes
    val wordHashes = new java.util.ArrayList[java.lang.Long]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > start) // skip empty words (consecutive spaces)
          wordHashes.add(XXH64.hashUnsafeBytes(bytes, BYTE_ARRAY_OFFSET + start, i - start, 0L))
        start = i + 1
      }
      i += 1
    }
    val m = wordHashes.size
    if (m < width) return Array.emptyLongArray
    val out = new Array[Long](m - width + 1)
    var j = 0
    while (j <= m - width) {
      var h = 0L
      var k = 0
      while (k < width) { h = XXH64.hashLong(wordHashes.get(j + k), h); k += 1 }
      out(j) = h
      j += 1
    }
    sortedDistinct(out)
  }

  /** Sorted-distinct hashes of byte n-gram shingles (UTF-8 "char" grams). */
  def charShingles(s: org.apache.spark.unsafe.types.UTF8String, width: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < width) return Array.emptyLongArray
    val out = new Array[Long](n - width + 1)
    var i = 0
    while (i <= n - width) {
      out(i) = XXH64.hashUnsafeBytes(bytes, BYTE_ARRAY_OFFSET + i, width, 0L)
      i += 1
    }
    sortedDistinct(out)
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** Per-permutation multipliers/addends, derived from splitmix64(j) (odd
    * multiplier). Cached per permutation count. */
  private val coefCache = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coefs(p: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent(p, _ => {
      def mix(z0: Long): Long = {
        var z = z0 + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val a = new Array[Long](p); val b = new Array[Long](p)
      var j = 0
      while (j < p) { a(j) = mix(2L * j) | 1L; b(j) = mix(2L * j + 1); j += 1 }
      (a, b)
    })

  /** MinHash signature: per permutation j, min over shingles of the wrapped
    * affine permutation a_j*h + b_j (unsigned compare for uniformity). */
  def minhashSig(hashes: org.apache.spark.sql.catalyst.util.ArrayData, p: Int): Array[Long] = {
    val (a, b) = coefs(p)
    val sig = new Array[Long](p)
    java.util.Arrays.fill(sig, -1L) // unsigned max
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < p) {
        val v = a(j) * h + b(j)
        if (java.lang.Long.compareUnsigned(v, sig(j)) < 0) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }
}

abstract class ShingleExpression extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName(string, int-literal) got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
}

/** `word_shingles(text, w)` → sorted-distinct xxh64 hashes of word w-grams. */
case class WordShingles(left: Expression, right: Expression) extends ShingleExpression {
  override def prettyName: String = "word_shingles"
  override protected def nullSafeEval(t: Any, w: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleKernels.wordShingles(
        t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], w.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.ShingleKernels.wordShingles($t, $w))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `char_shingles(text, w)` → sorted-distinct xxh64 hashes of byte w-grams. */
case class CharShingles(left: Expression, right: Expression) extends ShingleExpression {
  override def prettyName: String = "char_shingles"
  override protected def nullSafeEval(t: Any, w: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleKernels.charShingles(
        t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], w.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.ShingleKernels.charShingles($t, $w))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `minhash_sig(hashes, p)` → p-permutation MinHash signature (array<long>). */
case class MinHashSig(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) if right.dataType == IntegerType && right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig(array<bigint>, int-literal) got ${left.dataType}, ${right.dataType}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(hs: Any, p: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleKernels.minhashSig(
        hs.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], p.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hs, p) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.ShingleKernels.minhashSig($hs, $p))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `hyperplane_sign_bits(vec, bits)` — random-hyperplane LSH bucket
  * (Charikar 2002 sign bits) of a float-array embedding. Plane components
  * are derived on the fly from splitmix64((j*64+i)) scaled to [-1, 1] —
  * identical to the round-1 zip_with/aggregate HOF formulation, which ran
  * interpreted (CodegenFallback) per corpus row; this is a bits×dim fused
  * multiply-add loop in JIT'd code with zero allocation. Covers the first
  * 64 dimensions (the corpus dimensionality), like the original. */
case class HyperplaneSignBits(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(FloatType, _)
        if right.dataType == IntegerType && right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sign_bits(array<float>, int-literal) got " +
        s"${left.dataType}, ${right.dataType}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_sign_bits"
  override protected def nullSafeEval(v: Any, b: Any): Any =
    HyperplaneSignBits.compute(v.asInstanceOf[ArrayData], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, b) =>
      s"graft.functions.HyperplaneSignBits.compute($v, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object HyperplaneSignBits {
  /** plane(j,i) = splitmix64(j*64+i) / Long.MaxValue, in [-1, 1] — byte-for
    * -byte the derivation the declarative form used (Similarity.planes). */
  private def plane(idx: Int): Double = {
    var x = idx.toLong + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x = x ^ (x >>> 31)
    x.toDouble / Long.MaxValue.toDouble
  }
  private lazy val planeTable: Array[Double] =
    Array.tabulate(32 * 64)(plane) // up to 32 sign bits

  def compute(v: ArrayData, bits: Int): Int = {
    require(bits <= 32, s"hyperplane_sign_bits supports ≤32 bits, got $bits")
    val n = math.min(v.numElements(), 64)
    var sig = 0
    var j = 0
    while (j < bits) {
      var dot = 0.0
      val base = j * 64
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * planeTable(base + i); i += 1 }
      if (dot > 0) sig |= (1 << j)
      j += 1
    }
    sig
  }
}

/** `sorted_overlap_count(a, b)` — |a ∩ b| for two SORTED-DISTINCT long
  * arrays (the shingle-kernel output format) via a merge loop: no hash
  * sets, no result-array allocation. With |a∪b| = |a|+|b|−|a∩b| this gives
  * exact Jaccard for the dedup verify joins at a fraction of
  * array_intersect+array_union's cost. */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_overlap_count needs two array<bigint> args, got " +
        s"${left.dataType}, ${right.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_overlap_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlapCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedOverlapCount.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedOverlapCount {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

/** `l2_normalize(vec)` — unit-L2 embedding, double precision out. Norm is
  * accumulated in double (float accumulation drifts from any double-math
  * oracle); zero vectors pass through as zeros. */
case class L2Normalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"l2_normalize(array<float>) got $t")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "l2_normalize"
  override protected def nullSafeEval(v: Any): Any =
    L2Normalize.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.L2Normalize.compute($v)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object L2Normalize {
  def compute(v: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; ss += x * x; i += 1 }
    val norm = math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    // divide (not multiply-by-reciprocal): IEEE division matches an
    // oracle's x/norm bit-for-bit; the reciprocal trick differs in the ulp
    while (i < n) {
      out(i) = if (norm == 0.0) 0.0 else v.getFloat(i).toDouble / norm
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `quantize_int8(vec)` — symmetric int8 quantization: scale = max|x|/127,
  * q_i = floor(x_i/scale + 0.5) (explicit half-up — portable across
  * engines, unlike round's half-even). The storage format that cuts a
  * 100 TB float32 embedding corpus to a quarter; struct(scale, codes). */
case class QuantizeInt8(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"quantize_int8(array<float>) got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def prettyName: String = "quantize_int8"
  override protected def nullSafeEval(v: Any): Any =
    QuantizeInt8.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.QuantizeInt8.compute($v)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object QuantizeInt8 {
  def compute(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) { val a = math.abs(v.getFloat(i).toDouble); if (a > mx) mx = a; i += 1 }
    val scale = if (mx == 0.0) 1.0 else mx / 127.0
    val codes = new Array[Int](n)
    i = 0
    while (i < n) {
      codes(i) = math.floor(v.getFloat(i).toDouble / scale + 0.5).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(scale,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes))
  }
}

/** `stopword_hits(text, 'w1,w2,...')` — number of space-split words of
  * `text` found in the comma-separated profile (profile parsed once per
  * distinct literal, cached). Replaces the filter(words, array_contains)
  * HOF in the quality/langid scorers, which ran interpreted per row; this
  * is one pass over the UTF-8 bytes with a hash-set probe per word. */
case class StopwordHits(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"stopword_hits(string, string-literal) got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "stopword_hits"
  override protected def nullSafeEval(t: Any, p: Any): Any =
    StopwordHits.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      p.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"graft.functions.StopwordHits.compute($t, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object StopwordHits {
  private val profiles =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]]()

  private def profile(csv: org.apache.spark.unsafe.types.UTF8String) =
    profiles.computeIfAbsent(csv.toString, k => {
      val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      k.split(",").foreach(w =>
        s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
      s
    })

  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      csv: org.apache.spark.unsafe.types.UTF8String): Int = {
    val set = profile(csv)
    val bytes = text.getBytes
    val n = bytes.length
    var hits = 0
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (set.contains(org.apache.spark.unsafe.types.UTF8String
            .fromBytes(bytes, start, i - start))) hits += 1
        start = i + 1
      }
      i += 1
    }
    hits
  }
}

/** `cosine_similarity_int(a, b)` — cosine over int arrays (the int8
  * quantization codes from `quantize_int8`; symmetric per-vector scales
  * cancel in cosine, so scoring needs only the codes). Same fused loop as
  * CosineSimilarity, integer loads. */
case class CosineSimilarityInt(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity_int needs two array<int> args, got " +
        s"${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity_int"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityInt.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSimilarityInt.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarityInt {
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var nx = 0L; var ny = 0L
    var i = 0
    while (i < n) {
      val a = x.getInt(i).toLong; val b = y.getInt(i).toLong
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    if (nx == 0L || ny == 0L) 0.0
    else dot.toDouble / math.sqrt(nx.toDouble * ny.toDouble)
  }
}

/** `pq_score(codes, table)` — asymmetric-distance (ADC) scoring for product
  * quantization [Jégou et al. 2011]: a corpus vector is M small codebook
  * codes (here 8 × 4-bit), a query is a precomputed M×K table of partial
  * dot products, and the score is Σ_m table[m·K + codes[m]] — M array
  * loads per vector instead of a full float dot product. The hot scoring
  * loop of n_pq_topk; codebook TRAINING runs on a tiny sample off the hot
  * path. K is implied by the array shapes (table.length / codes.length). */
case class PqScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_score(array<int> codes, array<double> table) got $l, $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_score"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqScore.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqScore.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqScore {
  /** Validates shapes before indexing: `pq_score` is registered as a
    * user-callable SQL function, and on UnsafeArrayData an out-of-range
    * index is an unchecked raw-memory read — garbage, not an error. The
    * strict error surface matches the other native expressions
    * (ErrorSurfaceSpec). */
  def compute(codes: ArrayData, table: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) {
      // empty codes against a non-empty table is a shape mismatch, not a
      // zero score — same garbage-not-error strictness as every other
      // malformed shape here (ADVICE r5); both-empty is the vacuous sum
      if (table.numElements() != 0)
        throw new IllegalArgumentException(
          s"pq_score: empty codes with non-empty table " +
            s"(${table.numElements()} entries)")
      return 0.0
    }
    if (table.numElements() % m != 0)
      throw new IllegalArgumentException(
        s"pq_score: table length ${table.numElements()} is not a multiple " +
          s"of the $m codes (need m*k partial dots, seg-major)")
    val k = table.numElements() / m
    var s = 0.0
    var i = 0
    while (i < m) {
      if (codes.isNullAt(i))
        throw new IllegalArgumentException(
          s"pq_score: NULL code at segment $i")
      val c = codes.getInt(i)
      if (c < 0 || c >= k)
        throw new IllegalArgumentException(
          s"pq_score: code $c at segment $i out of range [0, $k)")
      val slot = i * k + c
      if (table.isNullAt(slot))
        throw new IllegalArgumentException(
          s"pq_score: NULL table entry at (segment $i, code $c)")
      s += table.getDouble(slot)
      i += 1
    }
    s
  }
}

/** `nearest_centroid(vec, cents, cells[, metric])` — argmax cell
  * assignment for IVF-family coarse quantizers, the one corpus-to-cell
  * assignment Similarity.assignTo runs at every model size: `cents` is the
  * centroid model flattened cell-major (cents[cell*d + j], d implied by
  * length/cells), the result is the index of the best-scoring centroid
  * under `metric` (0 = cosine, the default; 1 = L2, argMIN distance;
  * 2 = inner product, argMAX dot), ties to the HIGHEST index. Per-cell
  * scores are the scalar `cosine_similarity` / `-l2_distance` /
  * `inner_product` math (double-promoted accumulation, pairwise
  * min-length, zero-norm → 0.0 under cosine). One inlined expression per
  * cell would exceed JVM codegen limits at the √n cells a large corpus
  * wants (VERDICT r10); this is one fused cells×d loop in generated code —
  * cell count changes a loop bound, not the expression tree. */
case class NearestCentroid(vec: Expression, cents: Expression,
    cells: Expression, metric: Expression)
    extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = cents
  override def third: Expression = cells
  override def fourth: Expression = metric

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cents.dataType, cells.dataType, metric.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _), IntegerType,
          IntegerType) if cells.foldable && metric.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (v, c, n, m) => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid(array<float> vec, array<float> cents, " +
          s"int-literal cells[, int-literal metric]) got $v, $c, $n, $m")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(v: Any, c: Any, n: Any, m: Any): Any =
    NearestCentroid.compute(v.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], n.asInstanceOf[Int], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, n, m) =>
      s"${ev.value} = graft.functions.NearestCentroid.compute($v, $c, $n, $m);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(vec = f, cents = s, cells = t, metric = q)
}

object NearestCentroid {
  def apply(vec: Expression, cents: Expression, cells: Expression): NearestCentroid =
    NearestCentroid(vec, cents, cells, Literal(VecMetric.Cosine))

  def compute(vec: ArrayData, cents: ArrayData, cells: Int, metric: Int): Int = {
    if (cells <= 0 || cents.numElements() == 0 ||
        cents.numElements() % cells != 0)
      throw new IllegalArgumentException(
        s"nearest_centroid: model length ${cents.numElements()} must be a " +
          s"positive multiple of cells=$cells")
    VecMetric.check("nearest_centroid", metric)
    val d = cents.numElements() / cells
    // same pairwise semantics as cosine_similarity: iterate min(|vec|, d)
    val m = math.min(vec.numElements(), d)
    var nx = 0.0
    var i = 0
    while (i < m) {
      val xv = vec.getFloat(i).toDouble
      nx += xv * xv
      i += 1
    }
    var best = 0
    var bestScore = Double.NegativeInfinity
    var cell = 0
    while (cell < cells) {
      val base = cell * d
      var dot = 0.0
      var ny = 0.0
      var sq = 0.0
      var j = 0
      while (j < m) {
        val xv = vec.getFloat(j).toDouble
        val yv = cents.getFloat(base + j).toDouble
        dot += xv * yv
        ny += yv * yv
        val diff = xv - yv
        sq += diff * diff
        j += 1
      }
      // higher = closer for every metric: L2 scores as the negated distance
      val s = metric match {
        case VecMetric.L2 => -math.sqrt(sq)
        case VecMetric.Ip => dot
        case _ => if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
      }
      // >= : ties take the highest cell
      if (s >= bestScore) { bestScore = s; best = cell }
      cell += 1
    }
    best
  }
}

/** `top_cells(vec, cents, cells, nprobe, metric)` — the probe-selection
  * companion of `nearest_centroid` (round 18): the indices of the `nprobe`
  * best-scoring centroids of the flattened cell-major model `cents`, ranked
  * by (score DESC, index ASC) — exactly the `row_number() over (order by
  * score desc, cell asc) <= nprobe` window the IVF serve path ranked with
  * (NaN included: like Spark's sort order, NaN counts as the LARGEST score,
  * so a degenerate all-NaN query probes real cells — the window branch's
  * behavior, fixing the r17 inline chain's silent -1 sentinel pick, ADVICE
  * r17). Same per-cell score math as [[NearestCentroid]] (double-promoted
  * accumulation, pairwise min-length, zero-norm cosine → 0.0). The r17
  * inline `least`-chain built an nprobe × cells expression TREE per serve
  * call — ~250 ms of driver-side construction + analysis per call at
  * nprobe=3/cells=16 (round-18 phase probe) and growing with both knobs;
  * this is one fused cells×d loop whose bounds are literals, so probe
  * selection costs one function call at ANY model size and the crossJoin +
  * Window fallback for big models is gone too. */
case class TopCells(vec: Expression, cents: Expression, cells: Expression,
    nprobe: Expression, metric: Expression)
    extends QuinaryExpression {

  override def children: Seq[Expression] =
    Seq(vec, cents, cells, nprobe, metric)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cents.dataType, cells.dataType, nprobe.dataType,
        metric.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _), IntegerType,
          IntegerType, IntegerType)
        if cells.foldable && nprobe.foldable && metric.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (v, c, n, p, m) => TypeCheckResult.TypeCheckFailure(
        s"top_cells(array<float> vec, array<float> cents, int-literal " +
          s"cells, int-literal nprobe[, int-literal metric]) " +
          s"got $v, $c, $n, $p, $m")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "top_cells"

  override protected def nullSafeEval(v: Any, c: Any, n: Any, p: Any,
      m: Any): Any =
    TopCells.compute(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      n.asInstanceOf[Int], p.asInstanceOf[Int], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, n, p, m) =>
      s"${ev.value} = graft.functions.TopCells.compute($v, $c, $n, $p, $m);")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), cents = newChildren(1), cells = newChildren(2),
      nprobe = newChildren(3), metric = newChildren(4))
}

object TopCells {
  def apply(vec: Expression, cents: Expression, cells: Expression,
      nprobe: Expression): TopCells =
    TopCells(vec, cents, cells, nprobe, Literal(VecMetric.Cosine))

  def compute(vec: ArrayData, cents: ArrayData, cells: Int, nprobe: Int,
      metric: Int): ArrayData = {
    if (cells <= 0 || cents.numElements() == 0 ||
        cents.numElements() % cells != 0)
      throw new IllegalArgumentException(
        s"top_cells: model length ${cents.numElements()} must be a " +
          s"positive multiple of cells=$cells")
    if (nprobe <= 0 || nprobe > cells)
      throw new IllegalArgumentException(
        s"top_cells: nprobe=$nprobe must be in [1, cells=$cells]")
    VecMetric.check("top_cells", metric)
    val d = cents.numElements() / cells
    // same pairwise semantics as cosine_similarity / nearest_centroid
    val m = math.min(vec.numElements(), d)
    var nx = 0.0
    var i = 0
    while (i < m) {
      val xv = vec.getFloat(i).toDouble
      nx += xv * xv
      i += 1
    }
    val scores = new Array[Double](cells)
    var cell = 0
    while (cell < cells) {
      val base = cell * d
      var dot = 0.0
      var ny = 0.0
      var sq = 0.0
      var j = 0
      while (j < m) {
        val xv = vec.getFloat(j).toDouble
        val yv = cents.getFloat(base + j).toDouble
        dot += xv * yv
        ny += yv * yv
        val diff = xv - yv
        sq += diff * diff
        j += 1
      }
      scores(cell) = metric match {
        case VecMetric.L2 => -math.sqrt(sq)
        case VecMetric.Ip => dot
        case _ => if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
      }
      cell += 1
    }
    // partial selection, nprobe × cells compares: ascending scan with a
    // STRICT > test keeps the lowest index on ties; java.lang.Double.compare
    // ranks NaN above every value — both exactly the window's
    // (score DESC, cell ASC) order
    val out = new Array[Int](nprobe)
    val picked = new Array[Boolean](cells)
    var r = 0
    while (r < nprobe) {
      var best = -1
      var c2 = 0
      while (c2 < cells) {
        if (!picked(c2) &&
            (best == -1 || java.lang.Double.compare(scores(c2), scores(best)) > 0))
          best = c2
        c2 += 1
      }
      picked(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Shared metric ids for the ANN kernels (kept as raw ints so they inline
  * into generated code as literals). */
object VecMetric {
  val Cosine = 0
  val L2 = 1
  val Ip = 2
  def check(fn: String, metric: Int): Unit =
    if (metric < Cosine || metric > Ip)
      throw new IllegalArgumentException(
        s"$fn: metric must be 0 (cosine), 1 (l2) or 2 (ip), got $metric")
}

/** Shared shape validation for the PQ corpus-side kernels: `books` is the
  * trained codebook flattened seg-major — books[((seg*k)+code)*d + dim] —
  * so d and k are implied by the vector length and m. */
private[functions] object PqShapes {
  /** Returns (d, k) or throws with the caller's name in the message. */
  def dims(fn: String, vecLen: Int, booksLen: Int, m: Int): (Int, Int) = {
    if (m <= 0 || vecLen == 0 || vecLen % m != 0)
      throw new IllegalArgumentException(
        s"$fn: vector length $vecLen must be a positive multiple of m=$m segments")
    val d = vecLen / m
    if (booksLen == 0 || booksLen % (m * d) != 0)
      throw new IllegalArgumentException(
        s"$fn: codebook length $booksLen must be a positive multiple of " +
          s"m*d=${m * d} (flattened seg-major m x k x d)")
    (d, booksLen / (m * d))
  }

  /** NULL array elements would silently read as 0.0 through
    * ArrayData.getDouble (the garbage-not-error class the strict error
    * surface forbids); both kernels touch every element anyway, so the
    * per-access branch is noise against the FMA loop. */
  def checkedDouble(fn: String, what: String, a: ArrayData, i: Int): Double = {
    if (a.isNullAt(i))
      throw new IllegalArgumentException(s"$fn: NULL $what element at index $i")
    a.getDouble(i)
  }
}

/** `pq_encode(vec, books, m)` — product-quantization corpus encoding
  * [Jégou et al. 2011]: split `vec` into m subvectors of d dims, return for
  * each the index of the nearest (squared-L2) of the k centroids in the
  * flattened seg-major codebook `books` (ties → lowest code, so encoding is
  * deterministic). This is the per-corpus-row hot loop of PQ index builds —
  * the round-4 `aggregate(zip_with(...))` HOF form ran interpreted
  * (CodegenFallback, ~m×k boxed lambda evaluations per vector) plus a
  * groupBy(vec_id, seg) shuffle of every subvector; this is one fused
  * m×k×d FMA loop in generated code, narrow, zero allocation beyond the
  * m-int result. Mirrors how `pq_score` already covers the ADC scoring
  * side (reference analogue: the kernel tier of datafusion/arrow-extra). */
case class PqEncode(vec: Expression, books: Expression, m: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = books
  override def third: Expression = m

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, books.dataType, m.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), IntegerType)
        if m.foldable => TypeCheckResult.TypeCheckSuccess
      case (v, b, s) => TypeCheckResult.TypeCheckFailure(
        s"pq_encode(array<double> vec, array<double> books, int-literal m) " +
          s"got $v, $b, $s")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(v: Any, b: Any, s: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b, s) =>
      s"${ev.value} = graft.functions.PqEncode.compute($v, $b, $s);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, books = s, m = t)
}

object PqEncode {
  def compute(vec: ArrayData, books: ArrayData, m: Int): ArrayData = {
    val (d, k) = PqShapes.dims("pq_encode", vec.numElements(), books.numElements(), m)
    val codes = new Array[Int](m)
    var seg = 0
    while (seg < m) {
      val vBase = seg * d
      var best = 0
      var bestDist = Double.MaxValue
      var code = 0
      while (code < k) {
        val bBase = (seg * k + code) * d
        var dist = 0.0
        var j = 0
        while (j < d) {
          val diff = PqShapes.checkedDouble("pq_encode", "vec", vec, vBase + j) -
            PqShapes.checkedDouble("pq_encode", "books", books, bBase + j)
          dist += diff * diff
          j += 1
        }
        if (dist < bestDist) { bestDist = dist; best = code }
        code += 1
      }
      codes(seg) = best
      seg += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }
}

/** `pq_table(vec, books, m[, metric])` — the query-side companion of
  * `pq_encode`: the m×k table of partial scores between each of `vec`'s m
  * subvectors and every centroid of that segment's codebook, flattened
  * seg-major so `pq_score(codes, table)` indexes it directly. `metric`
  * selects the ADC objective the summed score approximates: 0 (default) =
  * partial DOT products, summing to the inner product of query and
  * reconstruction (the cosine/ip serve); 1 = NEGATED partial squared-L2,
  * summing to −‖q − reconstruction‖² (the L2 serve — negated so
  * higher-is-closer holds for every metric; the standard ADC distance
  * table of Jégou et al. §IV). Runs once per QUERY vector (tiny), but
  * native anyway so the whole PQ path is HOF-free. */
case class PqTable(vec: Expression, books: Expression, m: Expression,
    metric: Expression)
    extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = books
  override def third: Expression = m
  override def fourth: Expression = metric

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, books.dataType, m.dataType, metric.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), IntegerType,
          IntegerType) if m.foldable && metric.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (v, b, s, mt) => TypeCheckResult.TypeCheckFailure(
        s"pq_table(array<double> vec, array<double> books, int-literal m" +
          s"[, int-literal metric]) got $v, $b, $s, $mt")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_table"

  override protected def nullSafeEval(v: Any, b: Any, s: Any, mt: Any): Any =
    PqTable.compute(v.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      s.asInstanceOf[Int], mt.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b, s, mt) =>
      s"${ev.value} = graft.functions.PqTable.compute($v, $b, $s, $mt);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(vec = f, books = s, m = t, metric = q)
}

object PqTable {
  def apply(vec: Expression, books: Expression, m: Expression): PqTable =
    PqTable(vec, books, m, Literal(0))

  /** Table metric 1 = negative squared-L2 partials; 0 = dot partials.
    * (Cosine and ip share the dot table — ids differ only upstream.) */
  def compute(vec: ArrayData, books: ArrayData, m: Int, metric: Int): ArrayData = {
    if (metric != 0 && metric != 1)
      throw new IllegalArgumentException(
        s"pq_table: metric must be 0 (dot) or 1 (neg-squared-l2), got $metric")
    val (d, k) = PqShapes.dims("pq_table", vec.numElements(), books.numElements(), m)
    val table = new Array[Double](m * k)
    var seg = 0
    while (seg < m) {
      val vBase = seg * d
      var code = 0
      while (code < k) {
        val bBase = (seg * k + code) * d
        var s = 0.0
        var j = 0
        while (j < d) {
          val xv = PqShapes.checkedDouble("pq_table", "vec", vec, vBase + j)
          val yv = PqShapes.checkedDouble("pq_table", "books", books, bBase + j)
          if (metric == 0) s += xv * yv
          else { val diff = xv - yv; s -= diff * diff }
          j += 1
        }
        table(seg * k + code) = s
        code += 1
      }
      seg += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(table)
  }
}

/** `rep_stats(text)` — the four per-document repetition statistics the
  * x_repetition quality gate needs, in ONE pass over the UTF-8 bytes:
  * struct(n_words, n_distinct, top_word_c, top_bigram_c) under the exact
  * `split(text, ' ')` tokenization (single-space delimiter, empty tokens
  * from leading/consecutive/trailing spaces INCLUDED — Spark's limit=-1
  * split semantics, which the DuckDB oracle's string_split shares).
  *
  * Round 10: the 1000×-scale stress showed the previous decomposition —
  * posexplode → per-doc lead() window → two (doc_id, gram) groupBys —
  * going disk-spill-bound on the exploded-token sort (250M rows from 5M
  * docs) in a single JVM. The statistics are PER-DOCUMENT, so no shuffle
  * is needed at all: this kernel reduces each text to four ints inside
  * whole-stage codegen (a static call, HashMap bounded by the doc's
  * distinct grams), and x_repetition becomes a narrow projection whose
  * only exchange is the presentation sort. Scanning bytes for 0x20 is
  * UTF-8-safe (a space byte never occurs inside a multi-byte sequence).
  *
  * HEAP BOUND (ADVICE r10): the two gram maps are O(distinct grams) ≈
  * O(doc bytes) of transient heap in ONE task — unlike the shuffle-based
  * decomposition, this cannot spill. Callers must bound input length;
  * TextAnalysis.repetitionOn routes docs over RepKernelMaxBytes (64 MiB)
  * through the spill-capable decomposition instead. */
case class RepStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rep_stats(string) got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top_word_c", IntegerType, nullable = false),
    StructField("top_bigram_c", IntegerType, nullable = false)))
  override def prettyName: String = "rep_stats"
  override protected def nullSafeEval(t: Any): Any =
    RepStats.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepStats.compute($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RepStats {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def compute(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.unsafe.types.UTF8String
    val bytes = text.getBytes
    val n = bytes.length
    val wordCounts = new java.util.HashMap[UTF8String, Integer]()
    val bigramCounts = new java.util.HashMap[UTF8String, Integer]()
    val inc = new java.util.function.BiFunction[Integer, Integer, Integer] {
      override def apply(a: Integer, b: Integer): Integer = a + b
    }
    var nWords = 0
    var maxWord = 0
    var maxBigram = 0
    var prev: UTF8String = null
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val w = UTF8String.fromBytes(bytes, start, i - start)
        nWords += 1
        val c: Int = wordCounts.merge(w, 1, inc)
        if (c > maxWord) maxWord = c
        if (prev != null) {
          val bg = UTF8String.concat(prev, Space, w)
          val cb: Int = bigramCounts.merge(bg, 1, inc)
          if (cb > maxBigram) maxBigram = cb
        }
        prev = w
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, wordCounts.size, maxWord, maxBigram))
  }
}
