package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot math in the similarity /
  * dedup operators. Each replaces an interpreted higher-order-function
  * pipeline with a single tight loop that runs inside the generated
  * stage — the preference order the engine follows: built-in
  * functions, then a native `Expression`, and only then anything slower
  * (SURVEY.md §7.3).
  *
  * One kernel per expression: the computation is written once, as a
  * typed Scala method on the expression's companion. `nullSafeEval`
  * calls it, and `doGenCode` emits one call to it, so the interpreted
  * and generated paths agree by construction while the per-row call
  * stays fused inside the whole-stage generated stage (the same shape
  * Spark's own intrinsics use). Bound model state (PQ codebooks,
  * top-cell centroids) lives on the expression and is passed to the
  * kernel — as `addReferenceObj` references in generated code. Scratch
  * buffers are `addMutableState` fields, allocated once per generated
  * class and passed in; the interpreted path allocates them per call.
  * [[FloatDot]] and [[PqAdcScore]] return a nullable primitive: their
  * NULL rule is a separate `isNull` kernel, so no result is boxed.
  *
  * Numeric contracts:
  *   - [[FloatDot]] accumulates in Double in index order — bit-identical to
  *     the sequential `aggregate(zip_with(...))` fold it replaces, and to
  *     DuckDB's `list_dot_product` (the correctness oracle for cosine).
  *   - Hashes use Spark's own XXH64 so values line up with the built-in
  *     `xxhash64` function's quality, seeded at 42 like Catalyst does.
  */
object VectorExprs {

  /** A Scala object as generated Java source names it: its module
    * instance, through which generated code calls the kernels. */
  private def module(o: AnyRef): String = o.getClass.getName + ".MODULE$"

  /** The shingle separator, shared by every call. */
  private val Space = UTF8String.fromString(" ")

  /** concat_ws(" ", tokens[from ..< until]): a NULL token is skipped, the
    * same rule as the concat_ws formulation the shingle hashes mirror. */
  private def joinWindow(tokens: ArrayData, from: Int, until: Int): UTF8String = {
    val parts = new Array[UTF8String](until - from)
    var i = from
    while (i < until) {
      parts(i - from) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      i += 1
    }
    UTF8String.concatWs(Space, parts: _*)
  }

  /** mins[i] = min(mins[i], XXH64(base, seed = i)) for every i. */
  private def foldMin(mins: Array[Long], base: Long): Unit = {
    var i = 0
    while (i < mins.length) {
      val h = XXH64.hashLong(base, i.toLong)
      if (h < mins(i)) mins(i) = h
      i += 1
    }
  }

  /** A vector [[PqEncode]] / [[PqAdcTable]] accepts: exactly `len`
    * elements, none NULL. */
  private def wellFormed(v: ArrayData, len: Int): Boolean = {
    if (v.numElements() != len) return false
    var i = 0
    while (i < len) { if (v.isNullAt(i)) return false; i += 1 }
    true
  }

  /** Dot product of two float-array columns, accumulated in Double in
    * index order.
    *
    * Degenerate-input semantics MATCH the portable
    * `aggregate(zip_with(a, b, (x, y) => x * y), 0.0, _ + _)` fold on
    * every input, not just well-formed ones: arrays of unequal length
    * yield NULL (zip_with null-pads the shorter side, poisoning the sum)
    * and a NULL element yields NULL (null product → null sum). This is
    * what makes [[graft.plans.RewriteHofDot]] a sound rewrite on ALL
    * user data — ragged or null-holding arrays return the same NULL the
    * HOF formulation returns — with no interpreted guard expressions
    * around the native loop. */
  case class FloatDot(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    // can return NULL even for non-null inputs (ragged / null element)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_float_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      if (FloatDot.isNull(x, y)) null else FloatDot.dot(x, y)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.isNull} = ${module(FloatDot)}" +
        s".isNull($a, $b); if (!${ev.isNull}) ${ev.value} = ${module(FloatDot)}.dot($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object FloatDot {
    /** The fold's NULL rule: unequal lengths or a NULL element. */
    def isNull(x: ArrayData, y: ArrayData): Boolean = {
      val n = x.numElements()
      if (n != y.numElements()) return true
      var i = 0
      while (i < n) { if (x.isNullAt(i) || y.isNullAt(i)) return true; i += 1 }
      false
    }

    /** Σ x[i]·y[i] in Double, index order, where [[isNull]] is false. */
    def dot(x: ArrayData, y: ArrayData): Double = {
      val n = x.numElements()
      var s = 0.0; var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      s
    }
  }

  /** Exact sparse dot product with per-term 9-decimal rounding — the
    * verification kernel of [[graft.operators.Dedup.allPairsCosine]]:
    * given two arrays of struct(tid: long, w: double), each STRICTLY
    * sorted by tid (unique tids — the per-doc term vector), returns
    * Σ_{shared tid} round(w_a·w_b, 9) summed EXACTLY in units of 10⁻⁹
    * (long arithmetic; ≤ ~10⁹ per term and ≤ array-length terms, so the
    * sum sits far inside long range) and rendered to double the way
    * Decimal(38,9).toDouble renders it. Bit-identical to
    * `sum(cast(round(w_a*w_b, 9) as decimal(28,9))).cast("double")`
    * over the joined shared-term rows — see [[DotRound9.round9Unscaled]]
    * — while replacing the |candidates|×|doc| row fan-out and its
    * pair-keyed aggregate exchange with ONE two-pointer merge per
    * candidate pair (r20; measured 60–80 CPU-s → ~2 CPU-s at sf0.1).
    * NULL on null input, like every expression here. */
  case class DotRound9(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    private val entry = StructType(Seq(
      StructField("tid", LongType, nullable = false),
      StructField("w", DoubleType, nullable = false)))
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(entry), ArrayType(entry))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot_round9"

    override def nullSafeEval(a: Any, b: Any): Any =
      DotRound9.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = ${module(DotRound9)}.dot($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object DotRound9 {
    /** Unscaled (×10⁹) DECIMAL(·,9) value of `round(x, 9)` exactly as the
      * Spark pipeline `cast(round(x, 9) as decimal(28,9))` computes it:
      * Round on DoubleType goes BigDecimal.valueOf(x).setScale(9, HALF_UP)
      * .toDouble, and the Cast re-rounds that double's shortest decimal
      * rendering back to scale 9 — which is the same k·10⁻⁹ (two decimals
      * a full 10⁻⁹ apart cannot share a double at |x| ≤ 1, so the shortest
      * round-tripping rendering of the rounded double IS k·10⁻⁹). */
    def round9Unscaled(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()

    def dot(x: ArrayData, y: ArrayData): Double = {
      val n = x.numElements(); val m = y.numElements()
      var i = 0; var j = 0; var sum = 0L
      while (i < n && j < m) {
        val xr = x.getStruct(i, 2); val yr = y.getStruct(j, 2)
        val tx = xr.getLong(0); val ty = yr.getLong(0)
        if (tx < ty) i += 1
        else if (tx > ty) j += 1
        else {
          sum += round9Unscaled(xr.getDouble(1) * yr.getDouble(1))
          i += 1; j += 1
        }
      }
      new java.math.BigDecimal(java.math.BigInteger.valueOf(sum), 9)
        .doubleValue()
    }
  }

  /** 64-bit SimHash of a string-array (token) column: per token hash, bit i
    * contributes +1/-1 to counter i; output bit i is sign(counter i). One
    * pass over the tokens — replaces an explode + 64-aggregate plan. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"

    override def nullSafeEval(input: Any): Any =
      SimHash64.simhash(input.asInstanceOf[ArrayData], new Array[Int](64))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val counts = ctx.addMutableState("int[]", "simhashCounts",
        v => s"$v = new int[64];")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(SimHash64)}.simhash($a, $counts);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object SimHash64 {
    /** `counts` is 64-slot scratch, overwritten. */
    def simhash(tokens: ArrayData, counts: Array[Int]): Long = {
      java.util.Arrays.fill(counts, 0)
      var j = 0
      while (j < tokens.numElements()) {
        if (!tokens.isNullAt(j)) {
          val h = XXH64.hashUTF8String(tokens.getUTF8String(j), 42L)
          var i = 0
          while (i < 64) {
            counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1
          }
        }
        j += 1
      }
      var sig = 0L; var i = 0
      while (i < 64) { if (counts(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }
  }

  /** MinHash signature of a string-array (shingle) column: one base XXH64
    * per shingle, then `numHashes` cheap re-seeded long-hashes; output[i] =
    * min over shingles of hash_i. Empty input → all Long.MaxValue (callers
    * filter empty shingle sets). */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(numHashes > 0)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"

    override def nullSafeEval(input: Any): Any =
      MinHashSig.signature(input.asInstanceOf[ArrayData], new Array[Long](numHashes))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mins = ctx.addMutableState("long[]", "minhashMins",
        v => s"$v = new long[$numHashes];")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(MinHashSig)}.signature($a, $mins);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object MinHashSig {
    /** `mins` is the scratch signature (its length is the hash count),
      * overwritten; the result is a copy. */
    def signature(shingles: ArrayData, mins: Array[Long]): ArrayData = {
      java.util.Arrays.fill(mins, Long.MaxValue)
      var j = 0
      while (j < shingles.numElements()) {
        if (!shingles.isNullAt(j))
          foldMin(mins, XXH64.hashUTF8String(shingles.getUTF8String(j), 42L))
        j += 1
      }
      UnsafeArrayData.fromPrimitiveArray(mins)
    }
  }

  /** Random-hyperplane LSH signature of a float-vector column: bit p =
    * sign(<v, plane_p>), plane components derived deterministically from
    * XXH64(dim, XXH64(plane, 42)) mapped to [-1, 1) — no RNG state, so
    * signatures are reproducible across runs and engines. */
  case class LshSign64(child: Expression, numPlanes: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(numPlanes > 0 && numPlanes <= 64)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_lsh_sign64"

    override def nullSafeEval(input: Any): Any =
      LshSign64.sign(input.asInstanceOf[ArrayData], numPlanes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(LshSign64)}.sign($a, $numPlanes);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object LshSign64 {
    def sign(v: ArrayData, numPlanes: Int): Long = {
      val n = v.numElements()
      var sig = 0L
      var p = 0
      while (p < numPlanes) {
        val seed = XXH64.hashInt(p, 42L)
        var dot = 0.0; var i = 0
        while (i < n) {
          val comp = XXH64.hashInt(i, seed).toDouble / Long.MaxValue.toDouble
          dot += v.getFloat(i).toDouble * comp
          i += 1
        }
        if (dot > 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
  }

  /** Cosine similarity of two float-array columns in ONE pass: dot,
    * |a|², |b|² accumulate together (each in Double, index order — the
    * same values as composing three [[FloatDot]] calls, so results are
    * bit-identical to dot/(sqrt·sqrt) and to the DuckDB oracle), then
    * dot / (sqrt(na)·sqrt(nb)). One array traversal instead of three. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_cosine"

    override def nullSafeEval(a: Any, b: Any): Any =
      CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = ${module(CosineSim)}.cosine($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object CosineSim {
    def cosine(x: ArrayData, y: ArrayData): Double = {
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  /** Word n-gram shingle hashes of a token array: out[j] =
    * XXH64(concat_ws(" ", tokens[j ..< min(j+n, len)]), seed=42) for
    * j in 0 .. max(len - n, 0). Hash values equal
    * `xxhash64(concat_ws(" ", slice(tokens, j+1, n)))` — the built-in
    * formulation this replaces — but the whole loop is one kernel call
    * instead of nested interpreted higher-order functions (transform +
    * slice + concat_ws per shingle). */
  case class ShingleHash64(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n > 0)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_hash"

    override def nullSafeEval(input: Any): Any =
      ShingleHash64.hashes(input.asInstanceOf[ArrayData], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(ShingleHash64)}.hashes($a, $n);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object ShingleHash64 {
    def hashes(tokens: ArrayData, n: Int): ArrayData = {
      val m = tokens.numElements()
      // No tokens → no shingles. Without this, every empty input would
      // share the hash of the empty string — a degenerate LSH bucket.
      val cnt = if (m == 0) 0 else math.max(m - n, 0) + 1
      val out = new Array[Long](cnt)
      var j = 0
      while (j < cnt) {
        out(j) = XXH64.hashUTF8String(joinWindow(tokens, j, math.min(j + n, m)), 42L)
        j += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** MinHash signature over pre-hashed shingles: signature[i] = min over
    * elements h of XXH64(h, seed=i). Feeding it [[ShingleHash64]] output
    * gives exactly the same signature as [[MinHashSig]] over the string
    * shingles (same base hash), with the string work done once. */
  case class MinHashFromHashes(child: Expression, numHashes: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(numHashes > 0)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_from_hashes"

    override def nullSafeEval(input: Any): Any =
      MinHashFromHashes.signature(input.asInstanceOf[ArrayData], new Array[Long](numHashes))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mins = ctx.addMutableState("long[]", "minhashHMins",
        v => s"$v = new long[$numHashes];")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(MinHashFromHashes)}.signature($a, $mins);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object MinHashFromHashes {
    /** `mins` as in [[MinHashSig.signature]]. */
    def signature(hashes: ArrayData, mins: Array[Long]): ArrayData = {
      java.util.Arrays.fill(mins, Long.MaxValue)
      var j = 0
      while (j < hashes.numElements()) {
        if (!hashes.isNullAt(j)) foldMin(mins, hashes.getLong(j))
        j += 1
      }
      UnsafeArrayData.fromPrimitiveArray(mins)
    }
  }

  /** LSH band hashes of a minhash signature: out[b] = fold of
    * XXH64.hashLong over signature rows b*r ..< (b+1)*r starting at seed
    * 42 — one long per band, ready for posexplode into (band_id,
    * band_hash) pairs with no string building. */
  case class BandHashes64(child: Expression, bands: Int, r: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(bands > 0 && r > 0)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_band_hashes"

    override def nullSafeEval(input: Any): Any =
      BandHashes64.bandHashes(input.asInstanceOf[ArrayData], bands, r)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(BandHashes64)}.bandHashes($a, $bands, $r);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object BandHashes64 {
    def bandHashes(sig: ArrayData, bands: Int, r: Int): ArrayData = {
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = 42L
        var i = b * r
        val end = math.min((b + 1) * r, sig.numElements())
        while (i < end) { h = XXH64.hashLong(sig.getLong(i), h); i += 1 }
        out(b) = h
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Word n-gram shingle STRINGS of a token array — full windows only:
    * out[j] = concat_ws(" ", tokens[j ..< j+n]) for j in 0 .. len-n, and
    * an empty array when len < n. The string twin of [[ShingleHash64]],
    * for operators whose output IS the n-gram (frequency tables); one
    * kernel call instead of interpreted transform + slice + concat_ws
    * per window. */
  case class ShingleStrings(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n > 0)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_shingle_strings"

    override def nullSafeEval(input: Any): Any =
      ShingleStrings.strings(input.asInstanceOf[ArrayData], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(ShingleStrings)}.strings($a, $n);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object ShingleStrings {
    def strings(tokens: ArrayData, n: Int): ArrayData = {
      val m = tokens.numElements()
      val cnt = if (m < n) 0 else m - n + 1
      val out = new Array[AnyRef](cnt)
      var j = 0
      while (j < cnt) { out(j) = joinWindow(tokens, j, j + n); j += 1 }
      new GenericArrayData(out)
    }
  }

  /** Polynomial rolling hash over a string's UTF-16 characters:
    * h = fold(h * 31 + char) mod 1e9+7 — bit-identical to the
    * `aggregate(split(text, ""), ...)` HOF chain it replaces for BMP
    * text; one kernel call instead of a per-character interpreted
    * fold. */
  case class PolyHash(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_polyhash"

    override def nullSafeEval(input: Any): Any =
      PolyHash.hash(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ${module(PolyHash)}.hash($a);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object PolyHash {
    // a constant, inlined into `% M` like a literal (a plain val would
    // be an accessor call and a division by an unknown divisor)
    private final val M = 1000000007L

    def hash(text: UTF8String): Long = {
      val s = text.toString
      var h = 0L
      var i = 0
      while (i < s.length) { h = (h * 31 + s.charAt(i)) % M; i += 1 }
      h
    }
  }

  /** Jaro–Winkler similarity of two strings in [0, 1] — the record-
    * linkage comparator (names, addresses, titles) Spark lacks as a
    * built-in; see [[JaroWinkler.similarity]] for the pinned semantics.
    * Used by the blocked fuzzy-match operators where edit distance
    * over-penalizes transposed tokens. */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(StringType, StringType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_jaro_winkler"

    override def nullSafeEval(a: Any, b: Any): Any =
      JaroWinkler.similarity(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = ${module(JaroWinkler)}.similarity($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object JaroWinkler {
    /** Semantics pinned to DuckDB's `jaro_winkler_similarity` (the
      * correctness oracle): either side empty → 0.0 (even both-empty);
      * match window ⌊max(len)/2⌋−1; transpositions = half the
      * out-of-order matches; the Winkler prefix boost (ℓ ≤ 4, p = 0.1)
      * applies only when the Jaro score exceeds 0.7. Comparison is by
      * UTF-16 code unit — identical to DuckDB's per-character walk on
      * BMP text. */
    def similarity(aU: UTF8String, bU: UTF8String): Double = {
      val a = aU.toString; val b = bU.toString
      val la = a.length; val lb = b.length
      if (la == 0 || lb == 0) return 0.0
      val window = math.max(math.max(la, lb) / 2 - 1, 0)
      val ma = new Array[Boolean](la); val mb = new Array[Boolean](lb)
      var m = 0
      var i = 0
      while (i < la) {
        val hi = math.min(lb - 1, i + window)
        var j = math.max(0, i - window)
        var found = false
        while (j <= hi && !found) {
          if (!mb(j) && a.charAt(i) == b.charAt(j)) {
            ma(i) = true; mb(j) = true; m += 1; found = true
          }
          j += 1
        }
        i += 1
      }
      if (m == 0) return 0.0
      var t = 0; var k = 0
      i = 0
      while (i < la) {
        if (ma(i)) {
          while (!mb(k)) k += 1
          if (a.charAt(i) != b.charAt(k)) t += 1
          k += 1
        }
        i += 1
      }
      val md = m.toDouble
      val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
      if (jaro <= 0.7) jaro
      else {
        val lim = math.min(4, math.min(la, lb))
        var l = 0
        while (l < lim && a.charAt(l) == b.charAt(l)) l += 1
        jaro + l * 0.1 * (1.0 - jaro)
      }
    }
  }

  /** Shannon entropy (nats) of a string's BYTE distribution — the
    * gibberish / binary-spill / repeated-filler quality gate (low entropy
    * flags "aaaa…"-style filler and template spam; anomalously high flags
    * encoded binary). One pass over the bytes plus a fixed 256-slot
    * histogram, called from whole-stage codegen — zero shuffle, scan-side
    * streamable at any corpus size.
    *
    * Engine-exact contract (the [[graft.operators.Profiling.distributionDrift]]
    * nanonat trick): each byte value contributes the INTEGER term
    * `cnt * round(ln(cnt)·1e9)`, summed as longs — order-independent, so
    * partition layout and evaluation order can't perturb the result — and
    * the closing `(round(ln(n)·1e9) − sumNano/n) / 1e9` is a fixed IEEE
    * sequence DuckDB replays bit-for-bit from its own per-char counts
    * (the driver corpus is ASCII, so bytes = characters there).
    * Empty string → 0.0 by convention. */
  case class ByteEntropy(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_byte_entropy"

    override def nullSafeEval(input: Any): Any =
      ByteEntropy.entropy(input.asInstanceOf[UTF8String], new Array[Long](256))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val counts = ctx.addMutableState("long[]", "entropyCounts",
        v => s"$v = new long[256];")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(ByteEntropy)}.entropy($a, $counts);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object ByteEntropy {
    /** `counts` is the 256-slot scratch histogram, overwritten. */
    def entropy(text: UTF8String, counts: Array[Long]): Double = {
      val bytes = text.getBytes
      val n = bytes.length
      if (n == 0) return 0.0
      java.util.Arrays.fill(counts, 0L)
      var i = 0
      while (i < n) { counts(bytes(i) & 0xFF) += 1; i += 1 }
      var sumNano = 0L
      var b = 0
      while (b < 256) {
        val c = counts(b)
        if (c > 0) sumNano += c * Math.round(Math.log(c.toDouble) * 1e9)
        b += 1
      }
      (Math.round(Math.log(n.toDouble) * 1e9) - sumNano.toDouble / n) / 1e9
    }
  }

  /** Morton (Z-order) interleave of the low 32 bits of two long columns:
    * bit i of `left` lands at position 2i, bit i of `right` at 2i+1. The
    * space-filling-curve sort key behind `Sources.writeZOrdered` — rows
    * sorted by it cluster in BOTH dimensions, so min/max row-group stats
    * prune scans filtered on either column. Branch-free mask-cascade
    * spreading, called from whole-stage codegen. */
  case class Interleave64(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_interleave"

    override def nullSafeEval(a: Any, b: Any): Any =
      Interleave64.morton(a.asInstanceOf[Long], b.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = ${module(Interleave64)}.morton($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object Interleave64 {
    def spread(v0: Long): Long = {
      var v = v0 & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    def morton(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
  }

  /** 2-D Hilbert-curve index of two quantized long columns (the
    * classic xy2d walk, Warren/Wikipedia formulation): at each of
    * `bits` levels read one bit of each coordinate, accumulate the
    * quadrant's span, and rotate/reflect the frame. Unlike the Morton
    * interleave ([[Interleave64]]), CONSECUTIVE Hilbert indices are
    * always grid neighbors (Manhattan distance 1), so a run of indices
    * covers one connected blob — tighter per-file zone maps than
    * Z-order's quadrant jumps at the same sort cost.
    *
    * The rotation state is why this is a native expression and not a
    * column formula: as nested CASE columns the per-level frame rewrite
    * grows ~3× per level (CollapseProject inlines the chain), while
    * here it is one constant-size loop called from whole-stage codegen.
    * Inputs mask to the low `bits` bits (like [[Interleave64]] masks to
    * 32) — compose with `Layout.quantize`, which guarantees the domain. */
  case class HilbertD2(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression with ExpectsInputTypes {
    // validated HERE, not only in Layout.hilbertValue: the SQL surface
    // (graft_hilbert) constructs the expression directly, and bits = 0
    // would silently shift by -1 (Java shift masking) while bits > 31
    // would overflow s*s in the loop
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hilbert"

    override def nullSafeEval(a: Any, b: Any): Any =
      HilbertD2.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = ${module(HilbertD2)}.xy2d($a, $b, $bits);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object HilbertD2 {
    def xy2d(a: Long, b: Long, bits: Int): Long = {
      val mask = (1L << bits) - 1
      var x = a & mask; var y = b & mask
      var d = 0L
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3L * rx) ^ ry)
        if (ry == 0L) {
          if (rx == 1L) { x = s - 1L - x; y = s - 1L - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
  }

  /** A float-vector expression with an m·ksub-centroid codebook bound
    * in (j-major, code-minor): [[PqEncode]] and [[PqAdcTable]]. */
  sealed trait BoundCodebook extends UnaryExpression with ExpectsInputTypes {
    def m: Int
    def ksub: Int
    def cents: Seq[Seq[Float]]
    require(m > 0 && ksub > 0 && cents.length == m * ksub,
      s"codebook must hold m*ksub=${m * ksub} centroids")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def nullable: Boolean = true
    // the bound codebook would otherwise dump m*ksub float arrays into
    // every plan rendering
    override def toString: String =
      s"$prettyName($child, m=$m, ksub=$ksub, codebook=[bound])"
    @transient protected lazy val cArr: Array[Array[Float]] =
      cents.map(_.toArray).toArray
  }

  /** Product-quantization encode: for each of `m` subspaces of a
    * float-vector column, the argmin-squared-L2 code against a codebook
    * BOUND INTO the expression (j-major, code-minor flat layout; the
    * codebook is model state, codebook-sized, so it rides the expression
    * and generated code holds it as a reference). One tight loop per
    * row, no explode/join/window anywhere — the scan-shaped encode a
    * 10^11-vector corpus needs.
    *
    * Numeric contract: d2 = dot(sub,sub) − 2·dot(sub,cent) + dot(cent,cent)
    * with every dot accumulated in Double in index order ([[FloatDot]]'s
    * contract) and the subtraction/addition in that association — bit-
    * identical to the expression-tree formulation it replaces; ties keep
    * the LOWEST code (first minimum), matching a (d2 asc, code) sort.
    * A vector of the wrong length or holding a NULL element yields NULL. */
  case class PqEncode(child: Expression, m: Int, ksub: Int,
                      cents: Seq[Seq[Float]]) extends BoundCodebook {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_pq_encode"

    @transient private lazy val ccNorm: Array[Double] = cArr.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i).toDouble * c(i).toDouble; i += 1 }
      s
    }

    override def nullSafeEval(input: Any): Any =
      PqEncode.encode(input.asInstanceOf[ArrayData], cArr, ccNorm, m, ksub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("pqCents", cArr, "float[][]")
      val ccRef = ctx.addReferenceObj("pqCc", ccNorm, "double[]")
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ${module(PqEncode)}" +
        s".encode($a, $cRef, $ccRef, $m, $ksub); ${ev.isNull} = ${ev.value} == null;")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object PqEncode {
    /** Codes of `v` against the j-major codebook `cents` (with its
      * squared norms `ccNorm`), or null for a malformed vector. */
    def encode(v: ArrayData, cents: Array[Array[Float]], ccNorm: Array[Double],
               m: Int, ksub: Int): ArrayData = {
      val subdim = cents(0).length
      if (!wellFormed(v, m * subdim)) return null
      val out = new Array[Int](m)
      var j = 0
      while (j < m) {
        val off = j * subdim
        var ss = 0.0; var i = 0
        while (i < subdim) {
          val x = v.getFloat(off + i).toDouble; ss += x * x; i += 1
        }
        var best = 0.0; var bestC = -1; var c = 0
        while (c < ksub) {
          val cent = cents(j * ksub + c)
          var ip = 0.0; i = 0
          while (i < subdim) {
            ip += v.getFloat(off + i).toDouble * cent(i).toDouble; i += 1
          }
          val d2 = ss - 2.0 * ip + ccNorm(j * ksub + c)
          if (bestC < 0 || d2 < best) { best = d2; bestC = c }
          c += 1
        }
        out(j) = bestC; j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Per-query ADC lookup table against the same bound codebook:
    * table[j·ksub + c] = dot(subvector j, centroid (j,c)), Double-
    * accumulated in index order — the asymmetric-distance state one query
    * carries to every encoded corpus row. Same null/length semantics as
    * [[PqEncode]]. */
  case class PqAdcTable(child: Expression, m: Int, ksub: Int,
                        cents: Seq[Seq[Float]]) extends BoundCodebook {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_pq_adc_table"

    override def nullSafeEval(input: Any): Any =
      PqAdcTable.table(input.asInstanceOf[ArrayData], cArr, m, ksub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("pqCents", cArr, "float[][]")
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ${module(PqAdcTable)}" +
        s".table($a, $cRef, $m, $ksub); ${ev.isNull} = ${ev.value} == null;")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object PqAdcTable {
    /** The table of `v` against the j-major codebook `cents`, or null
      * for a malformed vector. */
    def table(v: ArrayData, cents: Array[Array[Float]], m: Int, ksub: Int): ArrayData = {
      val subdim = cents(0).length
      if (!wellFormed(v, m * subdim)) return null
      val out = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        val off = j * subdim
        var c = 0
        while (c < ksub) {
          val cent = cents(j * ksub + c)
          var ip = 0.0; var i = 0
          while (i < subdim) {
            ip += v.getFloat(off + i).toDouble * cent(i).toDouble; i += 1
          }
          out(j * ksub + c) = ip; c += 1
        }
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Top-`keep` centroid cells of a float-vector column by cosine
    * similarity, with the (cell id, centroid) table BOUND into the
    * expression (coarse quantizers are model state, nlist-sized). Output
    * is the cell ids ordered by (similarity desc, cell asc) — exactly the
    * `row_number over (sim desc, cell)` contract of the broadcast-join +
    * window formulation it replaces, scored by [[CosineSim]]'s own kernel
    * (Double, index order, min-length loop, no per-element null checks)
    * so assignments are unchanged. One tight loop
    * per row; no join, no window, no shuffle in the assignment pass. */
  case class TopCellsByCosine(child: Expression,
                              cells: Seq[(Long, Seq[Float])], keep: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(cells.nonEmpty && keep > 0)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_top_cells"

    override def toString: String =
      s"graft_top_cells($child, ncells=${cells.length}, keep=$keep, centroids=[bound])"

    @transient private lazy val sortedCells = cells.sortBy(_._1)
    @transient private lazy val ids: Array[Long] =
      sortedCells.map(_._1).toArray
    @transient private lazy val cArr: Array[ArrayData] =
      sortedCells.map(c => UnsafeArrayData.fromPrimitiveArray(c._2.toArray): ArrayData)
        .toArray
    private def keepN = math.min(keep, cells.length)

    override def nullSafeEval(input: Any): Any =
      TopCellsByCosine.top(input.asInstanceOf[ArrayData], ids, cArr, keepN)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("cellCents", cArr, s"${classOf[ArrayData].getName}[]")
      val idRef = ctx.addReferenceObj("cellIds", ids, "long[]")
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = " +
        s"${module(TopCellsByCosine)}.top($a, $idRef, $cRef, $keepN);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object TopCellsByCosine {
    /** The `keep` best of cells `ids` (centroids `cents`, id-sorted). */
    def top(v: ArrayData, ids: Array[Long], cents: Array[ArrayData],
            keep: Int): ArrayData = {
      val nc = cents.length
      val sims = new Array[Double](nc)
      var c = 0
      while (c < nc) { sims(c) = CosineSim.cosine(v, cents(c)); c += 1 }
      val out = new Array[Long](keep)
      val used = new Array[Boolean](nc)
      var r = 0
      while (r < keep) {
        var best = -1; c = 0
        while (c < nc) {
          if (!used(c) && (best < 0 || sims(c) > sims(best))) best = c
          c += 1
        }
        used(best) = true; out(r) = ids(best); r += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Block-pair outer products for the dimension covariance
    * ([[graft.operators.Similarity.embedCovariance]]): for every ordered
    * pair (bi ≤ bj) of b-wide dimension blocks, a struct (bi, bj,
    * xy[b²]) where xy[pi·b+pj] = floor(x[bi·b+pi]·x[bj·b+pj]·1e12) —
    * the outer product in integer picounits (floor of the identical
    * IEEE double is engine-portable; the long sum rides the compact
    * decimal fast path downstream). Positions past the row's dimension
    * are NULL. Picounit range is GUARDED, not silently saturated: a
    * non-finite product (NaN/Inf input) or |x·y| ≥ ~9.2e6 (entries
    * beyond ~3e3 on unit-scale embeddings) throws ArithmeticException,
    * matching the oracle's CAST(floor(·) AS BIGINT) raising in DuckDB —
    * the engines diverge loudly together instead of one returning a
    * wrapped covariance.
    *
    * One tight loop replaces a four-deep nested `transform` whose
    * interpreted evaluation (expression-tree walk per product) was the
    * dominant cost of the covariance scan — the d² multiplies per row
    * are irreducible, the per-element interpretation was not. Full
    * non-null blocks emit primitive long arrays (no boxing); only edge
    * blocks and null-holding rows take the boxed path. */
  case class CovBlockPairs(child: Expression, b: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(b >= 1 && b <= 64, s"block size in [1, 64], got $b")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("bi", IntegerType, nullable = false),
      StructField("bj", IntegerType, nullable = false),
      StructField("xy", ArrayType(LongType, containsNull = true), nullable = false))), containsNull = false)
    override def prettyName: String = "graft_cov_block_pairs"

    override def nullSafeEval(input: Any): Any =
      CovBlockPairs.pairs(input.asInstanceOf[ArrayData], b)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ${module(CovBlockPairs)}.pairs($a, $b);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object CovBlockPairs {
    // picounit product with the long range guarded (throws like the
    // DuckDB oracle's CAST instead of Scala toLong's silent saturation)
    @inline private def pico(x: Double, y: Double): Long = {
      val p = x * y * 1e12
      if (!java.lang.Double.isFinite(p) ||
          math.abs(p) >= 9.223372036854776e18)
        throw new ArithmeticException(
          s"graft_cov_block_pairs: picounit product $p exceeds long " +
            "range — embedding entries must keep |x*y| < ~9.2e6")
      math.floor(p).toLong
    }

    def pairs(v: ArrayData, b: Int): ArrayData = {
      val d = v.numElements()
      val nb = (d + b - 1) / b
      // hoist the floats (and their null mask) out of the O(d²) loop
      val xs = new Array[Double](d)
      val nulls = new Array[Boolean](d)
      var hasNull = false
      var i = 0
      while (i < d) {
        if (v.isNullAt(i)) { nulls(i) = true; hasNull = true }
        else xs(i) = v.getFloat(i).toDouble
        i += 1
      }
      val out = new Array[Any](nb * (nb + 1) / 2)
      var k = 0; var bi = 0
      while (bi < nb) {
        var bj = bi
        while (bj < nb) {
          val full = (bi + 1) * b <= d && (bj + 1) * b <= d
          val xy: ArrayData =
            if (full && !hasNull) {
              val a = new Array[Long](b * b)
              var pi = 0
              while (pi < b) {
                val x = xs(bi * b + pi); val base = pi * b
                var pj = 0
                while (pj < b) {
                  a(base + pj) = pico(x, xs(bj * b + pj))
                  pj += 1
                }
                pi += 1
              }
              UnsafeArrayData.fromPrimitiveArray(a)
            } else {
              val a = new Array[Any](b * b)
              var pi = 0
              while (pi < b) {
                val ii = bi * b + pi; val base = pi * b
                var pj = 0
                while (pj < b) {
                  val jj = bj * b + pj
                  if (ii < d && jj < d && !nulls(ii) && !nulls(jj))
                    a(base + pj) = java.lang.Long.valueOf(pico(xs(ii), xs(jj)))
                  pj += 1
                }
                pi += 1
              }
              new GenericArrayData(a)
            }
          out(k) = InternalRow(bi, bj, xy)
          k += 1; bj += 1
        }
        bi += 1
      }
      new GenericArrayData(out)
    }
  }

  /** ADC score of one encoded corpus row against one query table:
    * Σ_j table[j·ksub + codes[j]], summed j-ascending from 0.0 — the
    * same left fold as the `aggregate(zip_with(...))` HOF it replaces.
    * NULL when a code is NULL or points at a missing / NULL table slot. */
  case class PqAdcScore(left: Expression, right: Expression, ksub: Int)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(IntegerType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_adc_score"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val codes = a.asInstanceOf[ArrayData]; val table = b.asInstanceOf[ArrayData]
      if (PqAdcScore.isNull(codes, table, ksub)) null
      else PqAdcScore.score(codes, table, ksub)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.isNull} = ${module(PqAdcScore)}" +
        s".isNull($a, $b, $ksub); if (!${ev.isNull}) ${ev.value} = " +
        s"${module(PqAdcScore)}.score($a, $b, $ksub);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object PqAdcScore {
    def isNull(codes: ArrayData, table: ArrayData, ksub: Int): Boolean = {
      var j = 0
      while (j < codes.numElements()) {
        if (codes.isNullAt(j)) return true
        val idx = j * ksub + codes.getInt(j)
        if (idx < 0 || idx >= table.numElements() || table.isNullAt(idx))
          return true
        j += 1
      }
      false
    }

    /** The sum, where [[isNull]] is false. */
    def score(codes: ArrayData, table: ArrayData, ksub: Int): Double = {
      var s = 0.0; var j = 0
      while (j < codes.numElements()) {
        s += table.getDouble(j * ksub + codes.getInt(j)); j += 1
      }
      s
    }
  }

  // ---- Column-level API ----

  private def c(e: Expression): Column = ExprBridge.column(e)
  private def e(c: Column): Expression = ExprBridge.expression(c)

  def floatDot(a: Column, b: Column): Column = c(FloatDot(e(a), e(b)))

  def dotRound9(a: Column, b: Column): Column = c(DotRound9(e(a), e(b)))

  def simhash64(tokens: Column): Column = c(SimHash64(e(tokens)))

  def minhashSig(shingles: Column, numHashes: Int): Column =
    c(MinHashSig(e(shingles), numHashes))

  def cosineSim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))

  def shingleHash64(tokens: Column, n: Int): Column =
    c(ShingleHash64(e(tokens), n))

  def minhashFromHashes(hashes: Column, numHashes: Int): Column =
    c(MinHashFromHashes(e(hashes), numHashes))

  def bandHashes64(sig: Column, bands: Int, r: Int): Column =
    c(BandHashes64(e(sig), bands, r))

  def lshSign64(vec: Column, numPlanes: Int): Column =
    c(LshSign64(e(vec), numPlanes))

  def shingleStrings(tokens: Column, n: Int): Column =
    c(ShingleStrings(e(tokens), n))

  def polyHash(text: Column): Column = c(PolyHash(e(text)))

  def jaroWinkler(a: Column, b: Column): Column = c(JaroWinkler(e(a), e(b)))

  def byteEntropy(text: Column): Column = c(ByteEntropy(e(text)))

  def interleave64(a: Column, b: Column): Column = c(Interleave64(e(a), e(b)))

  def hilbertD2(a: Column, b: Column, bits: Int): Column =
    c(HilbertD2(e(a), e(b), bits))

  def pqEncode(vec: Column, m: Int, ksub: Int, cents: Seq[Seq[Float]]): Column =
    c(PqEncode(e(vec), m, ksub, cents))

  def pqAdcTable(vec: Column, m: Int, ksub: Int, cents: Seq[Seq[Float]]): Column =
    c(PqAdcTable(e(vec), m, ksub, cents))

  def pqAdcScore(codes: Column, table: Column, ksub: Int): Column =
    c(PqAdcScore(e(codes), e(table), ksub))

  def covBlockPairs(vec: Column, blockSize: Int): Column =
    c(CovBlockPairs(e(vec), blockSize))

  def topCellsByCosine(vec: Column, cells: Seq[(Long, Seq[Float])],
                       keep: Int): Column =
    c(TopCellsByCosine(e(vec), cells, keep))
}
