package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._

/** The shape the four binary array kernels share: two arrays of an accepted
  * element type in, one call to the static kernel `ArrayMath.<kernel>` out,
  * from both evaluation paths (`run` is that same kernel, for `nullSafeEval`).
  * The kernel gets the left/right float flags (which getter widens each side
  * to double) and the null-check flag, and returns a boxed result where
  * `null` is SQL NULL.
  *
  * Why custom expressions (SURVEY.md §2.7 extension surface): the
  * higher-order-function fold allocates an intermediate array and evaluates a
  * lambda per element per row; on an all-pairs similarity join (|V|² pairs ×
  * 64 dims) that interpretation cost dominates the whole benchmark. These
  * expressions stay inside whole-stage codegen: the generated code calls a
  * primitive loop over the two `ArrayData` with no allocation the JIT keeps
  * (escape analysis removes the box), as a first-class Catalyst operator that
  * composes with every other Spark expression.
  *
  * Semantics: length mismatch → NULL, a null element → NULL — exactly what
  * the `zip_with`/`aggregate` fold the kernels replace produces (`zip_with`
  * pads the shorter array with nulls, so any ragged pair folds to null; a
  * silent common-prefix sum would be a numeric result where the reference
  * computes NULL). Parquet list columns arrive as containsNull=true even
  * when no element is ever null, so the check is explicit rather than
  * rejected at type-check time; when BOTH inputs declare containsNull=false
  * the kernel skips the per-element null test entirely.
  */
abstract class ArrayPairKernel(
    kernel: String,
    run: (ArrayData, ArrayData, Boolean, Boolean, Boolean) => AnyRef,
    accepted: DataType*) extends BinaryExpression with Serializable {
  // Serializable so that Java deserialization of a task's plan restores the
  // constructor fields here instead of needing a no-argument constructor

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if accepted.contains(l) && accepted.contains(r) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ${accepted.map(t => s"array<${t.simpleString}>")
          .mkString("/")} inputs, got ${l.sql} and ${r.sql}")
    }

  // nullable regardless of child nullability: a ragged pair nulls the result
  // and array lengths are not statically known
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Either input may legally contain null elements (parquet default). */
  private def elementsNullable: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any =
    run(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right), elementsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => ArrayMath.storeOrNull(ctx, ev, dataType,
      s"$kernel($a, $b, ${isFloat(left)}, ${isFloat(right)}, $elementsNullable)"))
}

/** Native Catalyst dot product over two numeric arrays (`array<float>` or
  * `array<double>`), accumulating in double precision in ascending index
  * order — the exact fold `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * computes, and the exact fold the DuckDB oracle's
  * `list_sum(list_transform(...))` computes, so results are bit-comparable
  * across engines.
  */
case class DotProduct(left: Expression, right: Expression)
    extends ArrayPairKernel("dot", ArrayMath.dot, FloatType, DoubleType) {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: ONE primitive loop accumulates x·y, x·x and y·y
  * together, then combines as `dot / (sqrt(xx) * sqrt(yy))` — the identical
  * doubles the three-expression form (`dot(a,b) / (norm(a) * norm(b))`)
  * produces, in a third of the kernel work. On an all-pairs join the
  * unfused form runs three independent 64-element loops per pair; this is
  * the kernel-fusion a native engine applies, expressed as one Catalyst
  * expression. NULL on: null input, ragged pair, null element, zero norm
  * (the ANSI-safe zero-denominator contract of the unfused form). */
case class CosineSim(left: Expression, right: Expression)
    extends ArrayPairKernel("cosine", ArrayMath.cosine, FloatType, DoubleType) {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused squared-L2 distance: ONE primitive loop accumulating
  * `(x[i]-y[i])²` in ascending index order. For array<double> inputs (every
  * current call site, e.g. q126's centroid distances) this produces the
  * identical doubles the HOF form
  * `aggregate(zip_with(a, b, (p,q) => (p-q)*(p-q)), 0.0, _+_)` produces
  * (same subtract, same square, same left-fold add), and the identical
  * doubles DuckDB's `list_sum(list_transform(range(...), i ->
  * (v[i]-c[i])*(v[i]-c[i])))` produces, so distances stay bit-comparable
  * across engines. For array<float> pairs the bit-identity claim does NOT
  * extend to the float-typed zip_with fold: zip_with subtracts and squares
  * in FLOAT precision before widening, while this kernel widens each
  * element to double first (the more accurate choice, and the one that
  * matches DuckDB's double-lambda evaluation — which is why the kernel
  * widens rather than mimicking float rounding). On nearest-centroid classification the unfused HOF
  * form allocates an intermediate array and interprets a lambda per
  * element per (vector × centroid) pair; this keeps the kernel inside
  * whole-stage codegen. NULL on: null input, ragged pair, null element —
  * the zip_with contract. */
case class SquaredL2(left: Expression, right: Expression)
    extends ArrayPairKernel("squaredL2", ArrayMath.squaredL2, FloatType, DoubleType) {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sql2"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst INT8 dot product over two `array<tinyint>` code columns,
  * accumulating in a 64-bit integer — the int8 GEMM/ADC microkernel shape
  * (quantized similarity search reads 4× less memory per vector than
  * float32, and at 100 TB the scan is memory-bandwidth-bound, so the
  * quantized path's speedup is the bandwidth ratio). The EXACT integer
  * accumulation is the point: unlike the float kernels above there is no
  * summation-order hazard at all — any engine computing Σ aᵢ·bᵢ over the
  * same codes produces the same BIGINT, so quantized rankings are
  * bit-stable across engines, partitionings and retries. Scaling back to
  * an approximate float dot (scale_a·scale_b·Σ) is left to plain column
  * arithmetic outside the kernel. Null semantics match [[DotProduct]].
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends ArrayPairKernel("quantDot", ArrayMath.quantDot, ByteType) {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused symmetric int8 quantizer: ONE primitive pass computes the
  * per-vector scale (max|x| / 127) and the code array
  * round-half-away-from-zero(x / scale) — the exact values the unfused
  * two-projection form (`array_max(transform(x, abs))` then
  * `transform(x, round(x / scale, 0))`) produces, in one kernel call
  * instead of three interpreted higher-order-function passes plus a
  * per-element `BigDecimal` round (Spark's `round` on DoubleType routes
  * every element through `BigDecimal.setScale(0, HALF_UP)`; on a corpus
  * scan that allocation dominates the quantization).
  *
  * Rounding equivalence (why the primitive branch in
  * [[ArrayMath.int8Codes]] IS `HALF_UP`):
  * `BigDecimal(q).setScale(0, HALF_UP)` rounds the EXACT decimal value of
  * the double `q` away from zero iff its fractional part ≥ 0.5 — and for
  * `a = |q|`, `a - floor(a)` is exact in double arithmetic (floor(a) is
  * representable; for a ≥ 1 Sterbenz's lemma applies since
  * floor(a) ≤ a < 2·floor(a) + 1, for a < 1 the subtraction is by zero),
  * so `(a - floor(a) >= 0.5 ? floor(a)+1 : floor(a))` with the sign
  * restored is bit-equivalent, with no allocation. DuckDB's `round()` on
  * DOUBLE is the same half-away-from-zero on the same exact value, which
  * is what keeps the q297/q323 oracles FULL-hash green.
  *
  * NULL semantics: null input → NULL; all-zero (or empty) vector → NULL —
  * the callers' `WHERE scale > 0` guard, fused. Any NaN element NULLs the
  * row too: the scan tests `a != a` per element and bails to NULL on the
  * spot — matching the unfused form, where Spark's `array_max` treats NaN
  * as greater than every value, so scale becomes NaN and the `scale > 0`
  * guard dropped the row (ADVICE r14). The first cut used a
  * NaN-propagating compare (`!(a <= mx)`) instead, but that max is not
  * sticky — once mx is NaN, `!(finite <= NaN)` is also true, so a LATER
  * finite element overwrote the NaN and `[NaN, 5.0]` quantized with the
  * NaN element casting to byte 0 (ADVICE r15); the direct per-element
  * test has no such state to lose. A null ELEMENT nulls the
  * whole result like the kernels above (the unfused form would emit a
  * null element inside the code array instead; the corpus carries no null
  * elements, and one NULL contract across the kernel family beats two).
  * Codes cannot wrap the byte cast: for NORMAL scales |q| ≤
  * 127·(1 + ~2⁻⁵²) so no rounded code reaches ±128, and for the one
  * escape — a SUBNORMAL scale, where `mx / 127.0` can round down with
  * unbounded relative error (e.g. mx = 255·Double.MinValue gives
  * q = 127.5 → round 128) — the rounded magnitude is clamped to 127
  * (ADVICE r14; unreachable with realistic embeddings, but the invariant
  * now holds unconditionally rather than by corpus luck). */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float>/array<double> input, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_int8q"
  override def nullable: Boolean = true

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def elementsNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(input: Any): Any =
    ArrayMath.int8Codes(input.asInstanceOf[ArrayData], isFloat, elementsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => ArrayMath.storeOrNull(ctx, ev, dataType,
      s"int8Codes($a, $isFloat, $elementsNullable)"))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API over the custom expressions, and the static kernels
  * both evaluation paths of each expression call. Every kernel accumulates
  * in ascending index order, widens float elements to double before any
  * arithmetic, and returns `null` for SQL NULL. */
object ArrayMath {

  /** Elementwise dot product in double precision (codegen'd). */
  def dot(a: Column, b: Column): Column =
    GraftSql.column(DotProduct(GraftSql.expression(a), GraftSql.expression(b)))

  /** L2 norm = sqrt(self dot product), same fold order as the HOF form. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, null on zero norm (ANSI-safe) — the fused
    * single-loop kernel; bit-identical to dot/(norm*norm). */
  def cosine(a: Column, b: Column): Column =
    GraftSql.column(CosineSim(GraftSql.expression(a), GraftSql.expression(b)))

  /** Squared L2 distance (codegen'd), bit-identical to the
    * `aggregate(zip_with(...))` fold it replaces. */
  def squaredL2(a: Column, b: Column): Column =
    GraftSql.column(SquaredL2(GraftSql.expression(a), GraftSql.expression(b)))

  /** Exact int8 dot product over code arrays (codegen'd, BIGINT — no
    * float summation-order hazard; see [[QuantizedDot]]). */
  def quantDot(a: Column, b: Column): Column =
    GraftSql.column(QuantizedDot(GraftSql.expression(a), GraftSql.expression(b)))

  /** Fused symmetric int8 quantization (codegen'd): per-vector scale
    * max|x|/127 and half-away-from-zero codes in one pass; NULL on an
    * all-zero vector (the `scale > 0` guard, fused). Value-identical to
    * the unfused array_max/transform/round form — see [[Int8Quantize]]. */
  def int8Codes(a: Column): Column =
    GraftSql.column(Int8Quantize(GraftSql.expression(a)))

  /** Generated code storing the boxed result of `call` (a kernel of this
    * object) into `ev`, null meaning SQL NULL. */
  private[functions] def storeOrNull(ctx: CodegenContext, ev: ExprCode,
      dataType: DataType, call: String): String = {
    val r = ctx.freshName("r")
    s"""
       |${CodeGenerator.boxedType(dataType)} $r = ${getClass.getName.stripSuffix("$")}.$call;
       |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
     """.stripMargin
  }

  // One kernel serves every call site, so over a JVM's life the JIT sees
  // every ArrayData class at its element reads (UnsafeArrayData,
  // ColumnarArray, GenericArrayData), and a virtual call per element costs
  // more than the arithmetic. Testing for the final class UnsafeArrayData
  // (every array read out of a shuffle, a broadcast or a cache) keeps that
  // read a direct call; without it q33–q35 ran 0.14–0.50 s slower at sf0.1
  // (BENCH_NOTES "One body per vector kernel").
  private def at(a: ArrayData, i: Int, float: Boolean): Double = a match {
    case u: UnsafeArrayData => if (float) u.getFloat(i).toDouble else u.getDouble(i)
    case _ => if (float) a.getFloat(i).toDouble else a.getDouble(i)
  }

  private def nullAt(a: ArrayData, i: Int): Boolean = a match {
    case u: UnsafeArrayData => u.isNullAt(i)
    case _ => a.isNullAt(i)
  }

  private def byteAt(a: ArrayData, i: Int): Long = a match {
    case u: UnsafeArrayData => u.getByte(i).toLong
    case _ => a.getByte(i).toLong
  }

  /** Σ x[i]·y[i]; null on a ragged pair or (when `checkNulls`) a null
    * element. */
  def dot(x: ArrayData, y: ArrayData, leftFloat: Boolean, rightFloat: Boolean,
      checkNulls: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (nullAt(x, i) || nullAt(y, i))) return null
      s += at(x, i, leftFloat) * at(y, i, rightFloat)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** x·y / (‖x‖·‖y‖) from one loop; null as [[dot]], and on a zero norm. */
  def cosine(x: ArrayData, y: ArrayData, leftFloat: Boolean,
      rightFloat: Boolean, checkNulls: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (nullAt(x, i) || nullAt(y, i))) return null
      val xv = at(x, i, leftFloat)
      val yv = at(y, i, rightFloat)
      s += xv * yv; xx += xv * xv; yy += yv * yv
      i += 1
    }
    val denom = math.sqrt(xx) * math.sqrt(yy)
    if (denom == 0.0) null else java.lang.Double.valueOf(s / denom)
  }

  /** Σ (x[i]-y[i])²; null as [[dot]]. */
  def squaredL2(x: ArrayData, y: ArrayData, leftFloat: Boolean,
      rightFloat: Boolean, checkNulls: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (nullAt(x, i) || nullAt(y, i))) return null
      val d = at(x, i, leftFloat) - at(y, i, rightFloat)
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Exact Σ x[i]·y[i] over byte codes in a long; null as [[dot]]. The
    * float flags take the shared kernel signature and are always false
    * here: the elements are bytes. */
  def quantDot(x: ArrayData, y: ArrayData, leftFloat: Boolean,
      rightFloat: Boolean, checkNulls: Boolean): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (checkNulls && (nullAt(x, i) || nullAt(y, i))) return null
      s += byteAt(x, i) * byteAt(y, i)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** Symmetric int8 codes of `x` (see [[Int8Quantize]]): null on a null
    * element (when `checkNulls`), a NaN element, or a zero scale. */
  def int8Codes(x: ArrayData, float: Boolean, checkNulls: Boolean): ArrayData = {
    val n = x.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && nullAt(x, i)) return null
      val a = math.abs(at(x, i, float))
      if (a != a) return null // NaN element: NULL immediately (ADVICE r15)
      if (a > mx) mx = a
      i += 1
    }
    val scale = mx / 127.0
    if (!(scale > 0)) return null
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      val q = at(x, i, float) / scale
      val a = math.abs(q)
      val f = math.floor(a)
      val r0 = if (a - f >= 0.5) f + 1.0 else f
      val r = if (r0 > 127.0) 127.0 else r0 // subnormal-scale wrap guard
      out(i) = (if (q < 0) -r else r).toByte
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
