package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Product-quantization kernels (PQ8x8 geometry — 8 subspaces × 256
  * codes, 8 bits per code, the FAISS-default code width; round 12
  * doubled the subspace count from the round-11 PQ4x8 at the same
  * per-subspace width — 64-bit codes, double the bit budget per vector,
  * measured to close most of the ADC-vs-flat recall gap; the round-11
  * widening history: 8×16/4-bit → 4×256/8-bit — see
  * [[graft.operators.SimilarityOps]]).
  *
  * Why native: the composable encode evaluates 8×256 = 2048 separate
  * `aggregate(zip_with(slice(...)))` chains per row — higher-order
  * functions are `CodegenFallback`, so each corpus vector pays 1024
  * interpreted folds and as many intermediate arrays (the 128-fold
  * 4-bit predecessor already measured 2.4 s for 2000 rows). These
  * kernels run the whole dim×codes distance loop in one code-resident
  * pass. Encoding runs once per corpus vector — at 10^10 vectors this
  * is the scan's per-row cost, so the constant matters.
  *
  * Numerics are bit-identical to the higher-order forms: per-subspace
  * squared-L2 accumulates left-to-right in doubles (floats widened
  * exactly first), argmin keeps the FIRST minimal code (strict `<`,
  * mirroring `array_position`'s first-match on `array_min`), and the
  * ADC sum accumulates in subspace order. No rounding anywhere — the
  * oracle mirrors the same folds raw (see the SimilarityOps note).
  *
  * The codebook argument is the FLATTENED `[code][dim]` literal
  * (256×dim doubles). It must be foldable: both kernels extract the
  * primitive array once at plan construction and embed it as an object
  * reference in generated code, so per-row work never touches
  * `ArrayData` for the codebook.
  */
object PqKernels {
  /** PQ8x8: subspace and code-count geometry shared by both kernels and
    * the operator layer. CodeBits per subspace code — 8 subspaces × 8
    * bits = a 64-bit packed code, returned as an exact BIGINT struct
    * field (subspace 7 occupies the sign byte, so codes with its high
    * bit set pack NEGATIVE under two's complement — the same silent
    * Long wrap the Scala shift performs; the oracle mirrors it through
    * a HUGEINT sum wrapped back into signed 64). */
  val Subs = 8
  val Codes = 256
  val CodeBits = 8

  private[functions] def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  private[functions] def checkCodebook(name: String, cb: Expression): Option[TypeCheckResult] =
    if (cb.dataType != ArrayType(DoubleType, containsNull = false) &&
        cb.dataType != ArrayType(DoubleType, containsNull = true))
      Some(TypeCheckResult.TypeCheckFailure(
        s"$name requires an ARRAY<DOUBLE> codebook, got ${cb.dataType.catalogString}"))
    else if (!cb.foldable)
      Some(TypeCheckResult.TypeCheckFailure(s"$name requires a literal codebook"))
    else cb.eval() match {
      case null => Some(TypeCheckResult.TypeCheckFailure(s"$name: codebook must be non-null"))
      case a: ArrayData if a.numElements() % (Subs * Codes) != 0 || a.numElements() == 0 =>
        Some(TypeCheckResult.TypeCheckFailure(
          s"$name: flattened codebook length ${a.numElements()} is not a positive " +
            s"multiple of Subs×Codes = ${Subs * Codes}"))
      case _ => None
    }

  /** Per-subspace argmin scan shared by encode and ADC: returns the
    * squared-L2 between subspace `s` of `x` and codebook row `c` — the
    * identical sequential fold the HOF reference form runs. Returns NaN
    * only if the inputs contain NaN (fixture-clean). */
  @inline private def subDist(x: Array[Double], cb: Array[Double],
      dim: Int, subDim: Int, s: Int, c: Int): Double = {
    var acc = 0.0
    var i = 0
    val xOff = s * subDim
    val cOff = c * dim + s * subDim
    while (i < subDim) {
      val d = x(xOff + i) - cb(cOff + i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Widen an ArrayData of float/double to a primitive double[]; null
    * element → null result (the HOF forms' null-element behavior differs
    * — array_min skips nulls — but embeddings carry none; the kernel
    * makes the whole result NULL loudly rather than diverge silently). */
  private def widen(x: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      out(i) = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
    out
  }

  /** Encode: returns `(code, mseSum)` as an InternalRow —
    * `code` = the 8 argmin codes packed 8 bits each into one BIGINT
    * (64-bit codes no longer fit a double exactly past 2^53, so the
    * round-11 2-element double array had to become a struct), `mseSum`
    * = the sum of the 8 minimal subspace distances (caller divides by
    * dim). Null on null input element. */
  def encode(xa: ArrayData, cb: Array[Double],
      isFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val x = widen(xa, isFloat)
    if (x == null) return null
    val dim = x.length
    require(dim % Subs == 0 && cb.length == Codes * dim,
      s"pq_enc: dim=$dim must be a multiple of $Subs with codebook ${Codes}×dim=${cb.length}")
    val subDim = dim / Subs
    var code = 0L
    var mseSum = 0.0
    var s = 0
    while (s < Subs) {
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < Codes) {
        val d = subDist(x, cb, dim, subDim, s, c)
        if (d < best) { best = d; bestC = c } // strict < keeps the FIRST min
        c += 1
      }
      code |= bestC.toLong << (CodeBits * s)
      mseSum += best
      s += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](code, mseSum))
  }

  /** Asymmetric distance: Σ_s ‖query_sub(s) − codebook[code_s]_sub(s)‖²
    * with `code_s` unpacked from the 8-bit packed code. Boxed so codegen
    * can propagate a null input element. */
  def adc(qa: ArrayData, code: Long, cb: Array[Double], isFloat: Boolean): java.lang.Double = {
    val q = widen(qa, isFloat)
    if (q == null) return null
    val dim = q.length
    require(dim % Subs == 0 && cb.length == Codes * dim,
      s"pq_adc: dim=$dim must be a multiple of $Subs with codebook ${Codes}×dim=${cb.length}")
    val subDim = dim / Subs
    var acc = 0.0
    var s = 0
    while (s < Subs) {
      val c = ((code >> (CodeBits * s)) & (Codes - 1L)).toInt
      acc += subDist(q, cb, dim, subDim, s, c)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** `pq_enc(x, codebookFlat)` → `STRUCT<code: BIGINT, mse: DOUBLE>`
  * (`mse` is the SUM of per-subspace minimal distances — callers
  * divide by dim). */
case class PqEnc(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("code", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("mse", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "pq_enc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqKernels.elemType(left.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"pq_enc requires ARRAY<FLOAT|DOUBLE> input, got ${left.dataType.catalogString}")
    else PqKernels.checkCodebook("pq_enc", right)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val cbFlat: Array[Double] =
    right.eval().asInstanceOf[ArrayData].toDoubleArray()
  private def isFloat: Boolean =
    PqKernels.elemType(left.dataType).contains(FloatType)

  override def nullSafeEval(a: Any, c: Any): Any =
    PqKernels.encode(a.asInstanceOf[ArrayData], cbFlat, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cbFlat, "double[]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"""
         |${ev.value} = graft.functions.PqKernels$$.MODULE$$.encode($a, $cbRef, $isFloat);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEnc =
    copy(left = newLeft, right = newRight)
}

/** `pq_adc(query, pqCode, codebookFlat)` → `DOUBLE` asymmetric distance. */
case class PqAdc(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqKernels.elemType(first.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires ARRAY<FLOAT|DOUBLE> query, got ${first.dataType.catalogString}")
    else if (second.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires a BIGINT code, got ${second.dataType.catalogString}")
    else PqKernels.checkCodebook("pq_adc", third)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val cbFlat: Array[Double] =
    third.eval().asInstanceOf[ArrayData].toDoubleArray()
  private def isFloat: Boolean =
    PqKernels.elemType(first.dataType).contains(FloatType)

  override def nullSafeEval(q: Any, code: Any, c: Any): Any =
    PqKernels.adc(q.asInstanceOf[ArrayData], code.asInstanceOf[Long], cbFlat, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cbFlat, "double[]")
    val boxed = ctx.freshName("boxed")
    nullSafeCodeGen(ctx, ev, (q, code, _) =>
      s"""
         |java.lang.Double $boxed =
         |  graft.functions.PqKernels$$.MODULE$$.adc($q, $code, $cbRef, $isFloat);
         |${ev.isNull} = $boxed == null;
         |if (!${ev.isNull}) ${ev.value} = $boxed.doubleValue();
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqAdc =
    copy(first = newFirst, second = newSecond, third = newThird)
}
