package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** IVF coarse-assignment kernels.
  *
  * Why native: the composable assignment is a `least` fold over C
  * `struct(-round(cosine_sim(x, ceₖ), 6), idₖ)` branches plus a C-branch
  * CASE chain for the centroid lookup. At the round-12 corpus-scaled
  * geometry (C = clamp(8, 64, ⌊√n⌋)) that per-query expression tree grew
  * ~5×, and the measured cost of the no-index encode pass went
  * 0.2 → 1.4 s at sf0.1 — all of it plan/codegen overhead, none of it
  * data (the same work over a pre-assigned frame costs 0.1 s). These
  * kernels collapse the whole fold into ONE expression each, with the
  * centroid matrix riding into generated code as a reference object —
  * the [[PqKernels]] shape, and the shape that still works when C is
  * thousands (a literal fold would not).
  *
  * Numerics are REPLICA-EXACT against the composable forms (asserted in
  * tests; the DuckDB oracle hashes are the second lock): per centroid,
  * cosine = [[CosineSim]]'s summation order, rounded to 6 decimals
  * exactly as Spark's `round` rounds doubles (BigDecimal.valueOf /
  * HALF_UP, NaN/∞ passthrough), negated, then the running best is
  * selected by Spark's double ordering (NaN greatest, -0.0 < 0.0) with
  * the lowest-cent_id tie-break — bit-for-bit the `least`-over-structs
  * selection.
  */
object IvfKernels {

  /** Spark's `round(x, 6)` for doubles, exactly (RoundBase:
    * scala.math.BigDecimal(d) routes through java.math
    * .BigDecimal.valueOf, HALF_UP, NaN/infinite pass through). */
  def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's nan-safe double ordering (NaN == NaN, NaN greatest,
    * otherwise `java.lang.Double.compare` — so -0.0 < 0.0). */
  private def cmp(x: Double, y: Double): Int =
    if (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y)) 0
    else if (java.lang.Double.isNaN(x)) 1
    else if (java.lang.Double.isNaN(y)) -1
    else java.lang.Double.compare(x, y)

  /** Assignment: returns `(nc, cid)` as an InternalRow — `nc` = the
    * NEGATED rounded cosine to the winning centroid, `cid` = its id;
    * null on a null element or a dimension mismatch (the composable
    * fold agrees: it gates the whole struct on the first centroid's
    * cosine nullity, which fires on exactly these inputs — ungated,
    * `least` over null-nc structs would elect the lowest cid
    * instead). */
  def assign(xa: ArrayData, ids: Array[Long], cents: Array[Double],
      isFloat: Boolean): InternalRow = {
    val n = xa.numElements()
    val c = ids.length
    if (c == 0 || cents.length != c * n) return null
    var bestNc = 0.0
    var bestId = 0L
    var have = false
    var k = 0
    while (k < c) {
      var dot = 0.0
      var nx = 0.0
      var ny = 0.0
      var i = 0
      while (i < n) {
        if (xa.isNullAt(i)) return null
        val xi = if (isFloat) xa.getFloat(i).toDouble else xa.getDouble(i)
        val yi = cents(k * n + i)
        dot += xi * yi
        nx += xi * xi
        ny += yi * yi
        i += 1
      }
      val nc = -round6(dot / (java.lang.Math.sqrt(nx) * java.lang.Math.sqrt(ny)))
      val c0 = if (have) cmp(nc, bestNc) else -1
      if (c0 < 0 || (c0 == 0 && ids(k) < bestId)) {
        bestNc = nc
        bestId = ids(k)
        have = true
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](bestNc, bestId))
  }

  /** Centroid lookup: the winning cell's centroid VECTOR, or null when
    * the id is not in the index (the CASE chain's no-match null). */
  def centroid(cid: Long, ids: Array[Long], cents: Array[Double]): ArrayData = {
    val c = ids.length
    if (c == 0) return null
    val n = cents.length / c
    var k = 0
    while (k < c) {
      if (ids(k) == cid) {
        val out = new Array[Double](n)
        System.arraycopy(cents, k * n, out, 0, n)
        return new GenericArrayData(out)
      }
      k += 1
    }
    null
  }

  private[functions] def checkIndex(name: String, ids: Expression,
      cents: Expression): Option[TypeCheckResult] =
    if (ids.dataType != ArrayType(LongType, containsNull = false) &&
        ids.dataType != ArrayType(LongType, containsNull = true))
      Some(TypeCheckResult.TypeCheckFailure(
        s"$name requires an ARRAY<BIGINT> centroid-id list, got ${ids.dataType.catalogString}"))
    else if (cents.dataType != ArrayType(DoubleType, containsNull = false) &&
        cents.dataType != ArrayType(DoubleType, containsNull = true))
      Some(TypeCheckResult.TypeCheckFailure(
        s"$name requires an ARRAY<DOUBLE> flattened centroid matrix, got ${cents.dataType.catalogString}"))
    else if (!ids.foldable || !cents.foldable)
      Some(TypeCheckResult.TypeCheckFailure(s"$name requires literal centroid index arguments"))
    else (ids.eval(), cents.eval()) match {
      case (null, _) | (_, null) =>
        Some(TypeCheckResult.TypeCheckFailure(s"$name: centroid index must be non-null"))
      case (i: ArrayData, m: ArrayData)
          if i.numElements() == 0 || m.numElements() % i.numElements() != 0 =>
        Some(TypeCheckResult.TypeCheckFailure(
          s"$name: centroid matrix length ${m.numElements()} is not a positive " +
            s"multiple of the ${i.numElements()} ids"))
      case _ => None
    }
}

/** `ivf_assign(x, centIds, centsFlat)` → `STRUCT<nc: DOUBLE, cid: BIGINT>`
  * — the argmax-cosine cell assignment with the lowest-id tie-break. */
case class IvfAssign(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("nc", DoubleType, nullable = false),
    StructField("cid", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_assign"

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqKernels.elemType(first.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"ivf_assign requires ARRAY<FLOAT|DOUBLE> input, got ${first.dataType.catalogString}")
    else IvfKernels.checkIndex("ivf_assign", second, third)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val idsArr: Array[Long] =
    second.eval().asInstanceOf[ArrayData].toLongArray()
  private lazy val centsArr: Array[Double] =
    third.eval().asInstanceOf[ArrayData].toDoubleArray()
  private def isFloat: Boolean =
    PqKernels.elemType(first.dataType).contains(org.apache.spark.sql.types.FloatType)

  override def nullSafeEval(x: Any, i: Any, c: Any): Any =
    IvfKernels.assign(x.asInstanceOf[ArrayData], idsArr, centsArr, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ivfIds", idsArr, "long[]")
    val centsRef = ctx.addReferenceObj("ivfCents", centsArr, "double[]")
    nullSafeCodeGen(ctx, ev, (x, _, _) =>
      s"""
         |${ev.value} = graft.functions.IvfKernels$$.MODULE$$.assign(
         |  $x, $idsRef, $centsRef, $isFloat);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): IvfAssign = copy(f, s, t)
}

/** `ivf_centroid(cid, centIds, centsFlat)` → `ARRAY<DOUBLE>` — the
  * centroid vector for a cell-id column (null when not in the index,
  * like the CASE chain it replaces). */
case class IvfCentroid(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"ivf_centroid requires a BIGINT cell id, got ${first.dataType.catalogString}")
    else IvfKernels.checkIndex("ivf_centroid", second, third)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val idsArr: Array[Long] =
    second.eval().asInstanceOf[ArrayData].toLongArray()
  private lazy val centsArr: Array[Double] =
    third.eval().asInstanceOf[ArrayData].toDoubleArray()

  override def nullSafeEval(cid: Any, i: Any, c: Any): Any =
    IvfKernels.centroid(cid.asInstanceOf[Long], idsArr, centsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ivfIds", idsArr, "long[]")
    val centsRef = ctx.addReferenceObj("ivfCents", centsArr, "double[]")
    nullSafeCodeGen(ctx, ev, (cid, _, _) =>
      s"""
         |${ev.value} = graft.functions.IvfKernels$$.MODULE$$.centroid(
         |  $cid, $idsRef, $centsRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): IvfCentroid = copy(f, s, t)
}
