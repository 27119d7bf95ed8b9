package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Random-hyperplane sign bucket of an embedding, fused into ONE native
  * expression: bit j = [Σ_i w(i,j)·v_i > 0] with the engine's
  * deterministic integer weights `w(i,j) = (i·31 + j·17) mod 13 − 6`,
  * bucket = Σ bit_j · 2^j (see [[graft.operators.SimilarityOps]]).
  *
  * Why native: the composable form evaluates `numPlanes` separate
  * `aggregate(zip_with(...))` chains per row — higher-order functions
  * are `CodegenFallback`, so a 16-plane bucket costs 16 interpreted
  * folds and 32 intermediate arrays per vector, outside whole-stage
  * codegen. This expression computes all planes in one generated
  * dim×planes loop with zero allocations. Bucket assignment runs once
  * per corpus vector — at 100 TB, that is the scan's per-row cost.
  *
  * Numerics are bit-identical to the higher-order form: each plane's
  * projection sums left-to-right in doubles. Null semantics mirror it
  * too: a NULL array or NULL element makes every plane's projection
  * NULL, whose `when(proj > 0, …).otherwise(0)` contributes 0 — so the
  * caller wraps in `coalesce(lsh_bucket(…), 0)` (the expression itself
  * yields NULL then, per normal expression conventions).
  */
case class LshBucket(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "lsh_bucket"

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"lsh_bucket requires ARRAY<FLOAT|DOUBLE> input, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "lsh_bucket requires a literal INT plane count")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(a: Any, p: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val planes = p.asInstanceOf[Int]
    val lt = elemType(left.dataType).get
    val n = x.numElements()
    var bucket = 0L
    var j = 0
    while (j < planes) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) return null
        val xi = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
        acc += ((i * 31 + j * 17) % 13 - 6).toDouble * xi
        i += 1
      }
      // Spark SQL orders NaN above every value, so the reference form's
      // `proj > 0` is TRUE for a NaN projection — mirror it exactly
      if (acc > 0 || java.lang.Double.isNaN(acc)) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, p) => {
      val lt = elemType(left.dataType).get
      val getter =
        if (lt == FloatType) (s: String) => s"(double) $a.getFloat($s)"
        else (s: String) => s"$a.getDouble($s)"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val bucket = ctx.freshName("bucket")
      s"""
         |final int $n = $a.numElements();
         |long $bucket = 0L;
         |for (int $j = 0; $j < $p && !${ev.isNull}; $j++) {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) (($i * 31 + $j * 17) % 13 - 6) * ${getter(i)};
         |  }
         |  if ($acc > 0 || java.lang.Double.isNaN($acc)) $bucket |= 1L << $j;
         |}
         |if (!${ev.isNull}) ${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBucket =
    copy(left = newLeft, right = newRight)
}
