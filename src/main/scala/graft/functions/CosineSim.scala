package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two embedding arrays as ONE native Catalyst
  * expression with `doGenCode` — the hot scalar of every ANN operator
  * (brute-force top-k, LSH bucket rescoring, IVF assignment).
  *
  * Why native: the composable form (`aggregate(zip_with(...))` +
  * two `aggregate(transform(...))` norms) is built from higher-order
  * functions, which are `CodegenFallback` in Spark — each row pays
  * interpreted eval plus three intermediate arrays, OUTSIDE whole-stage
  * codegen. This expression fuses dot product and both norms into one
  * allocation-free loop inside the generated code. At 100 TB the cosine
  * runs per candidate pair — this is the engine's innermost loop.
  *
  * Numerics are BIT-IDENTICAL to the higher-order form (and so to the
  * DuckDB oracles): each accumulator sums left-to-right in doubles, and
  * interleaving independent accumulators does not change IEEE results
  * per accumulator. Null/shape semantics also match: NULL input, a
  * length mismatch (zip_with's null padding), or a NULL element all
  * yield NULL.
  *
  * Exposed through the function registry as `cosine_sim` (Spark 4 keeps
  * Expression→Column bridging private; the registry + `Column.fn` path
  * is public and also serves `spark.sql` users), with the higher-order
  * form as its numerics reference — see
  * [[graft.operators.VectorMath.cosineHof]].
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires ARRAY<FLOAT|DOUBLE> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  private def get(arr: ArrayData, i: Int, dt: DataType): Double = dt match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lt = elemType(left.dataType).get
    val rt = elemType(right.dataType).get
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = get(x, i, lt)
      val yi = get(y, i, rt)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (java.lang.Math.sqrt(nx) * java.lang.Math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(arr: String, idx: String, dt: DataType): String = dt match {
        case FloatType => s"(double) $arr.getFloat($idx)"
        case _ => s"$arr.getDouble($idx)"
      }
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val lt = elemType(left.dataType).get
      val rt = elemType(right.dataType).get
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  double $nx = 0.0;
         |  double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xi = ${getter(a, i, lt)};
         |    final double $yi = ${getter(b, i, rt)};
         |    $dot += $xi * $yi;
         |    $nx += $xi * $xi;
         |    $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
