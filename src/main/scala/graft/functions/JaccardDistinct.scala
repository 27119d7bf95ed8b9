package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Set Jaccard of two string arrays as one native expression:
  * `jaccard_distinct(a, b)` ≡
  * `size(array_intersect(a, b)) / CAST(size(array_distinct(concat(a, b))) AS DOUBLE)`
  * — the per-pair verification arithmetic of
  * [[graft.operators.DedupOps.docNgramJaccard]] and
  * [[graft.operators.DedupOps.docLshVerifiedDups]].
  *
  * Why native: the composable form materializes THREE intermediate
  * arrays per pair (intersection, concatenation, dedup of the
  * concatenation), each with its own hash structure, and a capped bucket
  * enumerates up to ~131k pairs — per-pair allocation is the verify
  * stage's whole cost. This expression runs one pass: hash side `a`,
  * scan side `b` once counting distinct-matches and distinct-misses;
  * |∩| and |∪| fall out with zero intermediate arrays.
  *
  * Exact general semantics, not a distinct-input shortcut: duplicate
  * elements within a side collapse (set semantics, as array_intersect /
  * array_distinct define), and NULL elements count as one shared value
  * when present on both sides — bit-identical to the composable form on
  * any input with a non-empty union, asserted by the equivalence test.
  * The one divergence: 0/0 (two empty arrays) is NaN — the kernel is
  * TOTAL, where the ANSI double division would raise DIVIDE_BY_ZERO;
  * both call sites filter to ≥3 tokens, so neither form ever sees it.
  */
case class JaccardDistinct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "jaccard_distinct"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"jaccard_distinct requires (ARRAY<STRING>, ARRAY<STRING>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardDistinct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaccardDistinct$$.MODULE$$.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardDistinct =
    copy(left = newLeft, right = newRight)
}

object JaccardDistinct {

  def compute(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var aHasNull = false
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (a.isNullAt(i)) aHasNull = true else sa.add(a.getUTF8String(i))
      i += 1
    }
    // scan b once: count its DISTINCT elements that hit / miss side a
    val sb = new java.util.HashSet[UTF8String]()
    var bHasNull = false
    var inter = 0
    var bOnly = 0
    var j = 0
    val nb = b.numElements()
    while (j < nb) {
      if (b.isNullAt(j)) bHasNull = true
      else {
        val e = b.getUTF8String(j)
        if (sb.add(e)) { if (sa.contains(e)) inter += 1 else bOnly += 1 }
      }
      j += 1
    }
    if (aHasNull && bHasNull) inter += 1
    val union = sa.size + bOnly +
      (if (aHasNull || bHasNull) 1 else 0)
    inter.toDouble / union.toDouble // 0/0 → NaN, like the double division
  }
}
