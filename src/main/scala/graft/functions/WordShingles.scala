package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word `n`-shingles of a token array as one native expression:
  * `word_shingles(w, n)` ≡
  * `array_distinct(transform(sequence(1, greatest(size(w) - n + 1, 0)),
  *                           i -> array_join(slice(w, i, n), ' ')))`
  * — the shared shingle front of exact-Jaccard verification
  * ([[graft.operators.DedupOps.docNgramJaccard]],
  * [[graft.operators.DedupOps.docLshVerifiedDups]]).
  *
  * Why native: the composable form is a `transform` (CodegenFallback)
  * evaluating a three-expression chain per shingle plus a materialized
  * index `sequence`, then an `array_distinct` re-walk — per row, on
  * every corpus scan of the dedup pipeline (the same argument as
  * [[GramMd5s]]). This expression runs one loop with a LinkedHashSet,
  * preserving the composable form's first-occurrence order exactly.
  *
  * Fewer than `n` tokens yield an empty array; call sites filter to
  * `size(w) >= n` upstream (as the composable form requires — its
  * descending `sequence(1, 0)` edge would reach `slice(w, 0, n)`, which
  * throws).
  */
case class WordShingles(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) =>
      if (right.dataType != IntegerType || !right.foldable)
        TypeCheckResult.TypeCheckFailure("word_shingles requires a literal INT shingle size")
      else right.eval() match {
        // reject a bad size at ANALYSIS, not mid-query on an executor
        case n: Int if n < 1 =>
          TypeCheckResult.TypeCheckFailure(s"word_shingles: shingle size $n must be >= 1")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires ARRAY<STRING> input, got ${other.catalogString}")
  }

  override def nullSafeEval(w: Any, n: Any): Any =
    WordShingles.compute(w.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, n) => s"graft.functions.WordShingles$$.MODULE$$.compute($w, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)
}

object WordShingles {

  private val Space = UTF8String.fromString(" ")

  def compute(w: ArrayData, n: Int): ArrayData = {
    require(n >= 1, s"word_shingles: shingle size $n must be >= 1")
    val size = w.numElements()
    if (size < n) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet: the composable form's array_distinct keeps FIRST
    // occurrences in shingle order — downstream set ops don't care, but
    // bit-identical output keeps the equivalence test exact
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= size - n) {
      var j = 0
      while (j < n) { parts(j) = w.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
