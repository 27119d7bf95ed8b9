package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MD5 hex digests of a text's character-`len` grams as one native
  * expression: `gram_md5s(text, L)` ≡
  * `transform(sequence(1, greatest(length(text) - L + 1, 1)),
  *            i -> md5(cast(substr(text, i, L) as binary)))`
  * — the shared front half of the winnowing fingerprint
  * ([[graft.operators.TextOps.docFingerprint]]) and benchmark
  * decontamination ([[graft.operators.DedupOps.docDecontaminate]]).
  *
  * Why native: the composable form is a `transform` (CodegenFallback)
  * evaluating a four-expression chain per gram — a 2000-char document
  * pays ~2000 interpreted `substr`/`cast`/`md5` evaluations plus a
  * materialized `sequence` array, per row. This expression runs one
  * generated-code-resident loop with a single reused digest instance.
  * Gram positions are CHARACTER-based (`UTF8String.substringSQL`,
  * exactly `substr`'s semantics), so multi-byte text hashes identically
  * to the composable form — and to the DuckDB oracle's
  * `md5(substring(text, i, L))`.
  *
  * A text shorter than `L` yields one gram of the whole text
  * (`greatest(..., 1)`), matching both call sites' existing edge
  * behavior.
  */
case class GramMd5s(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "gram_md5s"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"gram_md5s requires STRING input, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("gram_md5s requires a literal INT gram length")
    else right.eval() match {
      // reject a bad length at ANALYSIS, not mid-query on an executor
      case l: Int if l < 1 =>
        TypeCheckResult.TypeCheckFailure(s"gram_md5s: gram length $l must be >= 1")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  override def nullSafeEval(t: Any, l: Any): Any =
    GramMd5s.compute(t.asInstanceOf[UTF8String], l.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, l) => s"graft.functions.GramMd5s$$.MODULE$$.compute($t, $l)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramMd5s =
    copy(left = newLeft, right = newRight)
}

object GramMd5s {

  private val hexDigits = "0123456789abcdef".toCharArray

  def compute(text: UTF8String, gramLen: Int): ArrayData = {
    require(gramLen >= 1, s"gram_md5s: gram length $gramLen must be >= 1")
    val bytes = text.getBytes
    val n = text.numChars()
    val count = math.max(n - gramLen + 1, 1)
    // Character start offsets, computed in ONE pass. The first version
    // located gram i with substringSQL(i+1, L) — a walk from the buffer
    // start per gram, O(N²) char steps over an N-char document. Gram
    // positions stay CHARACTER-based (substr()'s semantics, same
    // numBytesForFirstByte walk), so multi-byte text hashes identically
    // to the composable form and the DuckDB oracle.
    val off = new Array[Int](n + 1)
    var c = 0
    var b = 0
    while (c < n) {
      off(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    off(n) = bytes.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val start = off(i)
      val end = off(math.min(i + gramLen, n))
      md.reset()
      md.update(bytes, start, end - start)
      val digest = md.digest()
      val hex = new Array[Char](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexDigits((digest(j) >> 4) & 0xF)
        hex(2 * j + 1) = hexDigits(digest(j) & 0xF)
        j += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new GenericArrayData(out)
  }
}
