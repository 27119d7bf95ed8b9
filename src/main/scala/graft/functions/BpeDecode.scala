package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_decode(ids, merges)` — the SURFACE string of a token-id
  * sequence under a trained byte-pair-encoding merges table: the
  * inverse of [[BpeEncode]], completing the tokenizer contract (a
  * pipeline that ships ids must prove they decode — r17 verdict #5; the
  * previous lock was count-equality, not content). Both directions
  * derive the id space from the merges table alone:
  *  - id 0..25 → the letter `('a' + id)`;
  *  - id `26 + r` (r < K) → rank r's surface form `a ++ b` — by the
  *    [[BpeEncode]] FIRST-rank id rule the encoder only ever emits the
  *    first rank owning a surface, and any later rank sharing it decodes
  *    to the identical string, so decode∘encode is well-defined even
  *    with duplicate surfaces;
  *  - id `26 + K` (UNK — digit runs and symbols byte-fell-back at
  *    encode) → the literal sentinel `<unk>`, the conventional
  *    irreversible-token marker; out-of-range ids decode to the same
  *    sentinel rather than throwing (a corrupt id must surface in the
  *    DATA where a diff localizes it, not kill the batch).
  * Tokens join with one space: per letter-run pre-token,
  * `decode(encode(w))` concatenates (merged surfaces are substrings of
  * `w` in order) back to `w` — the round-trip property, ScalaCheck- and
  * replica-locked in tests.
  *
  * Why native: the decode is a per-id table lookup against the merges
  * literal — one shared surfaces array built lazily per operator
  * instance, no per-row allocation beyond the output string.
  */
case class BpeDecode(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "bpe_decode"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(StringType, _)) =>
      BpeEncode.checkMerges(prettyName, right)
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bpe_decode requires (ARRAY<INT>, ARRAY<STRING>), got (${l.catalogString}, ${r.catalogString})")
  }

  /** id → surface lookup table: 26 letters, K merge surfaces, UNK. */
  @transient private lazy val surfaces: Array[String] =
    BpeDecode.surfaceTable(BpeEncode.parseMerges(right))

  override def nullSafeEval(ids: Any, mergesIgnored: Any): Any =
    BpeDecode.compute(ids.asInstanceOf[ArrayData], surfaces)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("bpeSurfaces", surfaces, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, (ids, _) =>
      s"${ev.value} = graft.functions.BpeDecode$$.MODULE$$.compute($ids, $sRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeDecode =
    copy(left = newLeft, right = newRight)
}

object BpeDecode {

  val Unk = "<unk>"

  /** The flat id→surface table the decode probes: index = id. */
  private[functions] def surfaceTable(merges: Array[(String, String)]): Array[String] = {
    val t = new Array[String](26 + merges.length + 1)
    var i = 0
    while (i < 26) { t(i) = String.valueOf(('a' + i).toChar); i += 1 }
    var r = 0
    while (r < merges.length) { t(26 + r) = merges(r)._1 + merges(r)._2; r += 1 }
    t(t.length - 1) = Unk
    t
  }

  def compute(ids: ArrayData, surfaces: Array[String]): UTF8String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      if (i > 0) sb.append(' ')
      val id = if (ids.isNullAt(i)) -1 else ids.getInt(i)
      sb.append(
        if (id >= 0 && id < surfaces.length) surfaces(id) else Unk)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
