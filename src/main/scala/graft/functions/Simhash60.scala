package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Frequency-weighted 60-bit SimHash of a token array, fused into ONE
  * native expression: `simhash60(w)` hashes every non-empty token to 60
  * bits (`conv(substring(md5(w), 1, 15), 16, 10)` — the first 15 hex
  * nibbles of the MD5, read big-endian), accumulates the ±1 bit votes,
  * and sets fingerprint bit `j` iff vote `j` is positive. NULL when the
  * array holds no non-empty token (the composable form's
  * `size(hs) > 0` filter drops the row; callers filter `isNotNull`).
  *
  * Why native: the composable form chains `transform(filter(...))` into
  * a doubly-nested `aggregate(zip_with(...))` fold — all CodegenFallback
  * higher-order functions, costing tokens × 60 interpreted lambda
  * evaluations plus four intermediate arrays per document. This runs the
  * token loop and the 60-bit vote fold in one generated-code-resident
  * loop with a single reused digest instance and a fixed 60-int vote
  * buffer. Fingerprinting is a pure per-row projection (zero shuffles) —
  * at 100 TB it is the entire corpus-scan cost of
  * [[graft.operators.DedupOps.docSimhash]] /
  * [[graft.operators.DedupOps.docSimhashPairs]].
  *
  * Integer results are bit-identical to the composable form (same md5,
  * same nibble order, same vote/threshold arithmetic) — the DuckDB
  * oracles are unchanged; equivalence vs the HOF form is asserted in
  * tests. Null tokens (never produced by `split`) are skipped exactly as
  * the composable `filter`'s null-dropping does.
  */
case class Simhash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash60"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash60 requires ARRAY<STRING> input, got ${other.catalogString}")
    }

  override def nullSafeEval(w: Any): Any =
    Simhash60.compute(w.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = graft.functions.Simhash60$$.MODULE$$.compute($w);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Simhash60 =
    copy(child = newChild)
}

object Simhash60 {

  val Bits = 60

  /** Null (not 0) when no non-empty token exists — the caller's
    * `isNotNull` filter mirrors the composable `size(hs) > 0`. */
  def compute(w: ArrayData): java.lang.Long = {
    val n = w.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](Bits)
    var any = false
    var i = 0
    while (i < n) {
      if (!w.isNullAt(i)) {
        val bytes = w.getUTF8String(i).getBytes
        if (bytes.length > 0) {
          any = true
          md.reset()
          val digest = md.digest(bytes)
          // first 15 hex nibbles big-endian = bytes 0..6 fully + the high
          // nibble of byte 7 — exactly conv(substring(hex, 1, 15), 16, 10)
          var h = 0L
          var b = 0
          while (b < 7) { h = (h << 8) | (digest(b) & 0xFFL); b += 1 }
          h = (h << 4) | ((digest(7) >> 4) & 0xFL)
          var j = 0
          while (j < Bits) {
            votes(j) += (((h >> j) & 1L).toInt * 2 - 1)
            j += 1
          }
        }
      }
      i += 1
    }
    if (!any) return null
    var fp = 0L
    var j = 0
    while (j < Bits) {
      if (votes(j) > 0) fp |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(fp)
  }
}
