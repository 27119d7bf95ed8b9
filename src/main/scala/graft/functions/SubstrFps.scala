package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 0-mod-p sampled window fingerprints of a token array, fused into ONE
  * native expression: `substr_fps(w, windowTokens, modP)` computes, for
  * a document's token array `w`,
  *
  *  1. every `windowTokens`-token window `s_i = concat_ws(' ',
  *     w[i], …, w[i+windowTokens−1])` for `i ≤ n − windowTokens`,
  *  2. its hash `h_i = md5_hex(s_i)`,
  *  3. KEEPS `h_i` iff its top 60 bits (the first 15 hex chars, the
  *     same `conv(substring(h,1,15),16,10)` integerization as
  *     [[graft.operators.Hashing.md5Bucket]]) ≡ 0 (mod `modP`) —
  *     Manber's 0-mod-p anchor selection, deterministic and
  *     position-independent, so two documents sharing any run of
  *     `windowTokens + modP·E[gap]` tokens share a selected
  *     fingerprint with high probability,
  *
  * returning the DISTINCT selected hashes in first-occurrence order
  * (= `array_distinct(filter(transform(...)))` of the composable form,
  * [[graft.operators.DedupOps.docSubstrFpsHof]], which this expression
  * matches string-for-string — equivalence asserted in tests).
  *
  * Why native: the composable form is a `transform` + `filter` +
  * `array_distinct` chain (CodegenFallback) evaluating a
  * five-expression tree per window — a 1000-token document pays ~1000
  * interpreted `slice`/`concat_ws`/`md5`/`conv` evaluations plus three
  * materialized arrays, per row. This expression runs one
  * generated-code-resident loop with a single reused digest instance
  * and derives the 60-bit selector straight from the digest bytes. At
  * 100 TB this is the corpus-scan cost of exact-substring dedup; the
  * 1/modP sampling is what keeps the downstream bucket exchange at
  * `tokens/modP` rows instead of `tokens`.
  *
  * A document with fewer than `windowTokens` tokens has no windows and
  * yields an EMPTY array (callers explode the result, so the row
  * disappears). Null tokens (never produced by `split`) are skipped
  * along with their separator, mirroring `concat_ws`'s null-skipping.
  */
case class SubstrFps(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = first.nullable
  override def prettyName: String = "substr_fps"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!first.dataType.isInstanceOf[ArrayType] ||
        first.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"substr_fps requires ARRAY<STRING> input, got ${first.dataType.catalogString}")
    else if (second.dataType != IntegerType || !second.foldable ||
             third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "substr_fps requires literal INT windowTokens and modP")
    else (second.eval(), third.eval()) match {
      // reject bad parameters at ANALYSIS, not mid-query on an executor
      case (w: Int, _) if w < 1 =>
        TypeCheckResult.TypeCheckFailure(s"substr_fps: windowTokens $w must be >= 1")
      case (_, p: Int) if p < 1 =>
        TypeCheckResult.TypeCheckFailure(s"substr_fps: modP $p must be >= 1")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  override def nullSafeEval(w: Any, win: Any, p: Any): Any =
    SubstrFps.compute(w.asInstanceOf[ArrayData], win.asInstanceOf[Int], p.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, win, p) =>
      s"graft.functions.SubstrFps$$.MODULE$$.compute($w, $win, $p)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SubstrFps =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SubstrFps {

  private val hexDigits = "0123456789abcdef".toCharArray
  private val space = Array(' '.toByte)

  def compute(tokens: ArrayData, windowTokens: Int, modP: Int): ArrayData = {
    require(windowTokens >= 1, s"substr_fps: windowTokens $windowTokens must be >= 1")
    require(modP >= 1, s"substr_fps: modP $modP must be >= 1")
    val n = tokens.numElements()
    if (n < windowTokens) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    // first-occurrence order = array_distinct's order
    val seen = new java.util.LinkedHashSet[UTF8String]
    var i = 0
    while (i <= n - windowTokens) {
      md.reset()
      var wrote = false
      var j = 0
      while (j < windowTokens) {
        val tok = if (tokens.isNullAt(i + j)) null else tokens.getUTF8String(i + j)
        if (tok != null) {
          if (wrote) md.update(space)
          md.update(tok.getBytes)
          wrote = true
        }
        j += 1
      }
      val digest = md.digest()
      // top 60 bits = the first 15 hex chars as a base-16 integer
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (digest(k) & 0xFFL); k += 1 }
      v = (v << 4) | ((digest(7) >> 4) & 0xFL)
      if (v % modP == 0) {
        val hex = new Array[Char](32)
        var h = 0
        while (h < 16) {
          hex(2 * h) = hexDigits((digest(h) >> 4) & 0xF)
          hex(2 * h + 1) = hexDigits(digest(h) & 0xF)
          h += 1
        }
        seen.add(UTF8String.fromString(new String(hex)))
      }
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}
