package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash/LSH band signatures of a token array, fused into ONE native
  * expression: `minhash_bands(w, numSeeds, rowsPerBand)` computes, for a
  * document's token array `w`,
  *
  *  1. its word 3-shingles `s_i = concat_ws(' ', w[i], w[i+1], w[i+2])`,
  *  2. per seed `k < numSeeds` the min-wise hash
  *     `mh_k = min_i md5_hex(k || '|' || s_i)` (the min is over the
  *     lowercase-hex string order — identical to unsigned digest-byte
  *     order, which is what the loop compares),
  *  3. per band `b < numSeeds/rowsPerBand` the signature
  *     `md5_hex(mh_{b·r} || '|' || … || mh_{b·r+r−1})`,
  *
  * returning the band signature array. Shingle DISTINCTNESS is
  * deliberately not computed: a min over duplicates equals the min over
  * distinct values, so the `array_distinct` of the composable form is a
  * no-op for minhashing and is skipped.
  *
  * Why native: the composable formulation exploded every shingle × seed
  * (an 8× row blowup of the shingled corpus) through TWO aggregation
  * exchanges (`groupBy(doc_id, seed)` for the min, `groupBy(doc_id,
  * band)` for the signature) before the band-bucket shuffle — three
  * shuffles of which two moved per-document arithmetic. All of steps 1-3
  * are per-row; this expression runs them in one generated-code-resident
  * loop (shingles × seeds MD5 updates against a single reused digest
  * instance), leaving the band-bucket groupBy as the ONLY exchange in
  * [[graft.operators.DedupOps.docMinhashLsh]]. At 100 TB this is the
  * corpus-scan cost of the flagship dedup pipeline.
  *
  * A document with fewer than 3 tokens has no shingles and yields an
  * EMPTY array (the composable form's explode drops it) — callers
  * explode the result, so the row disappears identically. Null tokens
  * (never produced by `split`) are skipped inside a shingle, mirroring
  * `array_join`'s null-skipping.
  */
case class MinhashBands(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = first.nullable
  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!first.dataType.isInstanceOf[ArrayType] ||
        first.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"minhash_bands requires ARRAY<STRING> input, got ${first.dataType.catalogString}")
    else if (second.dataType != IntegerType || !second.foldable ||
             third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "minhash_bands requires literal INT numSeeds and rowsPerBand")
    else (second.eval(), third.eval()) match {
      // reject bad geometry at ANALYSIS, not mid-query on an executor
      case (ns: Int, rpb: Int) if ns < 1 || rpb < 1 || ns % rpb != 0 =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_bands: numSeeds=$ns must be a positive multiple of rowsPerBand=$rpb")
      case (null, _) | (_, null) =>
        TypeCheckResult.TypeCheckFailure(
          "minhash_bands: numSeeds and rowsPerBand must be non-null literals")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  override def nullSafeEval(w: Any, ns: Any, rpb: Any): Any =
    MinhashBands.compute(
      w.asInstanceOf[ArrayData], ns.asInstanceOf[Int], rpb.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, ns, rpb) =>
      s"graft.functions.MinhashBands$$.MODULE$$.compute($w, $ns, $rpb)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinhashBands =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MinhashBands {

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(digest: Array[Byte]): UTF8String = {
    val out = new Array[Char](32)
    var j = 0
    while (j < 16) {
      out(2 * j) = hexDigits((digest(j) >> 4) & 0xF)
      out(2 * j + 1) = hexDigits(digest(j) & 0xF)
      j += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Unsigned lexicographic digest compare — the same order as comparing
    * the lowercase-hex encodings as strings (hex encoding is
    * order-preserving byte-for-byte). */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xFF
      val bi = b(i) & 0xFF
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  val ShingleWidth = 3

  def compute(w: ArrayData, numSeeds: Int, rowsPerBand: Int): ArrayData = {
    val n = w.numElements()
    val numShingles = n - (ShingleWidth - 1)
    if (numShingles < 1) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = Array.tabulate(numSeeds)(s => (s.toString + "|").getBytes(UTF_8))
    val space = Array(' '.toByte)
    // token byte arrays, materialized once (each token feeds ≤3 shingles)
    val tok = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      tok(t) = if (w.isNullAt(t)) null else w.getUTF8String(t).getBytes
      t += 1
    }
    val best = new Array[Array[Byte]](numSeeds)
    var i = 0
    while (i < numShingles) {
      var s = 0
      while (s < numSeeds) {
        md.reset()
        md.update(prefixes(s))
        // concat_ws-style join: null tokens are skipped, not separators
        var wrote = false
        var j = 0
        while (j < ShingleWidth) {
          val bytes = tok(i + j)
          if (bytes != null) {
            if (wrote) md.update(space)
            md.update(bytes)
            wrote = true
          }
          j += 1
        }
        val digest = md.digest()
        if (best(s) == null || lessThan(digest, best(s))) best(s) = digest
        s += 1
      }
      i += 1
    }
    val numBands = numSeeds / rowsPerBand
    val out = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      md.reset()
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) md.update('|'.toByte)
        // band signature hashes the lowercase-HEX minhashes joined by '|',
        // exactly the composable md5(array_join(mh, '|')) form
        md.update(hex(best(b * rowsPerBand + r)).getBytes)
        r += 1
      }
      out(b) = hex(md.digest())
      b += 1
    }
    new GenericArrayData(out)
  }
}
