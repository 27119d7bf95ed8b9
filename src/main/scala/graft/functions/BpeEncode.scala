package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_encode(w, merges)` — the token-ID SEQUENCE of the pre-token
  * array `w` under a trained byte-pair-encoding merges table: the
  * emission step a training-data pipeline actually ships to the trainer
  * ([[BpeCount]] proves the merges and prices budgets; this materializes
  * the ids). Same greedy per-rank merge pass, same pre-token classes,
  * same staged merges literal — one shared tokenization contract, two
  * outputs.
  *
  * ID SPACE (the engine↔oracle contract, chosen so both sides derive it
  * from the merges table alone — no side-channel vocab artifact):
  *  - a single still-unmerged letter `c` → `c - 'a'` (0..25);
  *  - a merged symbol → `26 + r` where `r` is the FIRST rank whose
  *    surface form `a ++ b` equals the symbol (first-rank lookup makes
  *    the id well-defined even if two merges share a surface form — the
  *    [[BpeCount]] distinct-surface caveat, resolved instead of assumed);
  *  - any non-letter-run pre-token (digit runs, symbols — the classes
  *    [[BpeCount]] counts as 1 apiece) → the single UNK id
  *    `26 + K` (K = merges learned), the byte-fallback simplification.
  * `size(bpe_encode(w, m)) == bpe_count(w, m)` by construction (one id
  * per token) — locked by spec and a ScalaCheck property against an
  * independent replica.
  *
  * Why native: identical to [[BpeCount]] — the merge loop is inherently
  * sequential per word, and the bounded word→ids memo (Zipf hit rate)
  * makes the common case one hash probe returning a cached int[].
  */
case class BpeEncode(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      if (!right.foldable)
        TypeCheckResult.TypeCheckFailure("bpe_encode requires a literal merges array")
      else right.eval() match {
        case null =>
          TypeCheckResult.TypeCheckFailure("bpe_encode requires a non-null literal merges array")
        case a: ArrayData if a.numElements() % 2 != 0 =>
          TypeCheckResult.TypeCheckFailure(
            s"bpe_encode: flattened merges length ${a.numElements()} must be even (a,b pairs)")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires (ARRAY<STRING>, ARRAY<STRING>), got (${l.catalogString}, ${r.catalogString})")
  }

  @transient private lazy val merges: Array[(String, String)] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements() / 2) { i =>
      (arr.getUTF8String(2 * i).toString, arr.getUTF8String(2 * i + 1).toString)
    }
  }

  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, Array[Int]]()

  override def nullSafeEval(w: Any, mergesIgnored: Any): Any =
    BpeEncode.compute(w.asInstanceOf[ArrayData], merges, memo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bpeMerges", merges, "scala.Tuple2[]")
    val cRef = ctx.addReferenceObj("bpeEncMemo", memo, "java.util.concurrent.ConcurrentHashMap")
    nullSafeCodeGen(ctx, ev, (w, _) =>
      s"${ev.value} = graft.functions.BpeEncode$$.MODULE$$.compute($w, $mRef, $cRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

object BpeEncode {

  /** [[BpeCount.MaxMemoWords]]'s stance for the id arrays. */
  val MaxMemoWords = 65536

  def compute(w: ArrayData, merges: Array[(String, String)],
      memo: java.util.concurrent.ConcurrentHashMap[UTF8String, Array[Int]]): ArrayData = {
    val unk = 26 + merges.length
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var i = 0
    val n = w.numElements()
    while (i < n) {
      if (!w.isNullAt(i)) {
        val t = w.getUTF8String(i)
        if (isLetterRun(t)) out.addAll(encodeWord(t, merges, memo))
        else out.addOne(unk)
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }

  private def isLetterRun(t: UTF8String): Boolean = {
    val b = t.getBytes
    var i = 0
    while (i < b.length) {
      if (b(i) < 'a' || b(i) > 'z') return false
      i += 1
    }
    b.length > 0
  }

  private def encodeWord(t: UTF8String, merges: Array[(String, String)],
      memo: java.util.concurrent.ConcurrentHashMap[UTF8String, Array[Int]]): Array[Int] = {
    val hit = memo.get(t)
    if (hit != null) return hit
    val word = t.toString
    val toks = new Array[String](word.length)
    val ids = new Array[Int](word.length)
    var i = 0
    while (i < word.length) {
      toks(i) = String.valueOf(word.charAt(i))
      ids(i) = word.charAt(i) - 'a'
      i += 1
    }
    var len = toks.length
    var m = 0
    while (m < merges.length && len > 1) {
      val a = merges(m)._1
      val b = merges(m)._2
      // FIRST rank owning this surface form (almost always m itself)
      val surfId = 26 + firstRankOf(a + b, merges, m)
      var out = 0
      var j = 0
      while (j < len) {
        if (j < len - 1 && toks(j) == a && toks(j + 1) == b) {
          toks(out) = a + b
          ids(out) = surfId
          j += 2
        } else {
          toks(out) = toks(j)
          ids(out) = ids(j)
          j += 1
        }
        out += 1
      }
      len = out
      m += 1
    }
    val res = java.util.Arrays.copyOf(ids, len)
    if (memo.size() < MaxMemoWords) memo.put(t.clone(), res)
    res
  }

  private def firstRankOf(surface: String, merges: Array[(String, String)],
      upTo: Int): Int = {
    var r = 0
    while (r < upTo) {
      if (merges(r)._1 + merges(r)._2 == surface) return r
      r += 1
    }
    upTo
  }
}
