package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_encode(w, merges)` — the token-ID SEQUENCE of the pre-token
  * array `w` under a TRAINED byte-pair-encoding merges table: every
  * all-letter pre-token (a `[a-z]+` run from the shared pre-tokenizer)
  * starts as its character sequence and the merges apply in rank order,
  * each as one greedy left-to-right non-overlapping pass; digit runs
  * and symbols are one token apiece. The merges argument is the
  * FLATTENED literal `[a₁, b₁, a₂, b₂, …]` in rank order — a staged
  * driver artifact (bounded top-K merges, the LM-vocab discipline; see
  * [[graft.operators.TextOps.stagedBpeModel]]).
  *
  * `bpe_count(w, m)` is `size(bpe_encode(w, m))` — one id per token, so
  * the count and the emission are one merge pass with two outputs (see
  * [[GraftFunctions.all]]).
  *
  * The greedy pass is the exact operational form of the oracle's
  * per-rank rewrite (merge starts = pair positions, with odd-prefix
  * selection inside equal-symbol runs). Ascending-rank application is
  * complete under ONE assumption: each merge's output symbol has a
  * distinct surface form (a pair's rank always exceeds its constituent
  * symbols' ranks, so an earlier-rank pair cannot re-form — UNLESS two
  * merges share a surface form, e.g. (a,bc) and (ab,c) both yielding
  * "abc", where a mid-rank pair involving that symbol could re-form
  * after the later merge and would not be revisited). The tables
  * [[graft.operators.TextOps.fitBpeModel]] learns satisfy the
  * assumption in practice, and engine, oracle, and test replica all
  * implement the same single ascending pass — the repo contract is a
  * single shared definition, not canonical iterative lowest-rank BPE.
  *
  * ID SPACE (the engine↔oracle contract, chosen so both sides derive it
  * from the merges table alone — no side-channel vocab artifact):
  *  - a single still-unmerged letter `c` → `c - 'a'` (0..25);
  *  - a merged symbol → `26 + r` where `r` is the FIRST rank whose
  *    surface form `a ++ b` equals the symbol (first-rank lookup makes
  *    the id well-defined even if two merges share a surface form — the
  *    distinct-surface caveat above, resolved instead of assumed);
  *  - any non-letter-run pre-token (digit runs, symbols) → the single
  *    UNK id `26 + K` (K = merges learned), the byte-fallback
  *    simplification.
  *
  * Why native: merge application is an inherently sequential per-word
  * loop (K passes over a char buffer) that SQL higher-order functions
  * can only express as K chained interpreted rewrites. Here the loop is
  * one code-resident pass per token, and a bounded word→ids memo (words
  * repeat — Zipf — so the hit rate is the corpus' token/type ratio)
  * makes the common case one hash probe returning a cached int[].
  */
case class BpeEncode(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      BpeEncode.checkMerges(prettyName, right)
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires (ARRAY<STRING>, ARRAY<STRING>), got (${l.catalogString}, ${r.catalogString})")
  }

  /** The merges as JVM strings, extracted once per expression instance —
    * codegen references the array as a constant object. */
  @transient private lazy val merges: Array[(String, String)] = BpeEncode.parseMerges(right)

  /** Bounded per-instance word→ids memo (thread-safe; tasks share the
    * expression object through codegen references). */
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

  /** Memo growth cap — past this many distinct words the memo stops
    * admitting (serving keeps working, just uncached); a real corpus'
    * frequent words land first, which is where the hits are. */
  val MaxMemoWords = 65536

  /** The merges-argument check of every BPE kernel: a non-null literal
    * of even length (flattened (a, b) pairs). */
  private[functions] def checkMerges(fn: String, merges: Expression): TypeCheckResult =
    if (!merges.foldable)
      TypeCheckResult.TypeCheckFailure(s"$fn requires a literal merges array")
    else merges.eval() match {
      case null =>
        TypeCheckResult.TypeCheckFailure(s"$fn requires a non-null literal merges array")
      case a: ArrayData if a.numElements() % 2 != 0 =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn: flattened merges length ${a.numElements()} must be even (a,b pairs)")
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  /** A checked merges literal as its ranked (a, b) pairs. */
  private[functions] def parseMerges(merges: Expression): Array[(String, String)] = {
    val arr = merges.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements() / 2) { i =>
      (arr.getUTF8String(2 * i).toString, arr.getUTF8String(2 * i + 1).toString)
    }
  }

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
      // one greedy left-to-right non-overlapping pass for this rank
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
