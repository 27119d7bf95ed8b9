package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_count(w, merges)` — token count of the pre-token array `w`
  * under a TRAINED byte-pair-encoding merges table: every all-letter
  * pre-token (a `[a-z]+` run from the shared pre-tokenizer) starts as
  * its character sequence and the merges apply in rank order, each as
  * one greedy left-to-right non-overlapping pass; digit runs and
  * symbols count 1 apiece. The merges argument is the FLATTENED literal
  * `[a₁, b₁, a₂, b₂, …]` in rank order — a staged driver artifact
  * (bounded top-K merges, the LM-vocab discipline; see
  * [[graft.operators.TextOps.stagedBpeModel]]).
  *
  * Why native: merge application is an inherently sequential per-word
  * loop (K passes over a char buffer) that SQL higher-order functions
  * can only express as K chained interpreted rewrites. Here the loop is
  * one code-resident pass per token, and a bounded memo (words repeat —
  * Zipf — so the hit rate is the corpus' token/type ratio) makes the
  * common case a hash probe. Count-only by design: the packing/budget
  * consumers need `n_tokens`, not the token strings, so nothing
  * token-sized is materialized per row.
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
  */
case class BpeCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "bpe_count"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      if (!right.foldable)
        TypeCheckResult.TypeCheckFailure("bpe_count requires a literal merges array")
      else right.eval() match {
        case null =>
          TypeCheckResult.TypeCheckFailure("bpe_count requires a non-null literal merges array")
        case a: ArrayData if a.numElements() % 2 != 0 =>
          TypeCheckResult.TypeCheckFailure(
            s"bpe_count: flattened merges length ${a.numElements()} must be even (a,b pairs)")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bpe_count requires (ARRAY<STRING>, ARRAY<STRING>), got (${l.catalogString}, ${r.catalogString})")
  }

  /** The merges as JVM strings, extracted once per expression instance —
    * codegen references the array as a constant object. */
  @transient private lazy val merges: Array[(String, String)] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements() / 2) { i =>
      (arr.getUTF8String(2 * i).toString, arr.getUTF8String(2 * i + 1).toString)
    }
  }

  /** Bounded per-instance word→count memo (thread-safe; tasks share the
    * expression object through codegen references). */
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, Integer]()

  override def nullSafeEval(w: Any, mergesIgnored: Any): Any =
    BpeCount.compute(w.asInstanceOf[ArrayData], merges, memo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bpeMerges", merges, "scala.Tuple2[]")
    val cRef = ctx.addReferenceObj("bpeMemo", memo, "java.util.concurrent.ConcurrentHashMap")
    nullSafeCodeGen(ctx, ev, (w, _) =>
      s"${ev.value} = graft.functions.BpeCount$$.MODULE$$.compute($w, $mRef, $cRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeCount =
    copy(left = newLeft, right = newRight)
}

object BpeCount {

  /** Memo growth cap — past this many distinct words the memo stops
    * admitting (serving keeps working, just uncached); a real corpus'
    * frequent words land first, which is where the hits are. */
  val MaxMemoWords = 65536

  def compute(w: ArrayData, merges: Array[(String, String)],
      memo: java.util.concurrent.ConcurrentHashMap[UTF8String, Integer]): Int = {
    var total = 0
    var i = 0
    val n = w.numElements()
    while (i < n) {
      if (!w.isNullAt(i)) {
        val t = w.getUTF8String(i)
        total += (if (isLetterRun(t)) countWord(t, merges, memo) else 1)
      }
      i += 1
    }
    total
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

  private def countWord(t: UTF8String, merges: Array[(String, String)],
      memo: java.util.concurrent.ConcurrentHashMap[UTF8String, Integer]): Int = {
    val hit = memo.get(t)
    if (hit != null) return hit.intValue()
    val word = t.toString
    var toks = new Array[String](word.length)
    var i = 0
    while (i < word.length) { toks(i) = String.valueOf(word.charAt(i)); i += 1 }
    var len = toks.length
    var m = 0
    while (m < merges.length && len > 1) {
      val a = merges(m)._1
      val b = merges(m)._2
      // one greedy left-to-right non-overlapping pass for this rank
      var out = 0
      var j = 0
      while (j < len) {
        if (j < len - 1 && toks(j) == a && toks(j + 1) == b) {
          toks(out) = a + b
          j += 2
        } else {
          toks(out) = toks(j)
          j += 1
        }
        out += 1
      }
      len = out
      m += 1
    }
    if (memo.size() < MaxMemoWords) memo.put(t.clone(), Integer.valueOf(len))
    len
  }
}
