package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `count_in(w, words)` — how many elements of the token array `w` are
  * members of the LITERAL string array `words`:
  * `count_in(w, words)` ≡ `size(filter(w, x -> array_contains(words, x)))`
  * — the per-profile stopword count behind language ID and quality
  * scoring ([[graft.operators.TextOps.textLangId]] scores 5 profiles per
  * row; [[graft.operators.TextOps.textQualityScore]] one).
  *
  * Why native: `filter` (ArrayFilter) is CodegenFallback — each of the
  * ~5 profiles interprets a lambda per TOKEN, and inside it
  * `array_contains` walks the 6-word profile per call. This expression
  * hashes the literal profile ONCE into a set and runs one codegen'd
  * loop per row: tokens × O(1) lookups instead of tokens × profiles × 6
  * interpreted comparisons. NULL tokens don't count (the lambda's
  * `array_contains(words, NULL)` is NULL → dropped by filter).
  */
case class CountIn(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "count_in"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      if (!right.foldable)
        TypeCheckResult.TypeCheckFailure("count_in requires a literal word array")
      // a NULL literal would NPE building the membership set at codegen
      // — refuse at ANALYSIS with the cause named
      else if (right.eval() == null)
        TypeCheckResult.TypeCheckFailure("count_in requires a non-null literal word array")
      else TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"count_in requires (ARRAY<STRING>, ARRAY<STRING>), got (${l.catalogString}, ${r.catalogString})")
  }

  /** The literal membership set, built once per expression instance —
    * codegen references it as a constant object. */
  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    val arr = right.eval().asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) s.add(arr.getUTF8String(i).clone())
      i += 1
    }
    s
  }

  override def nullSafeEval(w: Any, wordsIgnored: Any): Any =
    CountIn.compute(w.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("countInSet", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (w, _) =>
      s"${ev.value} = graft.functions.CountIn$$.MODULE$$.compute($w, $setRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountIn =
    copy(left = newLeft, right = newRight)
}

object CountIn {

  def compute(w: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    var count = 0
    var i = 0
    val n = w.numElements()
    while (i < n) {
      if (!w.isNullAt(i) && set.contains(w.getUTF8String(i))) count += 1
      i += 1
    }
    count
  }
}

/** `sum_strlen(w)` — the summed character length of a token array:
  * `sum_strlen(w)` ≡ `aggregate(transform(w, x -> length(x)), 0, (a, x) -> a + x)`
  * — the mean-token-length numerator of quality scoring. The composable
  * form is TWO CodegenFallback HOFs (transform materializes a lengths
  * array, aggregate folds it interpreted); this is one loop. Integer
  * arithmetic with Int overflow-wrap, exactly like the `lit(0)` fold.
  * NULL tokens add nothing (`length(NULL)` is NULL and `a + NULL` nulls
  * the fold — but tokenizer output never contains NULL; semantics kept
  * for safety as "skip").
  */
case class SumStrlen(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sum_strlen"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sum_strlen requires ARRAY<STRING>, got ${other.catalogString}")
  }

  override def nullSafeEval(w: Any): Any =
    SumStrlen.compute(w.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w => s"graft.functions.SumStrlen$$.MODULE$$.compute($w)")

  override protected def withNewChildInternal(newChild: Expression): SumStrlen =
    copy(child = newChild)
}

object SumStrlen {

  def compute(w: ArrayData): Int = {
    var sum = 0
    var i = 0
    val n = w.numElements()
    while (i < n) {
      if (!w.isNullAt(i)) sum += w.getUTF8String(i).numChars()
      i += 1
    }
    sum
  }
}

/** `logp_sum(w, logp_map, floor)` — the summed log-probability of a token
  * array under a LITERAL scoring map, out-of-vocabulary tokens scoring
  * `floor`: ≡ `aggregate(transform(w, t -> coalesce(element_at(m, t),
  * floor)), 0.0, (a, v) -> a + v)` — the per-document scoring fold of
  * [[graft.operators.TextOps.textLmPerplexity]].
  *
  * Why native: Spark's `element_at` on a map LITERAL (GetMapValue) is a
  * LINEAR key scan — with a 10k-entry vocabulary a 500-token document
  * costs ~5M string comparisons, which would dominate the corpus scan at
  * scale. This hashes the literal map ONCE ([[CountIn]]'s pattern) and
  * runs one codegen'd loop: tokens × O(1) lookups, summed sequentially
  * in array order (the determinism the oracle comparison needs). NULL
  * tokens score the floor, matching `coalesce`.
  */
case class LogpSum(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = first.nullable
  override def prettyName: String = "logp_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), MapType(StringType, DoubleType, _), DoubleType) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure("logp_sum requires literal map and floor")
        else if (second.eval() == null || third.eval() == null)
          TypeCheckResult.TypeCheckFailure("logp_sum requires non-null literal map and floor")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"logp_sum requires (ARRAY<STRING>, MAP<STRING,DOUBLE>, DOUBLE), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }

  /** The literal scoring table as a real hash map, built once — codegen
    * references it as a constant object. NULL-valued entries are SKIPPED
    * so their keys score the floor, exactly like the composable
    * `coalesce(element_at(m, t), floor)` (element_at → NULL → floor). */
  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double]()
    val md = second.eval().asInstanceOf[MapData]
    val ks = md.keyArray()
    val vs = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      if (!vs.isNullAt(i)) m.put(ks.getUTF8String(i).clone(), vs.getDouble(i))
      i += 1
    }
    m
  }

  @transient private lazy val floor: Double = third.eval().asInstanceOf[Double]

  override def nullSafeEval(w: Any, mIgnored: Any, fIgnored: Any): Any =
    LogpSum.compute(w.asInstanceOf[ArrayData], table, floor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("logpTable", table, "java.util.HashMap")
    // the floor rides as a boxed reference, never a source-text splice —
    // a non-finite literal ("Infinity") would not be valid Java source
    val floorRef = ctx.addReferenceObj("logpFloor", Double.box(floor), "java.lang.Double")
    nullSafeCodeGen(ctx, ev, (w, _, _) =>
      s"${ev.value} = graft.functions.LogpSum$$.MODULE$$.compute($w, $tableRef, " +
        s"$floorRef.doubleValue());")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LogpSum =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object LogpSum {

  def compute(w: ArrayData, table: java.util.HashMap[UTF8String, java.lang.Double],
      floor: Double): Double = {
    var sum = 0.0
    var i = 0
    val n = w.numElements()
    while (i < n) {
      val v = if (w.isNullAt(i)) null else table.get(w.getUTF8String(i))
      sum += (if (v == null) floor else v.doubleValue())
      i += 1
    }
    sum
  }
}

/** `backoff_sum(w, bigrams, unigrams, floor)` — the Stupid Backoff
  * (Brants et al. 2007) bigram scoring fold: over every adjacent token
  * pair of `w`, sum `bigrams["w1 w2"]` when the bigram is in the LITERAL
  * bigram table, else back off to `unigrams[w2]` (the caller folds the
  * backoff penalty `ln α` into the unigram values), else `floor` (the
  * penalty-folded OOV floor). The bigram string is formed INSIDE the
  * loop (`w1 + ' ' + w2` — tokens come from a `\s+` split so the joined
  * form is injective), so no per-row gram array ever materializes.
  * A null token at either position scores the floor.
  *
  * Why native: the composable form builds the gram array
  * (`transform` over `sequence`, CodegenFallback), then runs a
  * two-level `coalesce(element_at…)` lambda per gram — and `element_at`
  * on a map LITERAL is a LINEAR key scan. This is one codegen-resident
  * loop with two real hash tables
  * ([[graft.operators.TextOps.textLm2Score]]; composable reference
  * `lm2Hof`, equivalence asserted in tests).
  */
case class BackoffSum(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = first.nullable
  override def prettyName: String = "backoff_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(StringType, _), MapType(StringType, DoubleType, _),
          MapType(StringType, DoubleType, _), DoubleType) =>
        if (!second.foldable || !third.foldable || !fourth.foldable)
          TypeCheckResult.TypeCheckFailure(
            "backoff_sum requires literal bigram/unigram maps and floor")
        else if (second.eval() == null || third.eval() == null || fourth.eval() == null)
          TypeCheckResult.TypeCheckFailure(
            "backoff_sum requires non-null literal maps and floor")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"backoff_sum requires (ARRAY<STRING>, MAP<STRING,DOUBLE>, " +
          s"MAP<STRING,DOUBLE>, DOUBLE), got (${a.catalogString}, " +
          s"${b.catalogString}, ${c.catalogString}, ${d.catalogString})")
    }

  private def toTable(e: Expression): java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double]()
    val md = e.eval().asInstanceOf[MapData]
    val ks = md.keyArray()
    val vs = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      if (!vs.isNullAt(i)) m.put(ks.getUTF8String(i).clone(), vs.getDouble(i))
      i += 1
    }
    m
  }

  @transient private lazy val bigrams = toTable(second)
  @transient private lazy val unigrams = toTable(third)
  @transient private lazy val floor: Double = fourth.eval().asInstanceOf[Double]

  override def nullSafeEval(w: Any, b: Any, u: Any, f: Any): Any =
    BackoffSum.compute(w.asInstanceOf[ArrayData], bigrams, unigrams, floor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("backoffBigrams", bigrams, "java.util.HashMap")
    val uRef = ctx.addReferenceObj("backoffUnigrams", unigrams, "java.util.HashMap")
    val fRef = ctx.addReferenceObj("backoffFloor", Double.box(floor), "java.lang.Double")
    nullSafeCodeGen(ctx, ev, (w, _, _, _) =>
      s"${ev.value} = graft.functions.BackoffSum$$.MODULE$$.compute($w, $bRef, " +
        s"$uRef, $fRef.doubleValue());")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): BackoffSum =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object BackoffSum {

  private val Space = UTF8String.fromString(" ")

  def compute(w: ArrayData,
      bigrams: java.util.HashMap[UTF8String, java.lang.Double],
      unigrams: java.util.HashMap[UTF8String, java.lang.Double],
      floor: Double): Double = {
    var sum = 0.0
    val n = w.numElements()
    var i = 0
    while (i < n - 1) {
      if (w.isNullAt(i) || w.isNullAt(i + 1)) sum += floor
      else {
        val w2 = w.getUTF8String(i + 1)
        val bv = bigrams.get(UTF8String.concat(w.getUTF8String(i), Space, w2))
        if (bv != null) sum += bv.doubleValue()
        else {
          val uv = unigrams.get(w2)
          sum += (if (uv == null) floor else uv.doubleValue())
        }
      }
      i += 1
    }
    sum
  }
}

/** `dup_fracs(w)` — all three Gopher-family repetition signals of a token
  * array in one pass: `struct(n_tokens, dup_word_frac, dup_2gram_frac,
  * dup_5gram_frac)` where each fraction is
  * `(instances - distinct) / instances` over words, word-2-grams, and
  * word-5-grams ([[graft.operators.TextOps.textRepetition]]; composable
  * reference `textRepetitionHof`, equivalence asserted in tests).
  *
  * Why native: the composable form materializes two gram ARRAYS per row
  * (`transform` over a `sequence`, both CodegenFallback) and sorts three
  * arrays through `array_distinct` — ~6 interpreted passes over every
  * token of the corpus. This is one generated-code-resident loop per
  * n-gram size with O(1) hash-set membership, no materialized grams.
  * Gram identity is the token TUPLE (tokens come from a `\s+` split, so
  * they contain no whitespace and tuple identity ≡ the joined-string
  * identity the oracle uses); null tokens are skipped inside a gram,
  * matching `concat_ws`.
  */
case class DupFracs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DupFracs.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "dup_fracs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dup_fracs requires ARRAY<STRING>, got ${other.catalogString}")
  }

  override def nullSafeEval(w: Any): Any =
    DupFracs.compute(w.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w => s"graft.functions.DupFracs$$.MODULE$$.compute($w)")

  override protected def withNewChildInternal(newChild: Expression): DupFracs =
    copy(child = newChild)
}

object DupFracs {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("dup_2gram_frac", DoubleType, nullable = false),
    StructField("dup_5gram_frac", DoubleType, nullable = false)))

  /** Duplicate-instance fraction of the token array's `len`-grams: one
    * sliding window, gram keys interned in a hash set. `len == 1`
    * mirrors `array_distinct` (a null token is one distinct value);
    * longer grams skip null members like `concat_ws`. */
  private def gramDupFrac(w: ArrayData, len: Int): Double = {
    val n = w.numElements()
    val m = n - len + 1
    if (m <= 0) return 0.0
    val seen = new java.util.HashSet[AnyRef](m * 2)
    var distinct = 0
    var i = 0
    while (i < m) {
      val key: AnyRef =
        if (len == 1) {
          if (w.isNullAt(i)) DupFracs.NullToken else w.getUTF8String(i)
        } else {
          val parts = new java.util.ArrayList[UTF8String](len)
          var k = 0
          while (k < len) {
            if (!w.isNullAt(i + k)) parts.add(w.getUTF8String(i + k))
            k += 1
          }
          parts
        }
      if (seen.add(key)) distinct += 1
      i += 1
    }
    (m - distinct).toDouble / m
  }

  private object NullToken

  def compute(w: ArrayData): InternalRow = {
    val n = w.numElements()
    new GenericInternalRow(Array[Any](
      n,
      gramDupFrac(w, 1),
      gramDupFrac(w, 2),
      gramDupFrac(w, 5)))
  }
}

/** `hash_weight_sum(w, weights)` — feature-hashing linear-model inference:
  * the summed weight of a token array under a LITERAL bucket-weight
  * vector, where each token hashes to bucket
  * `md5_15hex(token) % len(weights)` (the engine-portable
  * [[graft.operators.Hashing.md5Bucket]] scheme, here applied to token
  * TEXT rather than a numeric id). This is the scoring pass of a
  * hashing-trick linear classifier (fastText-style quality filters): the
  * trained model ships as one bounded weight vector, inference is a
  * per-row fold — no join, no shuffle, no vocabulary table
  * ([[graft.operators.TextOps.qualityClassifier]]; composable reference
  * `hashWeightSumHof`, equivalence asserted in tests).
  *
  * Why native: the composable form is `aggregate(transform(w, t ->
  * element_at(W, conv(substring(md5(t), …)) % D + 1)), 0d, +)` — two
  * CodegenFallback HOFs interpreting a 6-node expression tree per token
  * (the exact shape the round-7 kernel sweep removed elsewhere). Here it
  * is one codegen-resident loop: md5 → first-8-bytes >>> 4 (≡ the
  * 15-hex-char prefix `conv` parses) → mod → array load. Null tokens add
  * 0.0, matching the reference's `coalesce(element_at(W, NULL), 0d)`.
  */
case class HashWeightSum(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "hash_weight_sum"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(DoubleType, _)) =>
      if (!right.foldable)
        TypeCheckResult.TypeCheckFailure("hash_weight_sum requires a literal weight array")
      else {
        val arr = right.eval()
        if (arr == null || arr.asInstanceOf[ArrayData].numElements() == 0)
          TypeCheckResult.TypeCheckFailure(
            "hash_weight_sum requires a non-null, non-empty literal weight array")
        else if ((0 until arr.asInstanceOf[ArrayData].numElements())
            .exists(arr.asInstanceOf[ArrayData].isNullAt))
          // a null weight would poison the fold — refuse at ANALYSIS
          TypeCheckResult.TypeCheckFailure(
            "hash_weight_sum requires a weight array with no null elements")
        else TypeCheckResult.TypeCheckSuccess
      }
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"hash_weight_sum requires (ARRAY<STRING>, ARRAY<DOUBLE>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }

  /** The literal weight vector as a flat array, built once — codegen
    * references it as a constant object. */
  @transient private lazy val weights: Array[Double] =
    right.eval().asInstanceOf[ArrayData].toDoubleArray()

  override def nullSafeEval(w: Any, wIgnored: Any): Any =
    HashWeightSum.compute(w.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("hwsWeights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, (w, _) =>
      s"${ev.value} = graft.functions.HashWeightSum$$.MODULE$$.compute($w, $wRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashWeightSum =
    copy(left = newLeft, right = newRight)
}

object HashWeightSum {

  def compute(w: ArrayData, weights: Array[Double]): Double = {
    val d = weights.length
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0.0
    var i = 0
    val n = w.numElements()
    while (i < n) {
      if (!w.isNullAt(i)) {
        md.reset()
        val digest = md.digest(w.getUTF8String(i).getBytes)
        // big-endian first 8 bytes >>> 4 == the value conv() parses from
        // the first 15 hex chars: a 60-bit non-negative bucket key
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (digest(j) & 0xFFL); j += 1 }
        sum += weights(((v >>> 4) % d).toInt)
      }
      i += 1
    }
    sum
  }
}
