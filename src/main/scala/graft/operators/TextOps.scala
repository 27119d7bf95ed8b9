package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Fixtures

/** Text-analysis operators for training-data curation: language
  * identification (stopword-profile heuristic), quality scoring
  * (length/punctuation/stopword ratios), token counting (whitespace and a
  * BPE-ish regex segmentation), and document fingerprinting (bottom-k
  * sketch of character 8-gram hashes, winnowing-style).
  *
  * Everything is a per-row projection of built-in string/array/higher-order
  * functions — embarrassingly parallel, stays in whole-stage codegen, no
  * UDFs, no shuffle except where a result is explicitly aggregated.
  * All arithmetic is integer counts and ratios of integers, so doubles are
  * bit-identical across engines (SURVEY §7.3 hash-compare discipline).
  */
object TextOps {

  /** Per-language stopword profiles for the n-gram/stopword lang-ID
    * heuristic. Tiny on purpose: real profiles are data, not code — the
    * operator shape (score per profile → argmax) is what scales.
    */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "es" -> Seq("el", "los", "y", "que", "una", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** The whitespace word split every text operator tokenizes with:
    * lowercase, trim, split on whitespace runs. Portable: identical
    * semantics in DuckDB via `regexp_split_to_array(trim(lower(text)), '\s+')`.
    */
  private[operators] def words(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** The BPE pre-tokenizer over the `text` column: letter runs, digit
    * runs and single non-space symbols of the lowercased text — the
    * token stream the regex count, the packer and the trained BPE
    * kernels all read. */
  private def preTokens: Column =
    expr("""regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)""")

  /** Tokenized docs with the split materialized once as a named alias —
    * the per-expression inlining this replaces re-tokenized every
    * document up to 10× per row. The multi-referenced non-cheap alias is
    * enough (CollapseProject won't inline it, SPARK-36718); no shuffle.
    */
  private def withTokens(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("text"),
      words(col("text")).as("w"))

  /** Stopword-hit ratio against one profile, via the fused native
    * [[graft.functions.CountIn]] membership count (one codegen'd loop +
    * hashed profile set). The composable form
    * `size(filter(w, array_contains))` is the numerics reference, which
    * PipelineOpsSpec's count_in equivalence case checks it against.
    * That form is slow: `filter` (ArrayFilter) is CodegenFallback, and
    * at 5 profiles the interpreted lambda per token per profile was the
    * whole query's cost (BENCH_r07: text_lang_id 2.6 s of a 34 s suite).
    * (Historical: the lambda uses `array_contains`, not `isin` — In(6)
    * expanded to six codegen'd comparisons per element and the codegen
    * COMPILE dominated at small scale, BENCH_r02 7.6 s for 500 rows.)
    */
  private def profileScore(words: Seq[String]): Column =
    call_function("count_in", col("w"), typedlit(words)) /
      size(col("w")).cast("double")

  /** `withTokens` plus one `s_<lang>` score column per profile — the
    * shared front of language ID, quality, and the pipeline
    * annotations. */
  private def scoredTokens(docs: DataFrame): DataFrame = {
    withTokens(docs).select(
      col("*") +: Profiles.map { case (lang, words) =>
        profileScore(words).as(s"s_$lang")
      }: _*)
  }

  /** Argmax over the `s_<lang>` columns, fixed profile order for ties;
    * all-zero scores predict "und". SHARED between [[textLangId]] and
    * [[textAnnotations]] — duplicating it once desynced the pipeline
    * from the standalone op's oracle in review. */
  private def bestScore: Column = greatest(Profiles.map { case (l, _) => col(s"s_$l") }: _*)
  private def predLang: Column =
    Profiles.foldRight(lit("und")) { case ((lang, _), elseExpr) =>
      when(col(s"s_$lang") === bestScore && bestScore > 0, lit(lang)).otherwise(elseExpr)
    }

  /** Mean token length off the fused [[graft.functions.SumStrlen]] fold
    * (the composable aggregate(transform(...)) pair is two
    * CodegenFallback HOFs; equivalence asserted in tests). */
  private def avgWlen: Column =
    call_function("sum_strlen", col("w")) / size(col("w")).cast("double")

  /** The 0.3/0.4/0.3 quality composite over its three components —
    * unrounded on purpose: exact ratios through identical IEEE ops are
    * bit-identical across engines, while round() itself DIVERGES on
    * decimal-midpoint values (Spark rounds the exact binary value,
    * DuckDB rounds via float arithmetic; observed at sf0.1). */
  private def qualityOf(stopRatio: Column, nTokens: Column, meanWlen: Column): Column =
    stopRatio * 0.3 +
      least(lit(1.0), nTokens / 100.0) * 0.4 +
      least(lit(1.0), meanWlen / 8.0) * 0.3

  /** Language ID: stopword-hit ratio per profile, argmax with a fixed
    * profile order for ties. (The fixture's `lang` column is a synthetic
    * label over a shared vocabulary — the heuristic is graded on
    * determinism and shape, not on recovering that label.)
    */
  def textLangId(docs: DataFrame): DataFrame =
    // raw double score, deliberately unrounded — see [[qualityOf]]
    scoredTokens(docs).select(
      col("doc_id"),
      predLang.as("pred_lang"),
      bestScore.as("score"))

  /** Quality score: composite of stopword ratio, length saturation, and
    * mean token length — the standard cheap pre-filter before expensive
    * pipeline stages. Components are emitted alongside the composite so
    * downstream thresholds can re-weight without recomputing.
    */
  def textQualityScore(docs: DataFrame): DataFrame = {
    val en = Profiles.head._2
    withTokens(docs).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(col("w")).as("n_tokens"),
      profileScore(en).as("stop_ratio"),
      avgWlen.as("avg_wlen"))
      .withColumn("quality",
        qualityOf(col("stop_ratio"), col("n_tokens"), col("avg_wlen")))
  }

  /** Language + quality in ONE corpus pass — the annotation projection
    * [[LlmOps.docFilterPipeline]] builds on: `textLangId` and
    * `textQualityScore` each scan the corpus, and a pipeline that joined
    * their outputs would pay two scans plus a corpus-sized 1:1 join for
    * columns that are pure per-row functions of the same tokenization.
    * Built from the SAME column builders as the standalone ops, so
    * values are bit-identical to them (and to their oracles).
    */
  def textAnnotations(docs: DataFrame): DataFrame =
    scoredTokens(docs).select(
      col("doc_id"),
      predLang.as("pred_lang"),
      qualityOf(col("s_en"), size(col("w")), avgWlen).as("quality"))

  /** Token counting: whitespace segmentation vs a BPE-ish regex
    * (letter-runs | digit-runs | single non-space symbol) — the cheap
    * proxy pair used to budget tokenizer costs over a corpus.
    * [[tokenCountsTrained]] is the trained-merges upgrade the contract
    * key serves.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    withTokens(docs).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(filter(col("w"), x => x =!= "")).as("ws_tokens"),
      size(preTokens).as("bpe_tokens"))

  // ---------------------------------------------------------------------
  // Trained BPE (round 11): learned merges replace the regex
  // approximation for the contract key's bpe_tokens
  // ---------------------------------------------------------------------

  /** Merge-table size cap — the artifact stays driver-bounded (the
    * LM-vocab discipline). Real tokenizers carry 10⁴-10⁵ merges; the
    * cap is a constant of the ARTIFACT, not the corpus, so the scale
    * story is unchanged at any K. */
  val BpeMerges = 32

  /** Training-vocabulary cap: merges are learned from the top-V words
    * by (count desc, word) — the same deterministic bound the LM vocab
    * uses. Rare words beyond V still tokenize (the merges apply to any
    * letter run); they just don't vote during training. */
  val BpeTrainWords = 256

  /** A trained BPE tokenizer: the ranked merges table. */
  case class BpeModel(merges: Seq[(String, String)]) {
    /** The merges as the flattened `[a₁, b₁, a₂, b₂, …]` literal the
      * BPE kernels take. */
    def literal: Column = typedlit(merges.flatMap(p => Seq(p._1, p._2)))
  }

  /** How many times the BPE fit actually EXECUTED — staging
    * observability (the `lmFitRuns` sibling). */
  val bpeFitRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** One greedy left-to-right non-overlapping merge pass — the exact
    * procedure [[graft.functions.BpeEncode]] runs per rank (and the
    * oracle's per-rank rewrite). */
  private def bpeMergePass(ts: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var j = 0
    while (j < ts.length) {
      if (j < ts.length - 1 && ts(j) == a && ts(j + 1) == b) {
        out += (a + b); j += 2
      } else { out += ts(j); j += 1 }
    }
    out.toArray
  }

  /** Learn a BPE merges table from the corpus: word frequencies from
    * the shared `[a-z]+` pre-tokenization (ONE map-side-combined
    * aggregation, top-V driver artifact), then the classic driver loop —
    * count adjacent symbol pairs weighted by word frequency, merge the
    * most frequent (ties: count desc, then pair lexicographic — the
    * oracle's ORDER BY), stop when no pair repeats or K merges are
    * learned. Everything after the one aggregation touches V rows. */
  def fitBpeModel(docs: DataFrame, topWords: Int = BpeTrainWords,
      maxMerges: Int = BpeMerges): BpeModel = {
    bpeFitRuns.incrementAndGet()
    val top = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t"))
      .limit(topWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Array[String], Long)] =
      top.map { case (w, c) => (w.toCharArray.map(String.valueOf), c) }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (!done && merges.length < maxMerges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (ts, c) =>
        var i = 0
        while (i < ts.length - 1) {
          val k = (ts(i), ts(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      val candidates = counts.filter(_._2 >= 2L)
      if (candidates.isEmpty) done = true
      else {
        val ((a, b), _) = candidates.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((a, b))
        vocab = vocab.map { case (ts, c) => (bpeMergePass(ts, a, b), c) }
      }
    }
    BpeModel(merges.toSeq)
  }

  private[graft] val bpeCache = new graft.util.StampedMemo[BpeModel]("documents")

  /** The corpus BPE tokenizer as a staged per-snapshot artifact (the
    * [[stagedLmModel]] memo discipline — (size, mtime)-stamped, refit
    * on in-place rewrite). */
  def stagedBpeModel(spark: SparkSession, sfDir: String): BpeModel =
    bpeCache.get(sfDir)(
      fitBpeModel(graft.model.Fixtures.documents(spark, sfDir)))

  /** [[tokenCounts]] under a TRAINED merges table: `bpe_tokens` counts
    * the pre-token stream with the staged merges applied in-row by the
    * native [[graft.functions.BpeEncode]] kernel (the merges ride into
    * generated code as a literal — broadcast-for-free, the classifier
    * weights/codebook shape); `re_tokens` keeps the regex approximation
    * for continuity. Pure projection — zero exchanges; the only
    * corpus-sized work is the scan the count rides on. */
  def tokenCountsTrained(docs: DataFrame, bpe: BpeModel): DataFrame = {
    withTokens(docs).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(filter(col("w"), x => x =!= "")).as("ws_tokens"),
      size(preTokens).as("re_tokens"),
      call_function("bpe_count", preTokens, bpe.literal).as("bpe_tokens"))
  }

  /** Token-ID EMISSION under the trained merges — the training-prep
    * output a pipeline actually ships to the trainer (`bpe_cnt` proves
    * the merges and prices budgets; this materializes the sequences).
    * The native [[graft.functions.BpeEncode]] kernel emits one
    * `ARRAY<INT>` per document (same greedy pass, same staged merges
    * literal, same pre-token classes as the count kernel — one shared
    * tokenization contract); the CONTRACT projection then lands the
    * sequence as scalars — `n_tokens` (= `size(ids)` = `bpe_count` by
    * construction) and the comma-joined `token_ids` string — because the
    * driver's comparator cannot sort array cells (the round-7 gate
    * divergence; the `pq_enc` packed-scalar precedent). Pure projection:
    * zero exchanges, the only corpus-sized work is the scan. Id space:
    * see [[graft.functions.BpeEncode]] (unmerged letter = 0..25, merged
    * symbol = 26 + first rank with its surface, non-letter pre-token =
    * UNK = 26 + K). */
  def bpeEncodeIds(docs: DataFrame, bpe: BpeModel): DataFrame = {
    docs
      .select(col("doc_id"),
        call_function("bpe_encode", preTokens, bpe.literal).as("ids"))
      .select(col("doc_id"),
        size(col("ids")).as("n_tokens"),
        array_join(transform(col("ids"), i => i.cast("string")), ",")
          .as("token_ids"))
  }

  /** DECODE round-trip under the trained merges — the contract
    * completing the tokenizer triad (`bpe_cnt` prices budgets,
    * `bpe_enc` ships the ids, this proves the shipped ids DECODE):
    * encode each document's pre-token stream with the staged merges,
    * then invert every id back to its surface via the native
    * [[graft.functions.BpeDecode]] kernel (space-joined; UNK ids — the
    * non-letter byte-fallback classes — decode to the `<unk>`
    * sentinel). `decode(encode(w)) == w` per letter-run pre-token is
    * the ScalaCheck-locked property; this key materializes the per-doc
    * content lock the r17 count-equality lock lacked. Pure projection:
    * zero exchanges, the only corpus-sized work is the scan both
    * kernels ride on. */
  def bpeDecodeText(docs: DataFrame, bpe: BpeModel): DataFrame = {
    docs
      .select(col("doc_id"),
        call_function("bpe_encode", preTokens, bpe.literal).as("ids"))
      .select(col("doc_id"),
        size(col("ids")).as("n_tokens"),
        call_function("bpe_decode", col("ids"), bpe.literal).as("detok"))
  }

  /** The composable gram-hash form — the numerics/portability reference
    * [[graft.functions.GramMd5s]] must match string-for-string (the
    * native expression is the production path; equivalence is asserted
    * in tests).
    */
  private[graft] def gramMd5sHof(gramLen: Int): org.apache.spark.sql.Column =
    expr(s"""transform(
               sequence(1, greatest(length(text) - ${gramLen - 1}, 1)),
               i -> md5(cast(substr(text, i, $gramLen) as binary)))""")

  /** PII patterns for [[docPiiScrub]], applied in this order. Restricted
    * to the regex subset Java (Spark) and RE2 (DuckDB) agree on —
    * character classes, bounded counts, alternation; no lookaround, no
    * backreferences — so the oracle can run the IDENTICAL pattern text.
    * Email first (its local part would otherwise feed the phone run),
    * then dotted-quad IPs (their octets likewise), then phone-ish digit
    * runs.
    */
  private[graft] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+?[0-9][0-9()\\-. ]{7,}[0-9]", "<PHONE>"))

  /** PII masking (the C4/Dolma/FineWeb-style scrub every public-web
    * curation pipeline runs before training): emails, dotted-quad IPs,
    * and phone-shaped digit runs replace with typed placeholders. Counts
    * are taken per kind on the progressively-scrubbed text (mirroring
    * the replacement cascade, so an email's digits are never also
    * counted as a phone), and the scrubbed text is emitted as an md5 so
    * the contract row stays scalar (the comparator cannot sort raw-text
    * columns of arbitrary size; library callers use [[piiScrubText]]
    * for the scrubbed column itself). Pure per-row projection — zero
    * exchanges, the identical plan at 10^11 documents. The fixtures
    * contain no PII, so fixture counts are all zero and `scrub_md5 =
    * md5(text)` — the regex semantics are locked cross-engine by the
    * oracle and the real redaction path by the synthetic-row spec.
    */
  def docPiiScrub(docs: DataFrame): DataFrame = {
    val stages = PiiPatterns.scanLeft(col("text")) {
      case (t, (_, re, repl)) => regexp_replace(t, lit(re), lit(repl))
    }
    val counts = PiiPatterns.zip(stages.init).map {
      case ((kind, re, _), t) => regexp_count(t, lit(re)).as(s"n_$kind")
    }
    docs.select(col("doc_id") +: counts :+
      md5(stages.last.cast("binary")).as("scrub_md5"): _*)
  }

  /** The scrubbed text itself, for library composition (the contract key
    * hashes it — see [[docPiiScrub]]). */
  def piiScrubText(text: Column): Column =
    PiiPatterns.foldLeft(text) {
      case (t, (_, re, repl)) => regexp_replace(t, lit(re), lit(repl))
    }

  /** Document fingerprint: bottom-4 sketch of character-8-gram md5s — a
    * winnowing-style locality-sensitive signature (shared low hashes ⇒
    * shared substrings). The gram hashing runs in the fused native
    * [[graft.functions.GramMd5s]] loop (the composable per-gram
    * `md5(substr(...))` chain is CodegenFallback — ~2000 interpreted
    * evaluations per document); sort + slice ride on the one produced
    * array. The sketch column is what a corpus-level index would be
    * built on.
    */
  def docFingerprint(docs: DataFrame): DataFrame = {
    docs.select(
      col("doc_id"),
      array_join(
        slice(array_sort(call_function("gram_md5s", col("text"), lit(8))), 1, 4),
        "|").as("fingerprint"),
      greatest(length(col("text")) - 7, lit(1)).cast("long").as("n_grams"))
  }

  /** Deterministic train/val/test split — the dataset-management
    * primitive every training pipeline needs: membership is a pure
    * function of doc_id (md5-derived bucket in [0, 1000), 80/10/10), so
    * the split is stable across runs, engines, and re-shards, needs no
    * stored assignment table, and never leaks documents across splits as
    * the corpus grows (a new document lands in exactly one split;
    * existing documents never move). A per-row codegen'd projection plus
    * one map-side-combined aggregate — no shuffle beyond the 3-group
    * rollup, the same plan at 10^11 documents.
    */
  def docSplitAssign(docs: DataFrame): DataFrame = {
    val bucket = Hashing.md5Bucket(col("doc_id"), 1000)
    val splitLabel = when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    docs.select(splitLabel.as("split"), length(col("text")).as("n_chars"), col("doc_id"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  /** Context-window budget for [[docPackBins]] and the shard fan-out the
    * packing runs under. */
  val PackBudget = 512L
  val PackShards = 8L

  /** Token-budget sequence packing — the batch-assembly step of a
    * training pipeline: assign documents to fixed-token-budget bins
    * (context windows) so downstream training reads one bin per sample.
    * Documents first land in one of [[PackShards]] deterministic shards
    * (same md5 discipline as [[docSplitAssign]] — stable across runs,
    * engines, and re-shards), then pack greedily in doc_id order by
    * RUNNING token count: bin = floor(exclusive-prefix-sum / budget).
    * A document straddling a boundary closes the bin — the streaming
    * "approximate packing" rule, which needs only a prefix sum instead
    * of bin-packing's sequential state.
    *
    * Scale shape: one window aggregation PARTITIONED BY shard (never a
    * global, single-reducer window), over a per-row codegen'd
    * projection. Packing within shards is how it runs in production
    * anyway — each training worker packs its own shard; more workers =
    * raise [[PackShards]], the plan is unchanged.
    */
  def docPackBins(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"),
      size(preTokens).cast("long").as("n_tokens"),
      Hashing.md5Bucket(col("doc_id"), PackShards).as("shard"))
    val byShard = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    toks
      .withColumn("cum", sum(col("n_tokens")).over(byShard))
      .select(
        col("doc_id"), col("shard"),
        floor((col("cum") - col("n_tokens")).cast("double") / PackBudget)
          .cast("long").as("bin"),
        col("n_tokens"))
  }

  /** Pack-efficiency audit of [[docPackBins]] — the manifest a training
    * job reads before consuming the packed output: per-shard bin count,
    * document/token totals, and the min/max bin fill (max > [[PackBudget]]
    * happens exactly when one document exceeds the budget; min far below
    * it on a closed bin means padding waste). This is the accounting step
    * real packing pipelines ship next to the shards — training throughput
    * is fill ratio, and an unaudited packer silently burns step time on
    * pad tokens.
    *
    * Scale shape: composes the pack assignment (already per-shard
    * windowed, never a global sort) and rolls up through TWO map-side
    * combined hash aggregations — (shard, bin) then shard — each output
    * bounded by bin/shard counts, never document count. Every aggregate
    * is an exact integer (SURVEY §7.3).
    */
  def packStats(docs: DataFrame): DataFrame =
    docPackBins(docs)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("bd"), sum(col("n_tokens")).as("bt"))
      .groupBy("shard")
      .agg(
        (max(col("bin")) + 1L).as("n_bins"),
        sum(col("bd")).as("n_docs"),
        sum(col("bt")).as("n_tokens"),
        min(col("bt")).as("min_bin_tokens"),
        max(col("bt")).as("max_bin_tokens"))

  /** Word n-gram instance array (1-based positions, space-joined), empty
    * when the document is shorter than `n` tokens — `sequence(1, 0)`
    * would DESCEND, hence the explicit guard. */
  private def wordGrams(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Duplicate-instance fraction of an array: occurrences beyond each
    * value's first, over total — integer/integer, so bit-identical
    * across engines. */
  private def dupFrac(a: Column): Column =
    when(size(a) > 0,
      (size(a) - size(array_distinct(a))) / size(a).cast("double"))
      .otherwise(lit(0.0))

  /** Repetition thresholds for the [[textRepetition]] keep verdict
    * (Gopher-style repetition filtering; the exact cutoffs are data-tuned
    * parameters, these exercise both verdicts on the fixture). */
  val DupWordMax = 0.6
  val Dup2GramMax = 0.1

  /** Repetition signals — the Gopher-family quality filter: fraction of
    * duplicate word instances, duplicate 2-gram instances, and duplicate
    * 5-gram instances per document, plus the keep/drop verdict. Repeated
    * n-grams are the strongest single predictor of low-quality generated
    * or boilerplate text.
    *
    * Everything is an in-row projection over one tokenization — per-doc
    * frequency work NEVER leaves the row (the explode-and-count rewrite
    * shuffles the entire token stream of the corpus; this shuffles
    * nothing). All three signals come from the fused native
    * [[graft.functions.DupFracs]] pass (the composable
    * [[textRepetitionHof]] chain is ~6 CodegenFallback array passes per
    * row and was the 4th-priciest key at sf0.1: 1.5 s of a 40 s suite).
    */
  def textRepetition(docs: DataFrame): DataFrame = {
    // NULL text: the HOF/oracle forms give (NULL n_tokens, 0.0 fractions,
    // keep) because every `when(size(NULL) > 0, ...)` falls to its 0.0
    // branch — the kernel would instead null the whole struct, so feed it
    // an empty array and restore n_tokens' NULL separately
    withTokens(docs)
      .select(col("doc_id"), col("w"),
        call_function("dup_fracs",
          coalesce(col("w"), array().cast("array<string>"))).as("f"))
      .select(
        col("doc_id"),
        when(col("w").isNull, lit(null).cast("int"))
          .otherwise(col("f.n_tokens")).as("n_tokens"),
        col("f.dup_word_frac").as("dup_word_frac"),
        col("f.dup_2gram_frac").as("dup_2gram_frac"),
        col("f.dup_5gram_frac").as("dup_5gram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= DupWordMax && col("dup_2gram_frac") <= Dup2GramMax)
  }

  /** The composable HOF reference form of [[textRepetition]] — the
    * numerics/portability reference [[graft.functions.DupFracs]] must
    * match value-for-value (equivalence asserted in tests). */
  private[graft] def textRepetitionHof(docs: DataFrame): DataFrame =
    withTokens(docs).select(
      col("doc_id"), size(col("w")).as("n_tokens"),
      dupFrac(col("w")).as("dup_word_frac"),
      dupFrac(wordGrams(col("w"), 2)).as("dup_2gram_frac"),
      dupFrac(wordGrams(col("w"), 5)).as("dup_5gram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= DupWordMax && col("dup_2gram_frac") <= Dup2GramMax)

  /** Boilerplate detection thresholds: a 3-gram is boilerplate when it
    * appears in more than 1% of documents AND at least [[BpDfMin]] — the
    * absolute floor keeps tiny corpora from flagging noise. */
  val BpDfMin = 3L

  /** Corpus-level boilerplate marking — the C4-style cleanup step: word
    * 3-grams whose DOCUMENT frequency exceeds 1% of the corpus are
    * boilerplate (navigation chrome, license footers, template text);
    * each document reports how much of it is boilerplate.
    *
    * Scale shape: document frequency is a corpus statistic, so one
    * explode→count aggregation is irreducible — but it is map-side
    * combined (distinct grams per partition ≪ gram instances) and the
    * HEAVY set it yields is provably bounded: Σ df ≤ total instances and
    * each heavy gram has df > N/100, so |heavy| ≤ 100 × avg grams/doc —
    * a constant in corpus size. That bound is what makes `broadcast
    * (heavy)` safe at 100 TB (same argument as the IVF centroid index),
    * and the per-doc count is then a broadcast hash join + one keyed
    * aggregate. Nothing quadratic, nothing driver-side beyond the
    * bounded heavy set.
    */
  def docBoilerplate(docs: DataFrame): DataFrame = {
    val grams = withTokens(docs)
      .select(col("doc_id"), wordGrams(col("w"), 3).as("g3"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val df = grams.select(explode(array_distinct(col("g3"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
    // integer threshold (df·100 > N), never a float product of N
    val heavy = df.crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 > col("n_docs") && col("df") >= BpDfMin)
      .select("gram")
    // instance count and per-doc totals in ONE pass: explode_outer keeps
    // gram-less docs alive, the heavy join marks hits, and the doc_id
    // aggregate carries n_grams through first() — the join-back-on-doc_id
    // formulation scanned (and re-shingled) the corpus a third time
    grams
      .select(col("doc_id"), size(col("g3")).cast("long").as("n_grams"),
        explode_outer(col("g3")).as("gram"))
      .join(broadcast(heavy.withColumn("hit", lit(1L))), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(first(col("n_grams")).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("bp_grams"))
      .select(
        col("doc_id"), col("n_grams"), col("bp_grams"),
        when(col("n_grams") > 0,
          col("bp_grams") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)).as("bp_frac"))
  }

  /** Vocabulary cap for [[textLmPerplexity]] — the CCNet discipline: a
    * FIXED-SIZE vocabulary (theirs: a 64k SentencePiece model) is what
    * makes the scoring table a bounded, broadcastable artifact at any
    * corpus size; everything out-of-vocabulary scores the floor. */
  val LmVocabSize = 10000

  /** Unigram-LM perplexity scoring — the CCNet-style quality filter: fit
    * a unigram language model on the corpus itself (top-[[LmVocabSize]]
    * tokens by frequency), score every document by its mean token
    * log-probability. Low-probability-dense documents are gibberish or
    * boilerplate; real pipelines bucket the corpus by this score
    * (head/middle/tail) before expensive stages.
    *
    * Scale shape: the LM is TWO bounded driver artifacts (total count +
    * the top-V scoring table — the IVF-centroid-index precedent), and
    * scoring is a pure in-row lookup fold: no per-document shuffle, no
    * token-stream join. The vocabulary aggregation is the one
    * corpus-wide exchange, map-side combined. Numerics: log-probs are
    * rounded to 6 decimals BEFORE scoring (both engines round the same
    * doubles; ln differs by at most 1 ulp, far inside the rounding), and
    * the per-doc mean is a SEQUENTIAL in-row fold, then rounded — so the
    * doubles hash-match the oracle.
    */
  def textLmPerplexity(docs: DataFrame, vocabSize: Int = LmVocabSize): DataFrame =
    textLmPerplexityIndexed(docs, fitLmModel(docs, vocabSize))

  /** The fitted unigram LM: top-V token log-probs + the OOV floor — a
    * bounded driver artifact (V entries at any corpus size), the
    * [[Bm25Index]] sibling. */
  case class LmModel(vocab: Map[String, Double], floorLogp: Double)

  /** Fit an [[LmModel]] on a corpus: one scalar token-total aggregate
    * (no token-level shuffle; an empty corpus sums to NULL — fall back
    * to a 1-token phantom so the never-evaluated projection stays
    * well-formed) + one map-side-combined vocabulary aggregation capped
    * top-V by (count desc, token). OOV floor is half a count's
    * probability mass, rounded with the shared HALF_UP rule
    * (BigDecimal HALF_UP == Spark round() == DuckDB round for these). */
  def fitLmModel(docs: DataFrame, vocabSize: Int = LmVocabSize): LmModel = {
    lmFitRuns.incrementAndGet()
    val toks = withTokens(docs)
    val total = Option(
      toks.agg(sum(size(col("w")))).collect()(0).getAs[java.lang.Long](0))
      .map(_.longValue).getOrElse(1L)
    val vocab = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")) // deterministic ties
      .limit(vocabSize)
      .select(col("t"), round(log(col("c").cast("double") / total), 6).as("logp"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val floorLogp = BigDecimal(math.log(0.5 / total))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    LmModel(vocab, floorLogp)
  }

  /** How many times the LM fit actually EXECUTED — observability for the
    * staging cache, asserted by tests (the `lloydRuns` sibling). */
  val lmFitRuns = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] val lmCache = new graft.util.StampedMemo[LmModel]("documents")

  /** The corpus LM as a staged per-sfDir artifact (the
    * `stagedPqCodebook`/[[bm25Index]] memo discipline): fit once per
    * corpus SNAPSHOT — the memo is (size, mtime)-stamped on the
    * documents table ([[graft.util.StampedMemo]]), so a corpus
    * rewritten in place refits on next access instead of serving the
    * stale model; `lmCache.clear()` stays as the explicit flush. */
  def stagedLmModel(spark: SparkSession, sfDir: String): LmModel =
    lmCache.get(sfDir)(
      fitLmModel(graft.model.Fixtures.documents(spark, sfDir)))

  /** Score against a staged [[LmModel]]: a PURE in-row projection — the
    * only corpus touch is the scan; no per-document shuffle, no
    * token-stream join. Fused native fold: element_at on a map LITERAL
    * is a LINEAR key scan (GetMapValue), and vocab × tokens comparisons
    * would dominate the corpus scan — logp_sum holds a real hash table
    * (see LogpSum). */
  def textLmPerplexityIndexed(docs: DataFrame, lm: LmModel): DataFrame = {
    withTokens(docs).select(
      col("doc_id"),
      size(col("w")).as("n_tokens"),
      round(
        call_function("logp_sum", col("w"), typedlit(lm.vocab), lit(lm.floorLogp)) /
          size(col("w")).cast("double"),
        6).as("avg_logp"))
  }

  /** Backoff penalty `ln 0.4` of Stupid Backoff (Brants et al. 2007),
    * pinned as the ROUNDED 6-decimal literal so both engines add the
    * identical constant (computing-then-rounding ln(0.4) at runtime
    * would invite the decimal-midpoint round() divergence class). */
  val Lm2Alpha: Double = -0.916291

  /** Bigram LM scoring with Stupid Backoff — the step up from
    * [[textLmPerplexity]]'s unigram model that web-scale LM filtering
    * actually runs (Brants et al. 2007: no discounting, no
    * normalization — score `P(w2|w1) = c(w1 w2)/c(w1)` when the bigram
    * is in the table, else `α · P(w2)`, with the same half-count OOV
    * floor): `avg_logp2 = mean over adjacent pairs of ln S`, 0 for
    * documents shorter than 2 tokens.
    *
    * Artifact discipline (the [[textLmPerplexity]] shape, one level up):
    * the model is THREE bounded driver artifacts — top-K bigram
    * conditionals (denominators joined from the exact unigram counts),
    * top-K penalty-folded unigram log-probs, and the penalty-folded
    * floor. Scoring is a single in-row codegen fold
    * ([[graft.functions.BackoffSum]] — bigrams form INSIDE the loop, no
    * gram array materializes; composable reference [[lm2Hof]],
    * equivalence asserted in tests). Fit cost is two token-level
    * aggregations (map-side combined) + one bounded join; nothing
    * corpus-sized crosses to the driver.
    */
  def textLm2Score(docs: DataFrame, vocabSize: Int = LmVocabSize): DataFrame =
    textLm2ScoreIndexed(docs, fitLm2Model(docs, vocabSize))

  /** The fitted bigram Stupid-Backoff LM — three bounded driver
    * artifacts (top-K bigram conditionals, penalty-folded top-K unigram
    * log-probs, penalty-folded floor), the [[LmModel]] sibling one
    * level up. */
  case class Lm2Model(bv: Map[String, Double], uv2: Map[String, Double],
      floor2: Double)

  /** Fit an [[Lm2Model]] on a corpus — the fit half of
    * [[textLm2Score]], factored out so the serving key can score
    * against the STAGED model ([[stagedLm2Model]]) instead of re-running
    * the two token-level aggregations per invocation (the `lm_ppl`
    * staged-fit discipline, extended to the bigram level — opt r19). */
  def fitLm2Model(docs: DataFrame, vocabSize: Int = LmVocabSize): Lm2Model = {
    val toks = withTokens(docs)
    val total = Option(
      toks.agg(sum(size(col("w")))).collect()(0).getAs[java.lang.Long](0))
      .map(_.longValue).getOrElse(1L)
    val uniCounts = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    // penalty folded into the unigram values and the floor ONCE, here —
    // the kernel then needs no branch-specific constant
    val uv2 = uniCounts
      .orderBy(col("c").desc, col("t")).limit(vocabSize)
      .select(col("t"), round(log(col("c").cast("double") / total), 6).as("logp"))
      .collect().map(r => r.getString(0) -> (Lm2Alpha + r.getDouble(1))).toMap
    val floor2 = Lm2Alpha + BigDecimal(math.log(0.5 / total))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bv = toks.select(explode(wordGrams(col("w"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c12"))
      .orderBy(col("c12").desc, col("g")).limit(vocabSize)
      .join(uniCounts.select(col("t").as("w1"), col("c").as("c1")),
        substring_index(col("g"), " ", 1) === col("w1"))
      .select(col("g"),
        round(log(col("c12").cast("double") / col("c1")), 6).as("logp"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Lm2Model(bv, uv2, floor2)
  }

  private val lm2Cache = new graft.util.StampedMemo[Lm2Model]("documents")

  /** The corpus bigram LM as a staged per-sfDir artifact — the
    * [[stagedLmModel]] memo discipline at the bigram level: fit once
    * per corpus SNAPSHOT, (size, mtime)-stamped so an in-place rewrite
    * refits on next access. */
  def stagedLm2Model(spark: SparkSession, sfDir: String): Lm2Model =
    lm2Cache.get(sfDir)(
      fitLm2Model(graft.model.Fixtures.documents(spark, sfDir)))

  /** Score against a fitted [[Lm2Model]]: a pure in-row codegen fold —
    * the serving half of [[textLm2Score]]. */
  def textLm2ScoreIndexed(docs: DataFrame, m: Lm2Model): DataFrame = {
    withTokens(docs).select(
      col("doc_id"),
      size(col("w")).as("n_tokens"),
      when(size(col("w")) < 2, lit(0.0))
        .otherwise(round(
          call_function("backoff_sum", col("w"), typedlit(m.bv), typedlit(m.uv2),
            lit(m.floor2)) / (size(col("w")) - 1).cast("double"),
          6)).as("avg_logp2"))
  }

  /** The composable reference form of [[textLm2Score]]'s fold — the
    * numerics spec [[graft.functions.BackoffSum]] must match sum-for-sum:
    * grams materialize via [[wordGrams]], the second level keys on the
    * gram's last token (`substring_index(g, ' ', -1)` — tokens carry no
    * spaces). */
  private[graft] def lm2Hof(bv: Map[String, Double], uv2: Map[String, Double],
      floor2: Double): Column =
    aggregate(wordGrams(col("w"), 2), lit(0.0), (acc, g) =>
      acc + coalesce(
        element_at(typedlit(bv), g),
        element_at(typedlit(uv2), substring_index(g, " ", -1)),
        lit(floor2)))

  /** CCNet's perplexity partitioning — the step the CCNet pipeline is
    * named for: bucket every document into the `head` / `middle` / `tail`
    * tercile of the corpus LM-score distribution (head = least
    * perplexing third, the slice most pretraining recipes keep or
    * up-weight; `avg_logp` is a NEGATED perplexity proxy, so head is the
    * HIGH end). Composes [[textLmPerplexity]] verbatim.
    *
    * Scale shape: scoring is the LM pass (in-row fold, bounded vocab
    * artifact); the cut-offs are ONE 2-value aggregate crossed back as a
    * 1-row broadcast (the bm25 corpus-stats precedent); labeling is a
    * pure projection. Exact interpolated `percentile` matches DuckDB's
    * `quantile_cont` over the same rounded doubles (the
    * `value_percentiles` parity precedent) — at 100 TB the cut-off
    * aggregate becomes `approx_percentile` (t-digest, mergeable sketch),
    * same plan shape, and the oracle premise is what changes, not the
    * operator.
    */
  def ccnetTiers(docs: DataFrame): DataFrame =
    ccnetTiersIndexed(docs, fitLmModel(docs))

  /** [[ccnetTiers]] against an already-fitted LM — the serving form the
    * `ccnet` key runs with the STAGED model (the `lm_ppl` staged-fit
    * discipline: timed reps measure the scoring + tercile plan, not an
    * LM re-fit — opt r19). */
  def ccnetTiersIndexed(docs: DataFrame, lm: LmModel): DataFrame = {
    val ppl = textLmPerplexityIndexed(docs, lm)
    val cuts = ppl.agg(
      expr("percentile(avg_logp, array(cast(1 as double)/3, cast(2 as double)/3))")
        .as("c"))
      .select(col("c").getItem(0).as("t1"), col("c").getItem(1).as("t2"))
    ppl.crossJoin(broadcast(cuts))
      .select(
        col("doc_id"), col("n_tokens"), col("avg_logp"),
        when(col("avg_logp") >= col("t2"), "head")
          .when(col("avg_logp") >= col("t1"), "middle")
          .otherwise("tail").as("tier"))
  }

  /** Bucket count for [[qualityClassifier]] — the hashing-trick feature
    * dimension. Tiny on purpose (real quality filters use 2^20+): the
    * operator shape — hash → bounded weight vector → in-row fold — is
    * what scales; the vector stays a broadcast-sized model artifact at
    * ANY corpus size precisely because its length is fixed up front. */
  val QlrBuckets = 64

  /** First-15-hex-chars-of-md5 value of a STRING — the driver-side twin
    * of [[Hashing.md5Bucket]]'s column form, used to derive the stand-in
    * model weights deterministically (the PQ-codebook discipline:
    * md5-derived artifacts are reproducible in both engines and across
    * rounds without RNG state). */
  private def md5Prefix60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
    v >>> 4
  }

  /** Stand-in trained weights for [[qualityClassifier]]: bucket i weighs
    * `(md5Bucket("w"+i, 2049) - 1024) / 1024` ∈ [-1, 1] — every value an
    * exact binary fraction, so the decimal literals the oracle embeds
    * round-trip bit-identically (the int8/PQ numerics discipline). A
    * real deployment swaps in its trained vector; nothing else moves. */
  val QlrWeights: Seq[Double] =
    (0 until QlrBuckets).map(i => (md5Prefix60("w" + i) % 2049L - 1024L) / 1024.0)

  /** Decision bias for [[qualityClassifier]] — exact binary fraction. */
  val QlrBias = 0.0625

  /** Hashing-trick linear quality classifier — inference for the
    * fastText-style model that production curation stacks run corpus-wide
    * (CCNet/RefinedWeb-family "is this page worth keeping" filters):
    * `score = bias + (Σ_t weights[md5(t) % D]) / n_tokens`, keep when
    * positive. The model is ONE fixed-length weight vector riding into
    * the expression as a literal (broadcast-by-construction, the
    * LM-vocab/IVF-centroid artifact precedent); scoring is a single
    * codegen-resident fold per row ([[graft.functions.HashWeightSum]]) —
    * no vocabulary join, no shuffle, nothing corpus-sized anywhere, so
    * the plan is a pure projection at any scale. Distinct from
    * [[textLmPerplexity]] in both artifact and shape: the LM is FIT on
    * the corpus (an aggregation pass), while this scores under an
    * EXTERNAL model — the two stages real pipelines chain.
    */
  def qualityClassifier(docs: DataFrame, weights: Seq[Double] = QlrWeights,
      bias: Double = QlrBias): DataFrame = {
    withTokens(docs).select(
      col("doc_id"),
      size(col("w")).as("n_tokens"),
      (lit(bias) +
        call_function("hash_weight_sum", col("w"), typedlit(weights)) /
          size(col("w")).cast("double")).as("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** The composable reference form of [[qualityClassifier]]'s fold — the
    * numerics spec [[graft.functions.HashWeightSum]] must match
    * sum-for-sum (equivalence asserted in tests): element weights fold in
    * array order, a null token contributes 0 (md5(NULL) → NULL index →
    * NULL element_at → coalesce). */
  private[graft] def hashWeightSumHof(weights: Seq[Double]): Column =
    aggregate(col("w"), lit(0.0), (acc, t) =>
      acc + coalesce(
        element_at(typedlit(weights),
          ((conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")
            % weights.length) + 1).cast("int")),
        lit(0.0)))

  /** Gradient steps taken by [[qualityLrFit]] — two is enough to
    * exercise the fit loop's whole state machine (a zero-init first step
    * whose scores are exactly 0.5 in every engine, then a step whose
    * scores flow through the previous step's fitted weights). */
  val LrFitSteps = 2

  /** Learning rate for [[qualityLrFit]] — a power of two, so the weight
    * update `w - eta * g` is EXACT double arithmetic on the 6-decimal
    * gradients and the engines cannot drift between steps. Descent is
    * GUARANTEED, not tuned: the gradient is the per-document MEAN and
    * the features are L1-normalized token fractions (`||x||₂ ≤ 1`), so
    * the logistic loss is (1/4)-smooth and any step below 1/L = 4
    * descends — at every corpus size, which is what makes a fixed
    * constant valid at 100 TB. */
  val LrFitEta = 2.0

  /** In-engine training of the hashing-trick quality classifier — the
    * FIT that produces the weight vector [[qualityClassifier]] consumes
    * (the standard distillation loop: cheap heuristic labels →
    * logistic-regression filter, the fastText-style quality-model
    * recipe): full-batch gradient descent on logistic loss over hashed
    * bag-of-tokens features `x_b = count_b / n_tokens`, labels
    * `y = [quality > threshold]` from the SAME heuristic composite the
    * engine already computes. Returns the fitted `(bucket, weight)`
    * model table.
    *
    * Scale shape (the Lloyd/LM-artifact discipline): each step is ONE
    * corpus pass — scores fold in-row through the native
    * `hash_weight_sum` kernel under the CURRENT weights (a literal, so
    * scoring is a pure projection), then the gradient aggregates
    * per-bucket with a map-side combine (the token explode collapses to
    * ≤ D rows per partition before the exchange). Only the D-row
    * gradient crosses to the driver per step — a bounded artifact like
    * the IVF centroids; weights never exist as a distributed structure.
    *
    * Numerics discipline: labels and features are exact; zero-init makes
    * step 1's sigmoid exactly 0.5 in every engine; each gradient is
    * rounded to 6 decimals AT the aggregation boundary (the Lloyd
    * centroid precedent) so cross-engine summation-order noise cannot
    * propagate; the `eta` update is exact, so both engines enter every
    * step with bit-identical weights.
    */
  def qualityLrFit(docs: DataFrame, steps: Int = LrFitSteps,
      eta: Double = LrFitEta): DataFrame = {
    val spark = docs.sparkSession
    val en = Profiles.head._2
    val toks = docs.select(col("doc_id"), words(col("text")).as("w"))
    // tokenization + labels are step-invariant: cache the projection for
    // the epoch loop (the MLlib iterative-training pattern — spills to
    // disk past memory, the right trade when every step re-reads it).
    // The repartition decouples step parallelism from the input's file
    // splits (a small fixture reads as ONE split, serializing every
    // gradient job); its one-time shuffle amortizes over the steps.
    val labeled = toks
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(
        col("w"),
        (qualityOf(profileScore(en), size(col("w")), avgWlen) >
          LlmOps.QualityThreshold).cast("double").as("y"),
        size(col("w")).cast("double").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketOf = (conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10)
      .cast("long") % QlrBuckets).cast("int")
    try {
      // the per-document MEAN gradient needs the exact corpus count once
      // — a driver scalar (long → double is exact below 2^53); counting
      // `labeled` also materializes the cache before the first step
      val nDocs = labeled.count().toDouble
      var weights: IndexedSeq[Double] = IndexedSeq.fill(QlrBuckets)(0.0)
      (0 until steps).foreach { _ =>
        val s = call_function("hash_weight_sum", col("w"), typedlit(weights)) / col("n")
        val p = lit(1.0) / (lit(1.0) + exp(negate(s)))
        val grad = labeled
          .select(explode(col("w")).as("t"), ((p - col("y")) / col("n")).as("e"))
          .select(bucketOf.as("b"), col("e"))
          .groupBy("b")
          .agg(round(sum(col("e")) / nDocs, 6).as("g"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        weights = IndexedSeq.tabulate(QlrBuckets)(b =>
          weights(b) - eta * grad.getOrElse(b, 0.0))
      }
      import spark.implicits._
      weights.zipWithIndex.map { case (w, b) => (b, w) }.toDF("bucket", "weight")
    } finally labeled.unpersist(blocking = false)
  }

  /** Per-source curation scorecard — the decision table behind
    * source-level filtering (the C4/RefinedWeb/Gopher pattern: sources
    * are kept, down-weighted, or dropped WHOLESALE on aggregate signals
    * before any per-document work ships): for each `source`, document /
    * token / byte volume, exact-duplicate incidence (documents sharing a
    * normalized token-set signature — `docNearDedup`'s sig, restated
    * here so the per-doc flag stays joinable), and the keep rates of the
    * two per-document quality gates this engine implements (the
    * heuristic composite over [[LlmOps.QualityThreshold]], and the
    * [[qualityClassifier]] verdict).
    *
    * Scale shape — SKEW-IMMUNE by construction: the signal branch is one
    * corpus scan of pure projections rolled up map-side to |sources|
    * rows; the duplicate branch never keys a per-DOCUMENT operation by
    * sig at all — it aggregates to per-(sig, source) counts FIRST
    * (map-side combined, one row per key however large the duplicate
    * family), joins those aggregates to per-sig totals, and rolls up.
    * A count-over-sig window (the obvious form) would concentrate a
    * mega-family of identical boilerplate docs into ONE task — and
    * window partitions, unlike skewed joins, are something AQE cannot
    * split. The price is a second tokenizing map pass, which scales
    * linearly; hot partitions don't. Nothing corpus-sized crosses to
    * the driver and no text bytes move past the projections. Every
    * emitted aggregate is an exact integer, so the oracle hash-compare
    * is exact (the avg-of-doubles divergence class is designed out, not
    * rounded away).
    */
  def sourceCurationStats(docs: DataFrame): DataFrame = {
    val en = Profiles.head._2
    val toks = docs.select(
      col("doc_id"), col("source"), length(col("text")).as("n_chars"),
      words(col("text")).as("w"))
    val signals = toks.select(
      col("source"), col("n_chars"),
      size(col("w")).as("n_tokens"),
      qualityOf(profileScore(en), size(col("w")), avgWlen).as("quality"),
      (lit(QlrBias) +
        call_function("hash_weight_sum", col("w"), typedlit(QlrWeights)) /
          size(col("w")).cast("double")).as("lr_score"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars").cast("long")).as("n_bytes"),
        sum((col("quality") > LlmOps.QualityThreshold).cast("long")).as("q_keep"),
        sum((col("lr_score") > 0).cast("long")).as("lr_keep"))
    val sigCounts = toks.select(
      col("source"),
      md5(array_join(sort_array(array_distinct(col("w"))), " ")
        .cast("binary")).as("sig"))
      .groupBy("sig", "source")
      .agg(count(lit(1)).as("cnt"))
    val sigTotals = sigCounts.groupBy("sig").agg(sum(col("cnt")).as("tot"))
    val dups = sigCounts.join(sigTotals, "sig")
      .filter(col("tot") > 1)
      .groupBy("source")
      .agg(sum(col("cnt")).as("dup_docs"))
    signals.join(dups, Seq("source"), "left")
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("n_bytes"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        col("q_keep"), col("lr_keep"))
  }

  /** Mixture weight tiers for [[docMixtureSample]]'s fixture wiring —
    * exercises down-sampling (<1), identity (1), and fractional
    * up-sampling (>1): tier = numeric source suffix mod 4. Real callers
    * pass their own per-source weight column. */
  val MixtureTiers = Seq(0.25, 0.5, 1.0, 2.5)

  /** Dataset-mixture sampling — the source re-weighting step of corpus
    * assembly (up-sample curated sources, down-sample the crawl): each
    * document replicates `floor(w)` times plus one more with probability
    * `frac(w)`, decided by the SAME md5-bucket discipline as
    * [[docSplitAssign]] — so the sample is a pure function of
    * (doc_id, weight): stable across runs/engines/re-shards, no RNG
    * state, and a re-run with a changed weight moves only the documents
    * whose bucket crosses the new threshold. Output is the REPLICATED
    * stream (`epoch` = which repetition), exactly what a training reader
    * consumes; documents sampled out vanish. A per-row projection +
    * bounded explode — no shuffle at any corpus size.
    */
  def docMixtureSample(docs: DataFrame, weight: Column): DataFrame = {
    val bucket = Hashing.md5Bucket(col("doc_id"), 1000)
    // frac(w)*1000 rounded ONCE so the threshold is an exact integer —
    // comparing the bucket against a float frac would hinge on fp dust
    val copies = (floor(weight).cast("long") +
      when(bucket < round((weight - floor(weight)) * 1000).cast("long"), 1L)
        .otherwise(0L)).as("copies")
    docs.select(col("doc_id"), col("source"), copies)
      .filter(col("copies") >= 1) // explicit: sequence(1,0) would DESCEND
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("copies"))).as("epoch"))
  }

  /** Fixture weight column: tier by the source's numeric suffix. */
  private def fixtureWeight: Column = {
    val tier = substring(col("source"), 4, 10).cast("int") % MixtureTiers.size
    MixtureTiers.zipWithIndex.foldLeft(lit(MixtureTiers.head)) {
      case (acc, (w, i)) => when(tier === i, lit(w)).otherwise(acc)
    }
  }

  // ---------------------------------------------------------------------
  // Lexical retrieval
  // ---------------------------------------------------------------------

  /** Fixed query for the contract key — terms present in the fixture
    * vocabulary; real callers pass their own. */
  val Bm25Terms: Seq[String] = Seq("spark", "window", "hash")

  /** Contract-key result size. */
  val Bm25K = 15

  /** BM25 lexical retrieval — keyword top-k over the corpus, the lexical
    * complement of the embedding ANN stack (SimilarityOps): a curation
    * pipeline uses it for targeted audits ("show me the docs about X")
    * and benchmark-decontamination triage where exact grams are too
    * strict and embeddings too fuzzy. Okapi BM25, k1=1.2, b=0.75,
    * idf = ln(1 + (N - df + ½)/(df + ½)) (the Lucene form: never
    * negative).
    *
    * Scale shape: per-document term frequencies and length fold INSIDE
    * the row (native `count_in` per query term — the query is a handful
    * of terms, so this is q bounded codegen'd loops, no token explode);
    * the corpus statistics (N, Σdl, per-term df) are ONE scalar
    * aggregate — a single 1-row artifact broadcast back — and scoring is
    * a pure projection feeding TakeOrdered. No token-level shuffle, no
    * posting-list join: at 100 TB this is one scan + one scalar exchange,
    * the correct brute-force plan (an inverted index is a different
    * storage bet, not a better plan for ad-hoc scans).
    *
    * Numerics (SURVEY §7.3): every input to the double math is an exact
    * integer (tf, dl, N, Σdl, df), the expression tree is written
    * identically on both engines, and the one engine-sensitive op — ln,
    * correct only to 1 ulp in the JVM — is absorbed by rounding the score
    * to 6 decimals (the cosine-key precedent).
    */
  def docBm25(docs: DataFrame, terms: Seq[String] = Bm25Terms,
              k: Int = Bm25K): DataFrame = {
    require(terms.nonEmpty, "docBm25: query terms must be non-empty")
    val base = bm25Base(docs, terms)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0).cast("long")).as(s"df$i")): _*)
    base.crossJoin(broadcast(stats))
      .filter(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"), round(bm25Score(terms.indices), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The summed per-term BM25 expression, written in the exact shape the
    * DuckDB oracle spells so the IEEE op order is pinned on both sides. */
  private def bm25Score(termIdx: Seq[Int]): Column =
    termIdx.map { i =>
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i")
      val idf = log((col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      val norm = lit(0.25) + lit(0.75) *
        (col("dl").cast("double") * col("n_docs") / col("sum_dl"))
      idf * (tf * lit(2.2) / (tf + lit(1.2) * norm))
    }.reduce(_ + _)

  /** Per-row BM25 inputs — `tf` per query term and the real-token length
    * `dl` — folded inside the row by the native `count_in` kernel. */
  private[graft] def bm25Base(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val tfs = terms.indices.map { i =>
      call_function("count_in", col("w"), typedlit(Seq(terms(i))))
        .as(s"tf$i")
    }
    // dl counts real tokens: splitting an all-whitespace text yields [""]
    val dl = (size(col("w")) -
      call_function("count_in", col("w"), typedlit(Seq("")))).as("dl")
    withTokens(docs).select(col("doc_id") +: tfs :+ dl: _*)
  }

  /** Staged BM25 corpus statistics — the "build once, query many" index
    * artifact: document count, total length, and document frequency for
    * the top-`vocabSize` tokens. Like the LM scoring table and the IVF
    * centroid index, it is a BOUNDED driver artifact (V entries at any
    * corpus size), recomputed on the corpus's snapshot cadence, not per
    * query. */
  case class Bm25Index(nDocs: Long, sumDl: Long, df: Map[String, Long])

  /** Build a [[Bm25Index]]: one scalar aggregate (N, Σdl) + one
    * map-side-combined token df aggregate capped at the top-V vocabulary
    * by (df desc, token) — the [[textLmPerplexity]] bounded-artifact
    * discipline. A query term outside the vocabulary scores with df = 0
    * (idf overestimated toward the rare-term ceiling — the standard
    * capped-index approximation; raise `vocabSize` to taste). */
  def bm25Index(docs: DataFrame, vocabSize: Int = LmVocabSize): Bm25Index = {
    val toks = withTokens(docs)
    val dl = size(col("w")) - call_function("count_in", col("w"), typedlit(Seq("")))
    val head = toks.agg(count(lit(1)).as("n"), sum(dl).cast("long").as("s")).collect()(0)
    val df = toks.select(explode(array_distinct(col("w"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("t"))
      .limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Bm25Index(head.getLong(0), Option(head.get(1)).map(_ => head.getLong(1)).getOrElse(0L), df)
  }

  /** Merge two [[Bm25Index]]es built over DISJOINT corpus shards — the
    * index-refresh shape: index the new shard, merge, never re-scan the
    * base corpus (the [[DedupOps.docIncrementalDedup]] sibling for
    * retrieval). Counts add; the df table re-caps at `vocabSize` by
    * (df desc, token). EXACT when neither input's vocabulary was capped
    * (asserted in tests); with capped inputs a token that fell below one
    * shard's cap is undercounted — the standard capped-sketch
    * approximation, the same direction as the OOV df = 0 fallback. */
  def mergeBm25Indexes(a: Bm25Index, b: Bm25Index,
      vocabSize: Int = LmVocabSize): Bm25Index = {
    val df = (a.df.keySet ++ b.df.keySet).iterator
      .map(t => t -> (a.df.getOrElse(t, 0L) + b.df.getOrElse(t, 0L))).toSeq
      .sortBy { case (t, d) => (-d, t) }.take(vocabSize).toMap
    Bm25Index(a.nDocs + b.nDocs, a.sumDl + b.sumDl, df)
  }

  /** [[docBm25]] against a STAGED index: the per-query corpus-stats
    * aggregate (and its broadcast-back cross) disappears — scoring is a
    * pure projection feeding TakeOrdered, the only corpus touch is the
    * scan. Values are bit-identical to the self-computing form for
    * in-vocabulary terms (same exact integers through the same
    * expression tree; asserted in tests). */
  def docBm25Indexed(docs: DataFrame, index: Bm25Index,
      terms: Seq[String] = Bm25Terms, k: Int = Bm25K): DataFrame = {
    require(terms.nonEmpty, "docBm25Indexed: query terms must be non-empty")
    // a degenerate index would score every row NaN (dl·N/0) — and NaN
    // sorts FIRST under desc, silently topping the result; fail loudly
    require(index.nDocs > 0 && index.sumDl > 0,
      s"docBm25Indexed: degenerate index (nDocs=${index.nDocs}, sumDl=${index.sumDl})")
    val base = bm25Base(docs, terms)
      .withColumn("n_docs", lit(index.nDocs))
      .withColumn("sum_dl", lit(index.sumDl))
    val withDf = terms.indices.foldLeft(base) { (d, i) =>
      d.withColumn(s"df$i", lit(index.df.getOrElse(terms(i), 0L)))
    }
    withDf
      .filter(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"), round(bm25Score(terms.indices), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The composable HOF reference form of the [[docBm25]] per-row stats —
    * equivalence asserted in tests (native `count_in` vs ArrayFilter). */
  private[graft] def bm25BaseHof(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val tfs = terms.indices.map { i =>
      size(filter(col("w"), x => x === lit(terms(i)))).as(s"tf$i")
    }
    val dl = size(filter(col("w"), x => x =!= lit(""))).as("dl")
    withTokens(docs).select(col("doc_id") +: tfs :+ dl: _*)
  }

  // ---------------------------------------------------------------------
  // Driver-contract wiring
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lang_id" -> ((s, d) => textLangId(Fixtures.documents(s, d))),
    "tq_score" -> ((s, d) => textQualityScore(Fixtures.documents(s, d))),
    // round 11: counts under the staged TRAINED merges (bpe_tokens);
    // re_tokens keeps the regex approximation
    "bpe_cnt" ->
      ((s, d) => tokenCountsTrained(Fixtures.documents(s, d), stagedBpeModel(s, d))),
    // round 17: the id-sequence emission under the same staged merges
    "bpe_enc" ->
      ((s, d) => bpeEncodeIds(Fixtures.documents(s, d), stagedBpeModel(s, d))),
    // round 18: the decode round-trip — shipped ids back to surfaces
    "bpe_dec" ->
      ((s, d) => bpeDecodeText(Fixtures.documents(s, d), stagedBpeModel(s, d))),
    "doc_fp" -> ((s, d) => docFingerprint(Fixtures.documents(s, d))),
    "splits" -> ((s, d) => docSplitAssign(Fixtures.documents(s, d))),
    "doc_pack_bins" -> ((s, d) => docPackBins(Fixtures.documents(s, d))),
    "repetition" -> ((s, d) => textRepetition(Fixtures.documents(s, d))),
    // staged LM: timed reps measure the scoring projection, not a
    // re-fit (r8 verdict: the cold re-fit inside each rep was the one
    // real bench regression)
    // "lm_ppl" née text_lm_perplexity — round-12 bench-line reclaim
    "lm_ppl" ->
      ((s, d) => textLmPerplexityIndexed(Fixtures.documents(s, d), stagedLmModel(s, d))),
    "boilerplate" -> ((s, d) => docBoilerplate(Fixtures.documents(s, d))),
    // "mixture" née doc_mixture_sample — round-12 bench-line reclaim
    "mixture" ->
      ((s, d) => docMixtureSample(Fixtures.documents(s, d), fixtureWeight)),
    "bm25" -> ((s, d) => docBm25(Fixtures.documents(s, d))),
    // "pii" — short by design (bench line budget, the pq_enc precedent)
    "pii" -> ((s, d) => docPiiScrub(Fixtures.documents(s, d))),
    // "quality_lr" — hashing-trick linear classifier inference
    "quality_lr" -> ((s, d) => qualityClassifier(Fixtures.documents(s, d))),
    // short names by necessity (bench line budget, the pq_enc precedent)
    "src_stats" -> ((s, d) => sourceCurationStats(Fixtures.documents(s, d))),
    "pack_stats" -> ((s, d) => packStats(Fixtures.documents(s, d))),
    "lr_fit" -> ((s, d) => qualityLrFit(Fixtures.documents(s, d))),
    // ccnet/lm2 serve from the STAGED models (the lm_ppl discipline —
    // opt r19): timed reps measure the scoring plans, not model re-fits
    "ccnet" ->
      ((s, d) => ccnetTiersIndexed(Fixtures.documents(s, d), stagedLmModel(s, d))),
    "lm2" ->
      ((s, d) => textLm2ScoreIndexed(Fixtures.documents(s, d), stagedLm2Model(s, d))))

  /** The quality-score derivation as a standalone string so composites
    * ([[sourceStatsOracle]]) reuse the EXACT text the standalone key
    * checks — the no-drift discipline the PII oracle established. */
  private def qualityScoreOracle: String = {
    val en = Profiles.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, length(text) AS n_chars,
                             regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                      FROM documents),
        base AS (SELECT doc_id,
                        CAST(n_chars AS INTEGER) AS n_chars,
                        CAST(len(w) AS INTEGER) AS n_tokens,
                        len(list_filter(w, x -> x IN ($en))) / CAST(len(w) AS DOUBLE) AS stop_ratio,
                        list_sum(list_transform(w, x -> CAST(length(x) AS INTEGER))) / CAST(len(w) AS DOUBLE) AS avg_wlen
                 FROM toks)
        SELECT *, stop_ratio * 0.3 + least(1.0, n_tokens / 100.0) * 0.4
                  + least(1.0, avg_wlen / 8.0) * 0.3 AS quality
        FROM base"""
  }

  /** The classifier-inference derivation, factored for the same reason. */
  private def qualityLrOracle: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                      FROM documents),
        scored AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
                          $QlrBias + list_reduce(
                              list_prepend(CAST(0 AS DOUBLE),
                                list_transform(w, t ->
                                  ([${QlrWeights.mkString(", ")}])[
                                    CAST(('0x' || substring(md5(t), 1, 15))::BIGINT
                                         % $QlrBuckets AS INTEGER) + 1])),
                              (a, x) -> a + x) / CAST(len(w) AS DOUBLE) AS score
                   FROM toks)
        SELECT doc_id, n_tokens, score, score > 0 AS keep FROM scored"""

  /** The pack-bin assignment derivation, factored so [[packStatsOracle]]
    * audits the EXACT assignment the standalone key checks. */
  private def packBinsOracle: String =
    s"""WITH toks AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % $PackShards AS shard
          FROM documents)
        SELECT doc_id, shard,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / $PackBudget.0) AS BIGINT) AS bin,
               n_tokens
        FROM toks"""

  /** Per-(shard, bin) fill then per-shard rollup — every aggregate an
    * exact integer, composed over [[packBinsOracle]] verbatim. */
  /** One BPE merge application step as a CTE: `out` = `prev` with the
    * single ranked pair in `g` merged by one left-to-right
    * non-overlapping pass. Merge starts are the pair's positions; inside
    * an equal-symbol run only odd-prefix positions start (the closed
    * form of greedy consumption — [[graft.functions.BpeEncode]] runs the
    * identical pass operationally). An empty `g` (training saturated)
    * passes rows through unchanged. */
  private def bpeApplyStepSql(prev: String, g: String, out: String): String =
    s"""$out AS MATERIALIZED (
          SELECT word, cnt, CASE WHEN s IS NULL THEN ts ELSE
                 list_transform(
                   list_filter(range(1, len(ts) + 1), j -> NOT list_contains(s, j - 1)),
                   j -> CASE WHEN list_contains(s, j) THEN ts[j] || ts[j + 1] ELSE ts[j] END)
               END AS ts
          FROM (
            SELECT w.word, w.cnt, w.ts,
                   CASE WHEN g.a IS NULL THEN NULL ELSE
                     list_filter(range(1, len(w.ts)), j ->
                       w.ts[j] = g.a AND w.ts[j + 1] = g.b AND
                       (g.a <> g.b OR
                        (j - 1 - coalesce(list_max(list_filter(range(1, j), k -> w.ts[k] <> g.a)), 0)) % 2 = 0))
                   END AS s
            FROM $prev w LEFT JOIN $g g ON true))"""

  /** The BPE TRAINING derivation as a WITH-chain body, generated for
    * [[BpeMerges]] steps — the artifact re-derivation discipline every
    * staged model here follows ([[lmPerplexityOracle]], `pqTrainCte`):
    * word counts from the shared `[a-z]+` pre-tokenization, top-V
    * training vocabulary by (count desc, word), then per step — pair
    * counts weighted by word frequency, best pair by (count desc, pair)
    * among those repeating, one merge pass. Training saturation yields
    * empty `bg_i` rows and the remaining steps no-op, exactly like the
    * driver trainer's early stop. The apply chain then tokenizes EVERY
    * distinct letter word (not just the training vocabulary) under the
    * learned ranks, ending in the `bpe_m` (ks, vs) lookup lists the
    * final count fold probes — the [[lmPerplexityOracle]] map shape. */
  private def bpeTrainCte: String = {
    val sb = new StringBuilder
    sb.append(
      s"""blw AS MATERIALIZED (SELECT t, count(*) AS c
              FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
                    FROM documents)
              GROUP BY 1),
          bw_0 AS MATERIALIZED (SELECT t AS word, c AS cnt,
                          list_transform(range(1, length(t) + 1), i -> t[i]) AS ts
                   FROM (SELECT t, c FROM blw ORDER BY c DESC, t LIMIT $BpeTrainWords))""")
    for (i <- 1 to BpeMerges) {
      sb.append(s""",
          bp_$i AS MATERIALIZED (SELECT pr[1] AS a, pr[2] AS b, sum(cnt) AS c
                    FROM (SELECT cnt,
                                 unnest(list_transform(range(1, len(ts)),
                                   j -> [ts[j], ts[j + 1]])) AS pr
                          FROM bw_${i - 1})
                    GROUP BY 1, 2),
          bg_$i AS MATERIALIZED (SELECT a, b FROM bp_$i WHERE c >= 2 ORDER BY c DESC, a, b LIMIT 1),
          ${bpeApplyStepSql(s"bw_${i - 1}", s"bg_$i", s"bw_$i")}""")
    }
    sb.append(s""",
          aw_0 AS MATERIALIZED (SELECT t AS word, 1 AS cnt,
                          list_transform(range(1, length(t) + 1), i -> t[i]) AS ts
                   FROM (SELECT DISTINCT t FROM blw))""")
    for (i <- 1 to BpeMerges)
      sb.append(s""",
          ${bpeApplyStepSql(s"aw_${i - 1}", s"bg_$i", s"aw_$i")}""")
    sb.append(s""",
          bpe_n AS MATERIALIZED (SELECT word, CAST(len(ts) AS INTEGER) AS n FROM aw_$BpeMerges),
          bpe_m AS MATERIALIZED (SELECT list(word ORDER BY word) AS ks, list(n ORDER BY word) AS vs
                    FROM bpe_n)""")
    sb.toString
  }

  /** The ENCODE extension of [[bpeTrainCte]] (appended only by the
    * `bpe_enc` oracle so the count oracle pays nothing): the learned
    * surfaces in rank order (`bpe_v` — empty `bg_i` saturation rows
    * contribute nothing, so `vlen` = merges actually learned), every
    * corpus letter word's id sequence under the shared id contract
    * (unmerged letter = ascii−97; merged symbol = 25 + FIRST surface
    * position, DuckDB `list_position` returns the first match exactly
    * as the kernel's first-rank lookup), and the (ks, vs) lookup lists
    * the per-doc flatten probes — the `bpe_m` map shape with id LISTS
    * as values. */
  private def bpeEncodeCtes: String = {
    val ranks = (1 to BpeMerges)
      .map(i => s"SELECT $i AS r, a, b FROM bg_$i")
      .mkString("\n                UNION ALL ")
    s"""bpe_v AS MATERIALIZED (
          SELECT coalesce(list(a || b ORDER BY r), []::VARCHAR[]) AS surf,
                 CAST(count(*) AS INTEGER) AS vlen
          FROM ($ranks)),
        bpe_e AS MATERIALIZED (
          SELECT word,
                 list_transform(ts, t -> CASE
                   WHEN length(t) = 1 THEN ascii(t) - 97
                   ELSE 25 + CAST(list_position(surf, t) AS INTEGER) END) AS ids
          FROM aw_$BpeMerges, bpe_v),
        bpe_em AS MATERIALIZED (
          SELECT list(word ORDER BY word) AS eks, list(ids ORDER BY word) AS evs
          FROM bpe_e)"""
  }

  private def packStatsOracle: String =
    s"""WITH bins AS (SELECT shard, bin,
                             CAST(count(*) AS BIGINT) AS bd,
                             CAST(sum(n_tokens) AS BIGINT) AS bt
                      FROM ($packBinsOracle) pb
                      GROUP BY shard, bin)
        SELECT shard,
               CAST(max(bin) + 1 AS BIGINT) AS n_bins,
               CAST(sum(bd) AS BIGINT) AS n_docs,
               CAST(sum(bt) AS BIGINT) AS n_tokens,
               min(bt) AS min_bin_tokens,
               max(bt) AS max_bin_tokens
        FROM bins GROUP BY shard"""

  /** The LM-scoring derivation, factored so [[ccnetOracle]] partitions
    * the EXACT per-doc scores the standalone key checks. */
  private def lmPerplexityOracle: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                      FROM documents),
          tok AS (SELECT unnest(w) AS t FROM toks),
          counts AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
          tot AS (SELECT sum(c) AS total FROM counts),
          vocab AS (SELECT t, round(ln(c / total), 6) AS logp
                    FROM counts, tot
                    ORDER BY c DESC, t LIMIT $LmVocabSize),
          m AS (SELECT list(t ORDER BY t) AS ks, list(logp ORDER BY t) AS vs
                FROM vocab),
          flo AS (SELECT round(ln(0.5 / total), 6) AS floor_logp FROM tot)
        SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
               round(list_reduce(
                       list_prepend(0.0,
                         list_transform(w,
                           t -> coalesce(vs[list_position(ks, t)], floor_logp))),
                       (a, v) -> a + v) / len(w), 6) AS avg_logp
        FROM toks, m, flo"""

  /** The Stupid Backoff derivation: the unigram CTEs replicate
    * [[lmPerplexityOracle]]'s artifact text; the bigram table joins the
    * exact unigram counts for its conditional denominators
    * (`split_part(g, ' ', 1)` ≡ Spark's `substring_index` — tokens carry
    * no spaces); the score fold nests the two lookups exactly as
    * [[graft.functions.BackoffSum]] does, with the alpha fold applied at
    * the same places. */
  private def lm2Oracle: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                      FROM documents),
          tok AS (SELECT unnest(w) AS t FROM toks),
          counts AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
          tot AS (SELECT sum(c) AS total FROM counts),
          vocab AS (SELECT t, round(ln(c / total), 6) AS logp
                    FROM counts, tot
                    ORDER BY c DESC, t LIMIT $LmVocabSize),
          um AS (SELECT list(t ORDER BY t) AS uks,
                        list($Lm2Alpha + logp ORDER BY t) AS uvs
                 FROM vocab),
          bgram AS (SELECT unnest(CASE WHEN len(w) >= 2
                      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                      ELSE [] END) AS g
                    FROM toks),
          bcounts AS (SELECT g, count(*) AS c12 FROM bgram GROUP BY 1),
          btop AS (SELECT g, c12 FROM bcounts ORDER BY c12 DESC, g LIMIT $LmVocabSize),
          bg AS (SELECT b.g, round(ln(CAST(b.c12 AS DOUBLE) / c.c), 6) AS logp
                 FROM btop b JOIN counts c ON c.t = split_part(b.g, ' ', 1)),
          bm AS (SELECT list(g ORDER BY g) AS bks, list(logp ORDER BY g) AS bvs
                 FROM bg),
          flo AS (SELECT $Lm2Alpha + round(ln(0.5 / total), 6) AS floor2 FROM tot)
        SELECT t.doc_id, CAST(len(t.w) AS INTEGER) AS n_tokens,
               CASE WHEN len(t.w) < 2 THEN 0.0 ELSE
                 round(list_reduce(list_prepend(0.0,
                   list_transform(range(1, len(t.w)), i ->
                     coalesce(bvs[list_position(bks, t.w[i] || ' ' || t.w[i+1])],
                              uvs[list_position(uks, t.w[i+1])],
                              floor2))),
                   (a, v) -> a + v) / (len(t.w) - 1), 6)
               END AS avg_logp2
        FROM toks t, um, bm, flo"""

  /** Tercile cut-offs + labeling over the composed LM scores; the
    * interpolated-quantile parity with Spark's `percentile` is the
    * `value_percentiles` precedent, and both engines derive 1/3 by the
    * same IEEE division. */
  private def ccnetOracle: String =
    s"""WITH ppl AS (${lmPerplexityOracle}),
        cuts AS (SELECT quantile_cont(avg_logp, CAST(1 AS DOUBLE) / 3) AS t1,
                        quantile_cont(avg_logp, CAST(2 AS DOUBLE) / 3) AS t2
                 FROM ppl)
        SELECT doc_id, n_tokens, avg_logp,
               CASE WHEN avg_logp >= t2 THEN 'head'
                    WHEN avg_logp >= t1 THEN 'middle'
                    ELSE 'tail' END AS tier
        FROM ppl, cuts"""

  /** The fit loop of [[qualityLrFit]] unrolled for [[LrFitSteps]] = 2:
    * labels come from the composed [[qualityScoreOracle]] (no drift with
    * the Spark side's heuristic), step 1's sigmoid is the exact 0.5 of
    * zero-init, each gradient rounds to 6 decimals at its aggregation,
    * and the weight updates are the same exact `- eta * g` arithmetic.
    * Buckets untouched by any token keep weight 0 via the range()
    * left joins. */
  private def qualityLrFitOracle: String =
    s"""WITH lab AS (
          SELECT t.doc_id, regexp_split_to_array(trim(lower(t.text)), '\\s+') AS w,
                 CAST(len(regexp_split_to_array(trim(lower(t.text)), '\\s+')) AS DOUBLE) AS n,
                 CASE WHEN q.quality > ${graft.operators.LlmOps.QualityThreshold}
                      THEN 1.0 ELSE 0.0 END AS y
          FROM documents t JOIN ($qualityScoreOracle) q USING (doc_id)),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        tok1 AS (SELECT unnest(w) AS t, (0.5 - y) / n AS e FROM lab),
        g1 AS (SELECT CAST(('0x' || substring(md5(t), 1, 15))::BIGINT
                           % $QlrBuckets AS INTEGER) AS b,
                      round(sum(e) / any_value(m.nd), 6) AS g
               FROM tok1, nd m GROUP BY 1),
        w1 AS (SELECT list(COALESCE(-$LrFitEta * g1.g, 0.0) ORDER BY r.b) AS wv
               FROM range(0, $QlrBuckets) r(b) LEFT JOIN g1 ON g1.b = r.b),
        s2 AS (SELECT l.doc_id, l.w, l.n, l.y,
                      list_reduce(list_prepend(0.0,
                        list_transform(l.w, t ->
                          m.wv[CAST(('0x' || substring(md5(t), 1, 15))::BIGINT
                                    % $QlrBuckets AS INTEGER) + 1])),
                        (a, x) -> a + x) / l.n AS s
               FROM lab l, w1 m),
        tok2 AS (SELECT unnest(w) AS t, (1.0 / (1.0 + exp(-s)) - y) / n AS e FROM s2),
        g2 AS (SELECT CAST(('0x' || substring(md5(t), 1, 15))::BIGINT
                           % $QlrBuckets AS INTEGER) AS b,
                      round(sum(e) / any_value(m.nd), 6) AS g
               FROM tok2, nd m GROUP BY 1)
        SELECT CAST(r.b AS INTEGER) AS bucket,
               m.wv[r.b + 1] - $LrFitEta * COALESCE(g2.g, 0.0) AS weight
        FROM range(0, $QlrBuckets) r(b)
        LEFT JOIN g2 ON g2.b = r.b
        CROSS JOIN w1 m"""

  /** Source rollup composed from the quality, classifier, and
    * exact-dup-signature derivations (the sig text restates
    * `doc_near_dedup`'s, see [[sourceCurationStats]]); every aggregate
    * an exact integer so the hash compare is exact. */
  private def sourceStatsOracle: String =
    s"""WITH sig AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
                       regexp_split_to_array(trim(lower(text)), '\\s+'))), ' ')) AS sig
                     FROM documents),
        sz AS (SELECT sig, count(*) AS n FROM sig GROUP BY 1)
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(length(d.text)) AS BIGINT) AS n_bytes,
               CAST(sum(CASE WHEN z.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
               CAST(sum(CASE WHEN q.quality > ${graft.operators.LlmOps.QualityThreshold}
                        THEN 1 ELSE 0 END) AS BIGINT) AS q_keep,
               CAST(sum(CASE WHEN lr.keep THEN 1 ELSE 0 END) AS BIGINT) AS lr_keep
        FROM documents d
        JOIN ($qualityScoreOracle) q USING (doc_id)
        JOIN ($qualityLrOracle) lr USING (doc_id)
        JOIN sig s USING (doc_id)
        JOIN sz z USING (sig)
        GROUP BY d.source"""

  /** The PII oracle is GENERATED from [[PiiPatterns]] so the pattern
    * text cannot drift between the Spark cascade and the SQL one; the
    * 'g' flag mirrors Spark's replace-all default, and counts run on the
    * same progressively-scrubbed stages. */
  private def piiOracle: String = {
    val stages = PiiPatterns.zipWithIndex.map {
      case (((_, re, repl)), i) =>
        s"s${i + 1} AS (SELECT *, regexp_replace(t$i, '$re', '$repl', 'g') AS t${i + 1} FROM s$i)"
    }.mkString(",\n            ")
    val counts = PiiPatterns.zipWithIndex.map {
      case ((kind, re, _), i) =>
        s"CAST(len(regexp_extract_all(t$i, '$re')) AS INTEGER) AS n_$kind"
    }.mkString(",\n                   ")
    s"""WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
            $stages
        SELECT doc_id,
                   $counts,
                   md5(t${PiiPatterns.size}) AS scrub_md5
        FROM s${PiiPatterns.size}"""
  }

  private def duckScore(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(w, x -> x IN ($list))) / CAST(len(w) AS DOUBLE)"
  }

  def oracle: Map[String, String] = {
    val scoreSelects = Profiles
      .map { case (l, ws) => s"${duckScore(ws)} AS s_$l" }.mkString(",\n                 ")
    val bestExpr = "greatest(" + Profiles.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val predExpr = Profiles.reverse.foldLeft("'und'") { case (elseE, (lang, _)) =>
      s"CASE WHEN s_$lang = best AND best > 0 THEN '$lang' ELSE $elseE END"
    }
    val en = Profiles.head._2.map(w => s"'$w'").mkString(", ")
    val tierCase = MixtureTiers.zipWithIndex
      .map { case (w, i) => s"WHEN $i THEN $w" }.mkString(" ")
    Map(
      "pii" -> piiOracle,
      // weights/bias interpolate from the SAME Scala values the Spark
      // expression uses (the PII-oracle no-drift discipline); every
      // weight is an exact binary fraction so the decimal round-trips
      "quality_lr" -> qualityLrOracle,
      "lr_fit" -> qualityLrFitOracle,
      "src_stats" -> sourceStatsOracle,
      "pack_stats" -> packStatsOracle,
      "text_lang_id" ->
        s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                          FROM documents),
            scored AS (SELECT doc_id,
                 $scoreSelects
                 FROM toks),
            withbest AS (SELECT *, $bestExpr AS best FROM scored)
            SELECT doc_id, $predExpr AS pred_lang, best AS score
            FROM withbest""",
      "tq_score" -> qualityScoreOracle,
      "bpe_cnt" ->
        s"""WITH $bpeTrainCte
           SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
                  CAST(len(list_filter(regexp_split_to_array(trim(lower(d.text)), '\\s+'),
                                       x -> x <> '')) AS INTEGER) AS ws_tokens,
                  CAST(len(regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS re_tokens,
                  CAST(list_reduce(list_prepend(0,
                         list_transform(regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
                           t -> coalesce(vs[list_position(ks, t)], 1))),
                         (a, b) -> a + b) AS INTEGER) AS bpe_tokens
           FROM documents d, bpe_m""",
      "bpe_enc" ->
        s"""WITH $bpeTrainCte,
            $bpeEncodeCtes
           SELECT doc_id,
                  CAST(len(ids) AS INTEGER) AS n_tokens,
                  array_to_string(ids, ',') AS token_ids
           FROM (
             SELECT d.doc_id,
                    flatten(list_transform(
                      regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
                      t -> CASE WHEN regexp_matches(t, '^[a-z]+$$')
                                THEN evs[list_position(eks, t)]
                                ELSE [26 + vlen] END)) AS ids
             FROM documents d, bpe_em, bpe_v)""",
      // bpe_dec: the encode chain inverted — per id, surface lookup
      // against the rank-ordered learned surfaces (1-indexed list_
      // position inverse: id-25 indexes surf), UNK and out-of-range to
      // the '<unk>' sentinel, space-joined
      "bpe_dec" ->
        s"""WITH $bpeTrainCte,
            $bpeEncodeCtes
           SELECT doc_id,
                  CAST(len(ids) AS INTEGER) AS n_tokens,
                  array_to_string(list_transform(ids, i -> CASE
                    WHEN i <= 25 THEN chr(97 + i)
                    WHEN i - 25 <= vlen THEN surf[i - 25]
                    ELSE '<unk>' END), ' ') AS detok
           FROM (
             SELECT d.doc_id,
                    flatten(list_transform(
                      regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
                      t -> CASE WHEN regexp_matches(t, '^[a-z]+$$')
                                THEN evs[list_position(eks, t)]
                                ELSE [26 + vlen] END)) AS ids
             FROM documents d, bpe_em, bpe_v), bpe_v""",
      "doc_fp" ->
        """SELECT doc_id,
                  array_to_string(list_sort([md5(substring(text, i, 8))
                                             for i in range(1, greatest(length(text) - 7, 1) + 1)])[1:4],
                                  '|') AS fingerprint,
                  CAST(greatest(length(text) - 7, 1) AS BIGINT) AS n_grams
           FROM documents""",
      "splits" ->
        """WITH b AS (SELECT doc_id, length(text) AS n_chars,
                             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                               % 1000 AS bucket
                      FROM documents)
           SELECT CASE WHEN bucket < 800 THEN 'train'
                       WHEN bucket < 900 THEN 'val'
                       ELSE 'test' END AS split,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS total_chars,
                  min(doc_id) AS min_doc, max(doc_id) AS max_doc
           FROM b GROUP BY 1""",
      "doc_pack_bins" -> packBinsOracle,
      "lm_ppl" -> lmPerplexityOracle,
      "ccnet" -> ccnetOracle,
      "lm2" -> lm2Oracle,
      "repetition" ->
        s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                          FROM documents),
              g AS (SELECT doc_id, w,
                      CASE WHEN len(w) >= 2
                           THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                           ELSE [] END AS g2,
                      CASE WHEN len(w) >= 5
                           THEN list_transform(range(1, len(w) - 3),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
                           ELSE [] END AS g5
                    FROM toks),
              f AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
                      CASE WHEN len(w) > 0
                           THEN (len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE)
                           ELSE 0.0 END AS dup_word_frac,
                      CASE WHEN len(g2) > 0
                           THEN (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE)
                           ELSE 0.0 END AS dup_2gram_frac,
                      CASE WHEN len(g5) > 0
                           THEN (len(g5) - len(list_distinct(g5))) / CAST(len(g5) AS DOUBLE)
                           ELSE 0.0 END AS dup_5gram_frac
                    FROM g)
            SELECT *, dup_word_frac <= $DupWordMax AND dup_2gram_frac <= $Dup2GramMax AS keep
            FROM f""",
      "boilerplate" ->
        s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                          FROM documents),
              g AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_transform(range(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                           ELSE [] END AS g3
                    FROM toks),
              n AS (SELECT count(*) AS n_docs FROM documents),
              df AS (SELECT gram, count(*) AS df
                     FROM (SELECT doc_id, unnest(list_distinct(g3)) AS gram FROM g)
                     GROUP BY 1),
              heavy AS (SELECT gram FROM df, n WHERE df * 100 > n_docs AND df >= $BpDfMin),
              inst AS (SELECT doc_id, unnest(g3) AS gram FROM g),
              bp AS (SELECT doc_id, count(*) AS bp FROM inst JOIN heavy USING (gram) GROUP BY 1)
            SELECT g.doc_id, CAST(len(g.g3) AS BIGINT) AS n_grams,
                   CAST(coalesce(bp.bp, 0) AS BIGINT) AS bp_grams,
                   CASE WHEN len(g.g3) > 0
                        THEN coalesce(bp.bp, 0) / CAST(len(g.g3) AS DOUBLE)
                        ELSE 0.0 END AS bp_frac
            FROM g LEFT JOIN bp USING (doc_id)""",
      "mixture" ->
        s"""WITH w AS (
              SELECT doc_id, source,
                     CASE CAST(substring(source, 4) AS INT) % ${MixtureTiers.size}
                       $tierCase END AS wt,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 1000 AS bucket
              FROM documents),
            c AS (SELECT doc_id, source,
                         CAST(floor(wt) AS BIGINT)
                           + CASE WHEN bucket < CAST(round((wt - floor(wt)) * 1000) AS BIGINT)
                                  THEN 1 ELSE 0 END AS copies
                  FROM w)
            SELECT doc_id, source,
                   CAST(unnest(range(1, copies + 1)) AS BIGINT) AS epoch
            FROM c""",
      "bm25" -> bm25Oracle)
  }

  /** DuckDB mirror of [[docBm25]]: the per-term score expression is
    * spelled in the exact IEEE op order [[bm25Score]] uses, so every
    * double is bit-identical before the final round(…, 6) absorbs the
    * engines' 1-ulp ln difference. */
  private def bm25Oracle: String = {
    val tfSel = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t')) AS tf$i"
    }.mkString(",\n                             ")
    val dfSel = Bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Bm25Terms.indices.map(i =>
      s"""ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1.0)
                     * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl))))""")
      .mkString("\n                   + ")
    val anyTf = Bm25Terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                      FROM documents),
          base AS (SELECT doc_id, $tfSel,
                             len(list_filter(w, x -> x <> '')) AS dl
                   FROM toks),
          stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, $dfSel
                    FROM base)
        SELECT doc_id,
               round($score, 6) AS score
        FROM base, stats
        WHERE $anyTf
        ORDER BY score DESC, doc_id LIMIT $Bm25K"""
  }
}
