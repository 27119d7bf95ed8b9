package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.multimodal.MultimodalOps
import graft.operators.{BucketedOps, DedupOps, LlmOps, MessageOps, RelationalOps, SimilarityOps, TemporalOps, TextOps}
import graft.sources.MsgLog
import graft.streaming.StreamOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator group's declared query inventory
  * (SURVEY §2.3); `oracleSql` carries the DuckDB-equivalent SQL for each
  * oracle-checkable key. Column names/types are aligned pairwise — the
  * driver hash-compares after sorting columns by name. As of round 7
  * EVERY key carries an oracle — the former exemptions closed:
  * `payload_crc` gets a pure-SQL castagnoli (recursive table +
  * per-byte fold) and the streaming keys get their batch-equivalent SQL
  * (complete-mode window finals, single-batch watermark dedup, and the
  * redelivery tracker whose cumulative-count emissions max-aggregate to
  * the plain per-key count). The stream-vs-batch equivalence suite
  * remains the second, independent lock on the streaming semantics.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Seek-by-time + forward read (SURVEY §7.1 step 2): scan → pushed
    * predicate → TakeOrderedAndProject.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("seek_topk")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.3, plus the
    * extended training-data-pipeline inventory (dedup family, similarity
    * search, text analysis, multimodal plumbing).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryGroups.reduce(_ ++ _)

  /** Each operator group's query map, merged by [[queries]] — a key
    * declared in two groups would silently shadow one of them, so a
    * spec checks that the group sizes sum to the merged size. */
  private[graft] def queryGroups: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    Seq(MessageOps.queries, RelationalOps.queries, LlmOps.queries,
      StreamOps.queries, DedupOps.queries, SimilarityOps.queries,
      TextOps.queries, MultimodalOps.queries, MsgLog.queries,
      BucketedOps.queries, TemporalOps.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check.
    */
  def oracleSql: Map[String, String] = oracleGroups.reduce(_ ++ _)

  /** Each operator group's oracle map, merged by [[oracleSql]]. */
  private[graft] def oracleGroups: Seq[Map[String, String]] =
    Seq(MessageOps.oracle, RelationalOps.oracle, LlmOps.oracle,
      DedupOps.oracle, SimilarityOps.oracle, TextOps.oracle,
      MultimodalOps.oracle, MsgLog.oracle, StreamOps.oracle,
      BucketedOps.oracle, TemporalOps.oracle)
}
