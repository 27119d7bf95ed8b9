package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.util.CorpusStamp

/** Bucketing: the pre-shuffle that makes repeated equi-joins and
  * aggregations on the same key free. Both sides of the join below are
  * written `bucketBy(N, user_id)` + sorted, so the join plans with NO
  * exchange on either side (asserted in tests) — at 100 TB this is the
  * difference between re-shuffling the fact table on every query and
  * shuffling once at ingest. Bucket count is fixed per table (like the
  * reference's per-topic partition count, `src/discovery/mod.rs:56-108`);
  * co-location requires equal bucket counts on both sides.
  */
object BucketedOps {

  val NumBuckets = 8

  /** Stage the events fixture and its per-user totals as bucketed tables.
    * `saveAsTable` is required — bucket metadata lives in the catalog,
    * not in the files. Checked against the CURRENT session's catalog on
    * every call (a cache keyed by sf dir would hand out names that no
    * longer exist after a session restart, and would never repair a
    * partial staging where only one of the two tables was written).
    * The names carry the events fixture's [[CorpusStamp]], so an
    * `events.parquet` rewritten in place stages fresh tables; the
    * old-stamp tables stay in the session warehouse until it drops.
    */
  def stagedTables(spark: SparkSession, sfDir: String): (String, String) =
    synchronized {
      val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_s" +
        java.lang.Long.toHexString(CorpusStamp.of(sfDir, Seq("events")))
      val fact = s"graft_ev_bucketed$tag"
      val dim = s"graft_user_totals$tag"
      if (!(spark.catalog.tableExists(fact) && spark.catalog.tableExists(dim))) {
        val ev = Fixtures.events(spark, sfDir)
        ev.write.bucketBy(NumBuckets, "user_id").sortBy("user_id")
          .mode("overwrite").saveAsTable(fact)
        ev.groupBy("user_id")
          .agg(round(sum(col("value")), 2).as("user_total"))
          .write.bucketBy(NumBuckets, "user_id").sortBy("user_id")
          .mode("overwrite").saveAsTable(dim)
      }
      (fact, dim)
    }

  /** Co-located join: bucketed fact ⋈ bucketed dim on the bucket key —
    * zero exchanges in the plan. Output: per event_type, how many
    * messages and the sum of their producers' lifetime totals.
    */
  def bucketedJoinColocate(spark: SparkSession, sfDir: String): DataFrame = {
    val (fact, dim) = stagedTables(spark, sfDir)
    spark.table(fact)
      .join(spark.table(dim), "user_id")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("user_total")), 2).as("sum_user_totals"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join" -> ((s, d) => bucketedJoinColocate(s, d)))

  def oracle: Map[String, String] = Map(
    "bucketed_join" ->
      """WITH totals AS (SELECT user_id, round(sum(value), 2) AS user_total
                         FROM events GROUP BY user_id)
         SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(t.user_total), 2) AS sum_user_totals
         FROM events e JOIN totals t USING (user_id)
         GROUP BY e.event_type ORDER BY e.event_type""")
}
