package graft

import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.operators.BucketedOps

class BucketedOpsSpec extends SparkTestBase {

  test("bucketed join is co-located: no exchange on either join input") {
    val (fact, dim) = BucketedOps.stagedTables(spark, sfDir)
    // At fixture scale the planner rightly prefers broadcast (and disables
    // bucketing); force the sort-merge path a 100 TB fact table would take
    // to observe the co-location property itself.
    val joined = spark.table(fact).hint("merge")
      .join(spark.table(dim).hint("merge"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("bucketed join result matches the unbucketed computation") {
    val result = BucketedOps.bucketedJoinColocate(spark, sfDir)
    val ev = Fixtures.events(spark, sfDir)
    val totals = ev.groupBy("user_id")
      .agg(round(sum(col("value")), 2).as("user_total"))
    val plain = ev.join(totals, "user_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("user_total")), 2).as("sum_user_totals"))
    assertSameRows(result, plain)
  }

  test("bucketed tables re-stage when events.parquet is rewritten in place") {
    val corpus = graft.util.TempDirs.track(
      java.nio.file.Files.createTempDirectory("bucketed_stamp_corpus_"))
    val events = corpus.resolve("events.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"), events)
    val sf = corpus.toString
    def factRows(): Long = spark.table(BucketedOps.stagedTables(spark, sf)._1).count()
    assert(factRows() === Fixtures.events(spark, sfDir).count())
    // rewrite in place with fewer rows, from the untouched source fixture
    Fixtures.table(spark, sfDir, "events").limit(50).coalesce(1)
      .write.mode("overwrite").parquet(events.toString)
    assert(factRows() === 50L, "the bucketed fact table must follow the rewritten fixture")
  }
}
