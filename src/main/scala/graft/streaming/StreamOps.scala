package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.Fixtures
import graft.util.{EpochDirs, StampedMemo, TempDirs}

/** Keyed delivery coordinates: producer ≈ user, sequence ≈ event_id mod 256
  * (the broker dedup key, reference `src/PulsarApi.proto:577-579`).
  */
case class DeliveryKey(user_id: Long, seq: Long)

/** Per-key consumer state: how many times this message was delivered. */
case class DeliveryCount(n: Long)

/** Emitted tracking row (`redelivery_count`, reference proto:475). */
case class Delivery(user_id: Long, seq: Long, n_deliveries: Long)

/** Structured Streaming slice (SURVEY §2.3 `stream_*` keys): the
  * reference's consume-side semantics — event-time windows over pushed
  * messages, session activity, and broker dedup — expressed as streaming
  * queries over a file-stream read of the events fixture.
  *
  * The reference never finished its consumer (`TopicConsumer::new` ends in
  * `unimplemented!()`, `/root/reference/src/entity/consumer.rs:40`); the
  * streaming source here plays the role its dispatcher push-path
  * (`src/netflow/dispatcher.rs:193-206`) was meant to feed. Event-time vs
  * publish-time and watermarking follow the proto's two-timestamp model
  * (`src/PulsarApi.proto:92,110-112`); dedup keys follow the broker's
  * `(producer, sequence_id)` rule (`proto:577-579`).
  *
  * Execution model: `readStream` → transform → an epoch-keyed parquet
  * sink ([[EpochSink]]), driven to completion with
  * `Trigger.AvailableNow`; nothing a stream emits is collected on the
  * driver. At scale the same declarations
  * run continuously against a real source with checkpointed offsets —
  * stream/batch equivalence is the Structured Streaming contract the unit
  * tests assert. Since round 7 that equivalence also carries DuckDB
  * oracles for EVERY stream key (complete-mode finals, watermark dedup,
  * and the redelivery tracker's max-of-cumulative-counts — all
  * deterministic over the single-batch staged input; see `oracle`).
  */
object StreamOps {

  /** File-stream read of one fixture table (`events`, `embeddings`,
    * `documents`) — the arriving-row source every stream key reads.
    * Schema comes from a batch read — a streaming file source requires a
    * declared schema (it cannot infer while files keep arriving) — via
    * the stamped schema cache (opt r19: the bare read re-ran footer
    * inference, one job, on every stream-key invocation). The source
    * needs a *directory* to watch (fixtures are single files, and the
    * fixture tree is read-only), so the file is staged once into a temp
    * dir — at scale this is the drop-in point for a real topic/landing
    * directory. */
  def fixtureStream(spark: SparkSession, sfDir: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val dir = stagingDirs.computeIfAbsent(table, new StampedMemo[Path](_))
      .get(sfDir, TempDirs.retire)({
        val d = Files.createTempDirectory(s"graft_stream_${table}_")
        Files.copy(Paths.get(sfDir, s"$table.parquet"), d.resolve(s"$table.parquet"))
        TempDirs.track(d)
      })
    val rdr = spark.readStream.schema(Fixtures.table(spark, sfDir, table).schema)
    maxFilesPerTrigger
      .fold(rdr)(n => rdr.option("maxFilesPerTrigger", n.toString))
      .parquet(dir.toString)
  }

  /** [[fixtureStream]] of events.parquet with the same schema-adaptive
    * `ts` normalization as the batch loader (`Fixtures.events` /
    * `Fixtures.normalizeEventTs`). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Fixtures.normalizeEventTs(fixtureStream(spark, sfDir, "events"))
  }

  // one staging memo per table, (size, mtime)-stamped on that table: a
  // fixture regenerated in place re-stages instead of streaming the stale
  // copy, and the superseded landing dir is deleted
  private val stagingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, StampedMemo[Path]]()

  private val dlqDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** The staging dir backing [[eventsStream]] for `sfDir`, if staged —
    * test-only visibility for the one-batch-premise guard. */
  private[graft] def stagedEventsDir(sfDir: String): Option[Path] =
    Option(stagingDirs.get("events")).flatMap(_.peek(sfDir))

  /** The DLQ sink tree for `sfDir`, if one exists — test-only visibility
    * for the reuse guard. */
  private[graft] def stagedDlqDir(sfDir: String): Option[Path] =
    Option(dlqDirs.get(sfDir))

  /** The keys whose ORACLES rely on the one-micro-batch staging premise
    * (state could evict/timeout mid-stream under a batch split,
    * invalidating the batch-equivalent SQL). NOT premise-dependent:
    * `stream_dlq_split` (epoch-idempotent foreachBatch partition),
    * `stream_enrich` (complete-mode final), and `stream_ann`
    * (micro-batch-split independent BY construction, and it streams
    * embeddings, not events). `Verify` withholds exactly this set on a
    * premise failure — a split fixture must not erase keys whose
    * oracles never needed the premise. */
  val oneBatchPremiseKeys: Set[String] =
    Set("stream_tumbling", "stream_session", "stream_dedup",
      "stream_redel", "ss_join")

  /** Assert the ONE-micro-batch staging premise the
    * [[oneBatchPremiseKeys]] oracles rely on (one staged file + no
    * maxFilesPerTrigger ⇒ a single AvailableNow batch ⇒ batch-equivalent
    * SQL is exact). `Verify` calls this before dumping those keys so a
    * future fixture split fails LOUD at the gate instead of subtly at
    * the driver's hash compare; `StreamOpsSpec` holds the same guard
    * suite-side. */
  def assertOneBatchPremise(spark: SparkSession, sfDir: String): Unit = {
    val src = Paths.get(sfDir, "events.parquet")
    require(Files.isRegularFile(src),
      s"stream oracle premise: $src must be a single parquet FILE, found a " +
        "directory — the stream-state oracles' single-batch equivalence no longer holds")
    eventsStream(spark, sfDir) // force staging
    val dir = stagedEventsDir(sfDir).get
    val files = {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }
    require(files.size == 1,
      s"stream oracle premise: staged dir $dir must hold exactly one file, found $files")
  }

  /** One epoch-keyed file sink and the AvailableNow drain that fills
    * it — the exactly-once egress of every file-sink stream key
    * (complete-mode finals included), i.e.
    * the Structured Streaming argument (a replayable, checkpointed
    * source plus an idempotent sink) written once. It owns a fresh
    * tracked temp root holding the sink tree `<leaf>/epoch=N` and the
    * query's `ckpt`; a key supplies only its per-batch body (its own
    * emptiness gate, its writes into [[epoch]] with OVERWRITE, its
    * maintenance turn) and its declared read-back schema. A
    * retried/restarted micro-batch replaces its own epoch's output
    * instead of double-appending — the property the native parquet
    * sink's `_spark_metadata` log provided, WITHOUT pinning the file
    * layout forever: Spark compacts that LOG, not the data files, so a
    * long-running append stream accumulated files unboundedly and the
    * log barred any external compaction from moving them (r18 verdict
    * #4); epoch dirs give every sink the
    * [[graft.util.EpochDirs.foldEpochSink]] retention contract instead.
    * `prefix` and `leaf` name the tree (they show in read-back plans). */
  private final class EpochSink(spark: SparkSession, prefix: String,
      leaf: String) {
    private val root = TempDirs.track(Files.createTempDirectory(prefix))
    val data: String = root.resolve(leaf).toString
    def epoch(epochId: Long): String = s"$data/epoch=$epochId"

    /** Drain `df` to completion, running `body` on every micro-batch. */
    def drain(df: DataFrame, mode: String = "append")(
        body: (DataFrame, Long) => Unit): Unit =
      df.writeStream
        .foreachBatch(body)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()

    /** Batch-read the sink tree, or an empty frame on `schema` when the
      * stream emitted nothing (a zero-row AvailableNow run may commit an
      * empty epoch dir or none, whose parquet read would fail; and
      * hidden `_`/`.`-prefixed entries — a legacy `_spark_metadata`, an
      * in-flight fold scratch — must not count as data). The
      * `epoch` partition column (foreachBatch bookkeeping, not stream
      * output) is declared BIGINT and dropped: a bare read re-ran footer
      * schema inference (one job) per sink read per invocation (opt r20;
      * the rawClusterDeltas declared-epoch discipline). */
    def read(schema: StructType): DataFrame = {
      def dataFiles(d: java.io.File): Boolean =
        Option(d.listFiles()).exists(_.exists { f =>
          val hidden = f.getName.startsWith("_") || f.getName.startsWith(".")
          (f.isFile && !hidden) || (f.isDirectory && !hidden && dataFiles(f))
        })
      if (dataFiles(new java.io.File(data)))
        spark.read.schema(schema.add("epoch", "bigint")).parquet(data).drop("epoch")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** Run a streaming DataFrame to completion through an [[EpochSink]]
    * and return the written rows as a batch read — the egress of every
    * file-sink stream key without a batch body of its own. Executors
    * write parquet and the driver touches file paths only (at 100 TB
    * the same declaration writes a real landing dir/topic). The output
    * mode fixes the sink's shape: `complete` re-emits the whole result
    * table every trigger, so each trigger OVERWRITES one dir and nothing
    * folds; `append` folds by concatenation; `update` folds newest-wins
    * by `updateKeys` ([[graft.util.EpochDirs.foldEpochSink]], every
    * batch). A zero-row stream yields an empty frame on the input
    * schema. */
  private def runToFiles(df: DataFrame, mode: String,
      updateKeys: Seq[String] = Nil): DataFrame = {
    val sink = new EpochSink(df.sparkSession, "graft_stream_files_", "data")
    sink.drain(df, mode) { (batch, epochId) =>
      if (mode == "complete") batch.write.mode("overwrite").parquet(sink.epoch(0))
      else {
        batch.write.mode("overwrite").parquet(sink.epoch(epochId))
        // retention maintenance turn (r17 verdict #4, extended to the
        // append shape in r19)
        EpochDirs.foldEpochSink(batch.sparkSession, sink.data,
          SinkFoldEpochs, updateKeys)
      }
    }
    sink.read(df.schema)
  }

  /** Epoch-count trigger for the RESULT-SINK retention fold
    * ([[graft.util.EpochDirs.foldEpochSink]] — r17 verdict #4): the
    * `data/epoch=N`-per-trigger sinks previously accumulated one dir
    * per micro-batch forever while the sink read unioned them all; past
    * this cadence, all-but-the-newest fold into one consolidated dir
    * (the delta overlays' [[graft.operators.SimilarityOps.AnnCompactEpochs]]
    * sibling). AvailableNow fixture runs are one epoch — the fold never
    * triggers there; a long-running production stream is bounded at
    * O(one folded dir + cadence recent epochs). */
  val SinkFoldEpochs = 8

  /** Fixture-scale state sizing for the single-store stateful streaming
    * operators (windowed/session aggregates, watermark dedup, the
    * keyed-state tracker): one state-store instance materializes per
    * shuffle partition, the engine cannot AQE-coalesce a stateful
    * exchange, and the count is pinned into the checkpoint — so it is an
    * explicit capacity decision, not a tuning afterthought. The round-10
    * `ss_join` floor measurement (BASELINE.md) applies: 32 stores for
    * ~1k state rows is mostly instantiation; 8 serves the same rows in a
    * fraction of the setup. At 100 TB size it to key cardinality ×
    * throughput — the declaration doesn't change. */
  val StreamStatePartitions = 8

  /** Run `body` (which starts and drains one streaming query) with the
    * session's shuffle-partition conf pinned to `n`: the conf is read at
    * stream START and pinned by the per-run checkpoint, so the override
    * scopes to exactly that query; callers' batch stages run at the
    * restored default. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      body
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Tumbling 1-hour event-time window with watermark: the streaming form
    * of per-bucket throughput (consumer stats msgRateOut,
    * `src/PulsarApi.proto:609-613`). Complete mode: AvailableNow processes
    * the backlog in few batches and append would hold back windows the
    * watermark has not passed; complete emits the final state.
    */
  def streamTumblingWindow(spark: SparkSession, sfDir: String,
      statePartitions: Int = StreamStatePartitions): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    withStatePartitions(spark, statePartitions)(runToFiles(agg, "complete"))
      .select(
        unix_millis(col("window.start")).as("hour_ms"),
        col("n"), col("sum_value"))
  }

  /** Per-user session windows with a 5-minute gap (subscription activity
    * sessions; consumer keep-alive/idle semantics,
    * `src/netflow/connection.rs:516-558`).
    */
  def streamSessionWindow(spark: SparkSession, sfDir: String,
      statePartitions: Int = StreamStatePartitions): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    withStatePartitions(spark, statePartitions)(runToFiles(agg, "complete"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n"))
  }

  /** Streaming dedup on the broker key `(producer ≈ user_id, sequence ≈
    * event_id % 256)` within the watermark
    * (`dropDuplicatesWithinWatermark`): state for a key is dropped once the
    * watermark passes it, so state size is bounded by the watermark horizon
    * — the 100 TB-safe form of streaming dedup. Output projects only the
    * key (the surviving row's other fields depend on arrival order).
    */
  def streamDedupWatermark(spark: SparkSession, sfDir: String,
      statePartitions: Int = StreamStatePartitions): DataFrame = {
    val deduped = eventsStream(spark, sfDir)
      .select(
        col("user_id"),
        (col("event_id") % 256).as("seq"),
        col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "seq")
    withStatePartitions(spark, statePartitions)(runToFiles(deduped, "append"))
      .select(col("user_id"), col("seq"))
  }

  /** Custom-state redelivery tracking via `flatMapGroupsWithState`: the
    * consumer-side ledger of how many times each `(producer, sequence)`
    * was delivered (`redelivery_count`, proto:475; negative-ack redeliver,
    * proto:562-565) — semantics the built-in dedup/window operators can't
    * express because the count must survive across micro-batches.
    *
    * State is one counter per in-flight key, dropped on event-time
    * timeout past the watermark — bounded exactly like
    * `dropDuplicatesWithinWatermark`'s store, so a 100 TB/day stream
    * holds state only for the watermark horizon.
    */
  def streamRedeliveryTracker(spark: SparkSession, sfDir: String,
      statePartitions: Int = StreamStatePartitions): DataFrame = {
    import spark.implicits._
    val src = eventsStream(spark, sfDir)
      .select(
        col("user_id"),
        (col("event_id") % 256).as("seq"),
        col("ts"))
      .withWatermark("ts", "1 hour")

    val tracker = src
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey { case (user, seq, _) => DeliveryKey(user, seq) }
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (key: DeliveryKey, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[DeliveryCount]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption.map(_.n).getOrElse(0L)
            val total = prior + rows.size
            state.update(DeliveryCount(total))
            state.getCurrentWatermarkMs() match {
              case wm if wm > 0 => state.setTimeoutTimestamp(wm + 3600000L)
              case _ => ()
            }
            Iterator.single(Delivery(key.user_id, key.seq, total))
          }
        })

    val emitted = withStatePartitions(spark, statePartitions)(
      runToFiles(tracker.toDF(), "update",
        updateKeys = Seq("user_id", "seq")))
    // update mode appends one row per key per batch; the
    // latest (= max) count per key is the tracker's answer.
    emitted.groupBy("user_id", "seq")
      .agg(max(col("n_deliveries")).as("n_deliveries"))
  }

  /** Dead-letter split via `foreachBatch` (reference `DeadLetterPolicy`,
    * `src/entity/consumer.rs:71-77`): each micro-batch fans out to two
    * sinks — poison messages (here: a row-level predicate standing in for
    * "exceeded max_redeliver_count") divert to the DLQ topic, the rest to
    * the main topic. `foreachBatch` is the multi-sink escape hatch:
    * inside the closure the batch is a plain DataFrame, written
    * idempotently per epoch. Returns per-topic delivery counts read back
    * from the sinks — so the oracle checks the whole fan-out path.
    */
  def streamDeadLetterSplit(spark: SparkSession, sfDir: String): DataFrame = {
    // null-safe three-way: null value/props is itself poison, so the
    // predicate is never NULL and main ∪ dlq = everything (a NULL here
    // would drop the row from BOTH branches under three-valued filters)
    val poison = col("value").isNull || col("props").isNull || col("value") > 250.0
    // one sink tree per (sfDir, JVM), like eventsStream's staging dir: a
    // fresh tree per invocation left 4 trees per bench run (warm-up + 3
    // timed reps) until JVM exit. Epoch-keyed overwrite keeps re-runs
    // idempotent — each AvailableNow run restarts at epoch 0 and
    // replaces its own output.
    val base = dlqDirs.computeIfAbsent(sfDir,
      _ => TempDirs.track(Files.createTempDirectory("graft_dlq_")))
    val (mainDir, dlqDir) = (s"$base/main", s"$base/dlq")
    val ev = eventsStream(spark, sfDir)
    // the sink trees hold exactly the stream's rows under epoch= dirs:
    // declare that schema on the read-back so neither aggregate pays a
    // footer-inference job per invocation (opt r20)
    val sinkSchema = ev.schema.add("epoch", "bigint")
    val q = ev
      .writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // idempotent per epoch: each sink writes into an epoch-keyed
        // directory with overwrite, so a replayed epoch replaces its own
        // output instead of double-appending; persist() keeps the split
        // from recomputing the micro-batch source once per sink
        batch.persist()
        try {
          batch.filter(poison).write.mode("overwrite")
            .parquet(s"$dlqDir/epoch=$epochId")
          batch.filter(!poison).write.mode("overwrite")
            .parquet(s"$mainDir/epoch=$epochId")
        } finally batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val main = spark.read.schema(sinkSchema).parquet(mainDir)
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("topic", lit("main"))
    val dlq = spark.read.schema(sinkSchema).parquet(dlqDir)
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("topic", lit("dlq"))
    main.unionByName(dlq).select("topic", "n", "sum_value").orderBy("topic")
  }

  /** Watermarked stream-stream self-join — purchase attribution: each
    * purchase joins every click by the same user in the preceding 30
    * minutes (the reply/request correlation a messaging consumer runs
    * across two topics; here both legs read the one events topic). This
    * is the canonical Structured Streaming stream-stream inner join: both
    * sides carry a watermark and the join predicate carries an event-time
    * range, so the state store holds only rows inside the watermark ∪
    * range horizon — clicks evict once `buy_ts` can no longer reach them,
    * which is the 100 TB-safe shape (unbounded-state joins without a time
    * bound are rejected by the engine outright). The per-user aggregate
    * runs batch-side on the joined output: chaining a second stateful
    * aggregate after a stream-stream join is restricted, so the rollup
    * aggregates the sink's join output, not a widened stream state.
    *
    * `statePartitions` sizes the STATEFUL stage: a stream-stream join
    * materializes four state-store instances per shuffle partition (two
    * sides × key/index stores), the engine cannot AQE-coalesce a
    * stateful exchange, and the count is pinned into the checkpoint — so
    * partitioning state is an explicit capacity decision, exactly as in
    * production (size it to key cardinality × throughput; at 100 TB
    * that's hundreds). The round-10 floor measurement (BASELINE.md):
    * the session default of 32 partitions spent 5.4 s instantiating
    * ~128 stores around ~1.5 s of join work on the fixture's ~1k state
    * rows — 8 partitions serve the same rows at 2.7 s total against a
    * 0.8 s stateless-streaming floor. */
  def streamStreamJoin(spark: SparkSession, sfDir: String,
      statePartitions: Int = SsJoinStatePartitions): DataFrame = {
    val ev = eventsStream(spark, sfDir)
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"), col("value"))
      .withWatermark("buy_ts", "1 hour")
    val joined = clicks.join(buys,
      col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("interval 30 minutes"))
    // joined pairs are corpus-proportional: they land in the file sink
    // and the per-user rollup runs as a batch aggregate over the files
    // (at the restored session default — the override scopes to the
    // streaming query, see withStatePartitions)
    withStatePartitions(spark, statePartitions)(runToFiles(joined, "append"))
      .select(col("c_user").as("user_id"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attributed"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** Fixture-scale state sizing for [[streamStreamJoin]]'s stateful
    * stage (see its scaladoc for the measured floor breakdown). */
  val SsJoinStatePartitions = 8

  /** Stream-static enrichment join: the in-flight message stream joins a
    * broadcast dimension (customer metadata keyed by the partition key) —
    * the lookup-enrichment every consumer pipeline performs (topic
    * metadata lookup analog, reference `src/discovery/mod.rs:44-110`).
    * The static side is planned once and broadcast to every micro-batch;
    * no stream state is held for the join itself.
    */
  def streamEnrichJoin(spark: SparkSession, sfDir: String,
      statePartitions: Int = StreamStatePartitions): DataFrame = {
    val dim = Fixtures.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enriched = eventsStream(spark, sfDir)
      .join(broadcast(dim), "user_id")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    withStatePartitions(spark, statePartitions)(runToFiles(enriched, "complete"))
      .select(col("c_mktsegment"), col("n"), col("sum_value"))
  }

  /** STREAMING ingestion dedup — the online twin of the batch
    * `incr_dedup` key, completing for TEXT the build / batch-serve /
    * stream-serve triad the ANN stack has (`stream_idx` / `ann_batch` /
    * `stream_ann`): documents arrive as a stream, the md5-bucket
    * increment filter admits the new slice, and each micro-batch is
    * signed in-batch (tokenize → MinHash bands → shingles, a stateless
    * projection) and LSH-verified against the FROZEN base through two
    * partition-prunable probe indexes
    * ([[graft.operators.DedupOps.incrementalDedupBatch]]: candidates
    * from the signature-prefix-partitioned band index, verify shingles
    * from the doc-bucket-partitioned shingle index — per-batch cost
    * O(increment + matched buckets + candidates), no corpus-wide scan
    * or shuffle in the batch body) — the dedup-on-ingest gate a
    * training-data pipeline runs in front of the corpus. Results land
    * in an epoch-keyed sink with overwrite (the [[streamIndexAppend]]
    * retry-idempotency discipline; no stream state — the base indexes
    * carry all cross-batch knowledge).
    *
    * Deterministic WITHOUT the one-batch premise: only cross pairs
    * (new × base) are candidates, so each arriving doc's verified dups
    * depend on (that doc, the staged base) alone and any micro-batch
    * split yields the same union — equal to the batch
    * [[graft.operators.DedupOps.docIncrementalDedup]] over the whole
    * corpus (asserted in tests; the key shares `incr_dedup`'s oracle).
    *
    * `publishEdgesTo`: the gate's PRODUCTION output leg — each
    * micro-batch's verified pairs additionally land as canonical
    * `(doc_a, doc_b)` edge rows (appended parquet, part-file names are
    * job-unique) in the shared edge topic the cross-modal
    * reconciliation consumes ([[streamCrossModalMerge]]). A replayed
    * epoch may double-append its edges — harmless downstream, the
    * merge dedups edges before every closure. */
  def streamTextDedup(spark: SparkSession, sfDir: String,
      publishEdgesTo: Option[String] = None): DataFrame = {
    // freeze the base artifacts BEFORE the stream starts (build-if-
    // absent): the signature index and the two partition-prunable probe
    // indexes every micro-batch serves from
    graft.operators.DedupOps.stagedTextSignatures(spark, sfDir)
    graft.operators.DedupOps.TextIndex.dir(spark, sfDir)
    graft.operators.DedupOps.ShingleIndex.dir(spark, sfDir)
    val sink = new EpochSink(spark, "graft_stream_lsh_", "dups")
    sink.drain(fixtureStream(spark, sfDir, "documents")
        .filter(graft.operators.DedupOps.isNewDoc)) { (batch, epochId) =>
      // emptiness gate via limit-1 probe, no persist (opt r20): the
      // body's two evaluations of the batch (the candidate checkpoint
      // write and the final plan's shingle side) each re-scan the tiny
      // staged source file — the old persist(); count() paid a full
      // materialization job to answer "n > 0" while saving only that
      // re-scan (the signature compute recomputes either way; the
      // candidate checkpoint is the dedup discipline's cache)
      if (!batch.isEmpty) {
        // text pairs are already doc-keyed: the link arg is unused with
        // no media pairs (an empty frame keeps that explicit — nothing
        // scans per batch)
        writeGatePairs(graft.operators.DedupOps
          .incrementalDedupBatch(spark, sfDir, batch),
          sink.epoch(epochId), publishEdgesTo)(res =>
          graft.operators.DedupOps.crossModalEdgesOf(
            res.select(col("new_doc").as("doc_a"), col("base_doc").as("doc_b")),
            Nil,
            spark.range(0).select(col("id").as("media_id"), col("id").as("ld"))))
        // retention maintenance turn (r17 verdict #4): append-shaped
        // (cross pairs only — each arriving item's pairs land once)
        EpochDirs.foldEpochSink(spark, sink.data, SinkFoldEpochs)
      }
    }
    sink.read(StructType.fromDDL(
      "new_doc BIGINT, base_doc BIGINT, n_bands BIGINT, jaccard DOUBLE"))
  }

  /** A gate batch's egress: its verified pairs `res` into the batch's
    * epoch dir, and — with a publish topic — their canonical edges
    * (`edges(res)`) appended to it. Publishing persists `res` so the
    * two writes share one evaluation. */
  private def writeGatePairs(res: DataFrame, epochDir: String,
      publishEdgesTo: Option[String])(edges: DataFrame => DataFrame): Unit =
    publishEdgesTo match {
      case None => res.write.mode("overwrite").parquet(epochDir)
      case Some(pub) =>
        res.persist()
        try {
          res.write.mode("overwrite").parquet(epochDir)
          edges(res).write.mode("append").parquet(pub)
        } finally { res.unpersist(); () }
    }

  /** STREAMING decontamination gate — the decontamination family's
    * stream-serve leg (batch detector = `decontam`, staged probe index
    * = [[graft.operators.DedupOps.stagedProbeGrams]], this gate): a
    * training-data pipeline checks every ARRIVING document against the
    * held-out benchmark before admission, not just the corpus at
    * release time. Documents arrive as a stream; each micro-batch is
    * grammed in-row and hash-joined against the FROZEN staged
    * probe-gram set by broadcast
    * ([[graft.operators.DedupOps.decontaminateBatchAt]] — per-batch cost
    * O(batch grams), no corpus work, no stream state); flagged docs
    * land in an epoch-keyed sink with overwrite.
    *
    * Deterministic WITHOUT the one-batch premise: a document is one
    * stream row, so its grams land in exactly one batch and its verdict
    * depends on (that doc, the frozen probe set) alone — any
    * micro-batch split yields the same union, equal to the batch
    * `decontam` key over the whole corpus (its oracle verbatim). */
  def streamDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.DedupOps
    // freeze the probe index BEFORE the stream — the FRAME over the
    // resolved staged path, not just build-if-absent: every micro-batch
    // joins exactly this probe set, so a mid-stream benchmark rewrite
    // cannot swing later batches onto a rebuilt index while earlier
    // verdicts stand on the old one (the docIdx/clusterIdx freeze in
    // streamCrossModalMerge — ADVICE r16)
    val probe = DedupOps.stagedProbeGrams(spark, sfDir)
    val sink = new EpochSink(spark, "graft_stream_dc_", "hits")
    sink.drain(fixtureStream(spark, sfDir, "documents")
        .filter(pmod(col("doc_id"), lit(DedupOps.DecontaminateProbeMod)) =!= 0)) {
      (batch, epochId) =>
        // emptiness gate via limit-1 probe, no persist: the batch is
        // consumed exactly once below (opt r20 — the media-gate shape)
        if (!batch.isEmpty) {
          DedupOps.decontaminateBatchAt(probe, batch)
            .write.mode("overwrite").parquet(sink.epoch(epochId))
          // retention maintenance turn (r17 verdict #4): append-shaped
          // (one verdict row per doc, each doc in exactly one batch) —
          // plain-concat fold
          EpochDirs.foldEpochSink(spark, sink.data, SinkFoldEpochs)
        }
    }
    sink.read(StructType.fromDDL("doc_id BIGINT, n_shared BIGINT"))
  }

  /** STREAMING media ingestion dedup — `stream_lsh`'s shape for the
    * MEDIA side, completing the build / batch-serve / stream-serve
    * triad for every modality family (text: `stream_lsh`; vectors:
    * `stream_idx`/`ann_seg`; media: this): assets arrive as a stream
    * (the fixture streams the documents table and synthesizes each
    * batch's payloads — the drop-in point for a real media landing
    * dir), each micro-batch is fingerprinted IN-BATCH through the real
    * codec (decode checkpointed to `(media_id, dhash)` scalars — once
    * per batch) and banded against the FROZEN base through the
    * block-bucket-partitioned probe index
    * ([[graft.operators.DedupOps.incrementalMediaDedupBatch]]: pruned
    * scan, broadcast batch blocks, in-row 56-bit hamming verify) — the
    * dedup-on-ingest gate in front of a media corpus. Results land in
    * an epoch-keyed sink with overwrite; no stream state — the base
    * index carries all cross-batch knowledge.
    *
    * Deterministic WITHOUT the one-batch premise: only cross
    * (new × base) pairs emerge, so any micro-batch split yields the
    * same union — equal to the cross-pair slice of the batch
    * [[graft.operators.DedupOps.MediaModality.dups]] (asserted in tests;
    * the oracle is that slice in SQL). */
  def streamMediaDedup(spark: SparkSession, sfDir: String,
      modality: graft.operators.DedupOps.MediaModality,
      // the gate's production output leg — verified pairs additionally
      // publish as LINKED canonical (doc_a, doc_b) edges into the shared
      // edge topic (see streamTextDedup's publishEdgesTo)
      publishEdgesTo: Option[String] = None): DataFrame = {
    // freeze the base artifact BEFORE the stream starts (build-if-absent)
    modality.index.dir(spark, sfDir)
    // the publish leg's doc↔media link, frozen with the other base
    // artifacts — joining through the live projection would re-scan the
    // documents table in every micro-batch (review r16)
    val link = publishEdgesTo.map(_ =>
      graft.multimodal.MultimodalOps.stagedMediaLink(spark, sfDir))
    val sink = new EpochSink(spark, s"graft_stream_${modality.name}_", "dups")
    sink.drain(fixtureStream(spark, sfDir, "documents")
        .filter(graft.operators.DedupOps.isNewDoc)) { (batch, epochId) =>
      // emptiness gate via limit-1 probe, no persist: the batch is
      // consumed exactly ONCE below (the fingerprint checkpoint write),
      // so the old persist(); count() shape paid one full
      // materialization job purely to answer "n > 0" (opt r20)
      if (!batch.isEmpty) {
        writeGatePairs(graft.operators.DedupOps.incrementalMediaDedupBatch(
          spark, sfDir, modality.assets(batch), modality),
          sink.epoch(epochId), publishEdgesTo)(res =>
          graft.operators.DedupOps.crossModalEdgesOf(
            spark.range(0).select(col("id").as("doc_a"), col("id").as("doc_b")),
            Seq(res.select(col("new_media"), col("base_media"))),
            link.get))
        // retention maintenance turn (r17 verdict #4): append-shaped
        // (cross pairs only — each arriving item's pairs land once)
        EpochDirs.foldEpochSink(spark, sink.data, SinkFoldEpochs)
      }
    }
    sink.read(StructType.fromDDL("new_media BIGINT, base_media BIGINT, hamming INT"))
  }

  /** STREAMING cross-modal reconciliation — the stream-serve leg of the
    * CLUSTER layer, closing the last build / batch-serve / stream-serve
    * asymmetry (r14 verdict #1): per-modality gates have stream legs
    * (`stream_lsh`, `stream_img/wav/gif`) but the reconciliation that
    * merges their verdicts ran only as a staged batch (`xmodal`).
    * Production topology: the four ingestion gates PUBLISH their
    * verified cross pairs (each gate's own stream key proves that
    * production, micro-batch by micro-batch, against its frozen index)
    * and the reconciliation layer CONSUMES the merged, doc-linked edge
    * stream — it never re-runs the gates. Here the edge topic is the
    * staged increment-cross-edge artifact
    * ([[graft.operators.DedupOps.stagedIncrementCrossEdges]], row-equal
    * to the gates' streamed union — spec-locked) read as a file
    * stream; each micro-batch of edges FOLDS into the prior cluster
    * assignment via
    * [[graft.operators.DedupOps.mergeClusterIncrement]] — touching only
    * the incident clusters, never re-running the corpus-wide CC
    * fixpoint — and the merged assignment lands in an epoch-keyed
    * overwrite sink (the serving view between snapshot re-stages). The
    * returned frame is the quality-aware canonical election over the
    * final merged assignment.
    *
    * Deterministic WITHOUT the one-batch premise: iterated merging
    * equals the from-scratch closure over base ∪ all streamed edges
    * ([[graft.operators.DedupOps.mergeClusterIncrement]]'s
    * CapSpec-locked property, including the two-increment fold) — so
    * ANY split of the edge stream serves the same final view: the
    * closure over every edge except new×new (the oracle). No cap
    * premise needed: the staged edges rank interleaved exactly as the
    * oracle does.
    *
    * Scale shape: per-batch cost = a CC fixpoint on the TOUCHED
    * subgraph (∝ the batch's dup density — stars of incident clusters +
    * new edges, never the corpus assignment) + one assignment write;
    * the base closure and the edge staging run once per corpus
    * snapshot, and the gates' per-batch costs are priced by their own
    * keys. Reference anchor: the consume-side ingestion scaffold the
    * reconciliation layer was meant to sit behind,
    * `/root/reference/src/entity/consumer.rs:14-41`. */
  def streamCrossModalMerge(spark: SparkSession, sfDir: String): DataFrame =
    streamCrossModalMerge(spark, sfDir,
      graft.operators.DedupOps
        .stagedIncrementCrossEdgesDir(spark, sfDir).toString)

  /** The edge-topic-parameterized form: `edgesDir` is any parquet dir
    * of `(doc_a, doc_b)` rows — the staged increment-cross-edge
    * artifact for the contract key, or a dir the four ingestion gates
    * PUBLISH into live (the end-to-end topology, spec-locked equal).
    *
    * SINK SHAPE (r15 verdict #1): each micro-batch writes ONLY its
    * DELTA — the re-closed rows of the touched clusters
    * ([[graft.operators.DedupOps.mergeClusterIncrementDelta]]) — into
    * an epoch-keyed dir, and every read (the next batch's prior view,
    * the final election) serves base ∪ delta epochs with newest-wins on
    * `doc_id` ([[graft.operators.DedupOps.servedClusterAssignment]], the
    * `ann_seg` anti-join discipline). The per-batch READ is partition-
    * pruned as well (r15 verdict #6): touched-selection goes through
    * the staged assignment's db-/cb-keyed projections
    * ([[graft.operators.DedupOps.mergeClusterIncrementDeltaStaged]]),
    * so a batch reads only the buckets its endpoints and touched
    * clusters land in plus the bounded overlay. Per-batch I/O is
    * therefore O(touched subgraph), never the corpus assignment — the
    * full rewrite this replaces re-wrote and re-read every cluster row
    * per micro-batch. Reference anchor: cumulative-ack frontier semantics
    * (`/root/reference/src/PulsarApi.proto:480-483`) — serve the
    * frontier, don't rewrite the log. A replayed epoch (epoch written,
    * checkpoint commit lost) reads its prior view WITH ITS OWN EPOCH
    * PRUNED OUT (`excludeEpoch` — partition-pruned, so the about-to-be-
    * overwritten files are never listed) and rewrites deterministically
    * (ADVICE r15). Compaction: un-compacted deltas drop at the next
    * snapshot re-stage ([[graft.operators.DedupOps
    * .maybeRestageCrossModal]]); between re-stages the registered
    * overlay's merged fraction is the arithmetic staleness gauge.
    *
    * STAGED-DIR LIFETIME caveat (r15 verdict #7): the frozen base and
    * the edge topic resolve to staged generation/temp dirs at stream
    * START, and long-lived streaming frames keep PLANS over those
    * paths. A concurrent re-stage (fresh generation) SWEEPS prior
    * generations — a later micro-batch of a long-running stream then
    * fails loud on its next evaluation rather than serving a retired
    * artifact (the [[graft.util.StagedArtifacts]] sweep contract). A
    * production deployment restarts the reconciliation stream on the
    * re-stage cadence — the checkpoint makes that restart exactly-once
    * — rather than racing serving reads against generation sweeps. */
  def streamCrossModalMerge(spark: SparkSession, sfDir: String,
      edgesDir: String,
      // soak knob: bound each micro-batch's file intake so a multi-file
      // topic drives MULTIPLE trigger cycles (the contract key's staged
      // topic is one file — one epoch — so the default changes nothing)
      maxFilesPerTrigger: Option[Int] = None,
      // intra-overlay compaction cadence (r16 verdict #2): past this
      // many accumulated epoch dirs the maintenance turn folds all but
      // the newest into one newest-wins delta
      compactEpochs: Int = graft.operators.DedupOps.XmCompactEpochs): DataFrame = {
    import graft.operators.DedupOps
    // freeze the prior assignment (BOTH probe keyings — the db- and
    // cb-partitioned projections the pruned per-batch selection reads)
    // + the edge topic BEFORE the stream
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    // the PATHS freeze too (not just build-if-absent): every micro-batch
    // reads these resolved dirs, so an in-place corpus rewrite
    // mid-stream cannot swing the batch body onto a rebuilt snapshot
    // while the overlay epochs and the final election still read the
    // frozen base (review r16)
    val docIdx = DedupOps.xmDocIdxDir(spark, sfDir)
    val clusterIdx = DedupOps.xmClusterIdxDir(spark, sfDir)
    // per-dir schema cache (opt r19): edgesDir is a staged artifact (or
    // a gate-published topic) whose schema never changes over the dir's
    // lifetime — skip the per-invocation footer-inference job
    val schema = graft.util.StagedArtifacts.readStaged(spark,
      Paths.get(edgesDir)).schema
    val sink = new EpochSink(spark, "graft_stream_xm_", "deltas")
    // publish the overlay for the gauge's lifetime-of-this-run: the
    // epoch writes bump the registered delta counter, the merged
    // fraction is observable mid-stream, and the registration retires
    // in finally (the ann_seg key's register-serve-retire discipline —
    // serving below reads the delta dirs directly, so retirement only
    // ends the bookkeeping, never the returned plan)
    DedupOps.registerClusterDeltas(spark, sfDir, sink.data)
    try {
      val src = spark.readStream.schema(schema)
      sink.drain(maxFilesPerTrigger
          .fold(src)(n => src.option("maxFilesPerTrigger", n.toString))
          .parquet(edgesDir)) { (batch, epochId) =>
        batch.persist()
        try {
          // the emptiness-gate count ALSO carries the touched-doc bucket
          // set (≤ DocBucketParts, an index constant) as an observed
          // collect_set over both endpoint columns — the separate
          // distinct-collect job inside the merge body is skipped (opt
          // r20). Endpoints cast to long first, as the merge's
          // canonMergeEdges does: a DOUBLE/DECIMAL topic would otherwise
          // hash "5.0", not "5", and prune the wrong buckets
          val gateObs = org.apache.spark.sql.Observation()
          val db = (c: String) => graft.operators.Hashing
            .md5Bucket(col(c).cast("long"), DedupOps.DocBucketParts).cast("int")
          val gated = batch.observe(gateObs,
            count(lit(1)).as("n"),
            collect_set(db("doc_a")).as("dba"),
            collect_set(db("doc_b")).as("dbb"))
          if (gated.count() > 0) {
            val dbs = (gateObs.get("dba").asInstanceOf[Seq[Int]] ++
              gateObs.get("dbb").asInstanceOf[Seq[Int]]).distinct
            // pruned per-batch form of mergeClusterIncrementDelta over
            // the served prior view (own epoch partition-pruned out — the
            // replay hazard): reads only the db-/cb-partitions the batch
            // touches plus the bounded overlay, never the full assignment
            val delta = DedupOps.mergeClusterIncrementDeltaStagedAt(spark,
              sfDir, docIdx, clusterIdx, sink.data,
              excludeEpoch = Some(epochId), batch, dbsHint = Some(dbs))
            // the append counter's row count rides the write as an
            // observed metric (the tombstoneClusterDocs r18 discipline):
            // the prior persist + write + count shape spent one extra
            // Spark job per micro-batch solely to feed the gauge (opt r19)
            val obs = org.apache.spark.sql.Observation()
            delta.observe(obs, count(lit(1)).as("n"))
              .write.mode("overwrite").parquet(sink.epoch(epochId))
            DedupOps.ClusterDeltas.noteAppend(sfDir, sink.data,
              obs.get("n").asInstanceOf[Long], epochId)
            // maintenance turn: epoch gauge + minor compaction once the
            // overlay passes the cadence — keeps every later batch's
            // overlay read (and the election's) bounded by O(live
            // overlay + compactEpochs epochs), not stream age
            DedupOps.maybeCompactClusterDeltas(spark, sfDir, sink.data,
              compactEpochs)
          }
        } finally { batch.unpersist(); () }
      }
      DedupOps.crossModalKeepBestOver(spark, sfDir,
        DedupOps.servedClusterAssignment(spark, base, sink.data))
    } finally {
      DedupOps.ClusterDeltas.retire(sfDir, sink.data)
      ()
    }
  }

  /** STREAMING ANN: serve a stream of query vectors against the staged
    * cell-partitioned vector index — the continuous form of the
    * ingestion-time retrieval/dedup a training-data pipeline runs
    * (every arriving document embedding is checked against the corpus
    * index). Per micro-batch the arrived query ids (a bounded admission
    * window) go through [[graft.operators.SimilarityOps
    * .embeddingBatchTopK]] — ONE pruned index scan per batch, the
    * amortized serving shape — and results append to an executor-written
    * file sink (the [[runToFiles]] stance: per-query top-k rows are
    * corpus-independent but unbounded over the stream's lifetime, so
    * they never accumulate on the driver).
    *
    * Deterministic WITHOUT the one-batch premise: each query id arrives
    * exactly once, and its top-k depends only on the staged index — any
    * micro-batch split yields the same union of results (asserted
    * against [[graft.operators.SimilarityOps.embeddingBatchTopK]] in
    * tests; the oracle is the batch key's SQL restricted to the same id
    * window).
    *
    * The driver hop is CAPPED: a micro-batch of at most `maxDriverIds`
    * query ids stages its probe list through the driver (the bounded
    * serving-batch shape, [[graft.operators.SimilarityOps
    * .MaxDriverProbeIds]]); a larger batch — a trigger with no admission
    * window admitting arbitrarily many ids — routes through the
    * join-based [[graft.operators.SimilarityOps.embeddingBatchTopKFrame]]
    * instead, which keeps the ids distributed end-to-end. Without the
    * cap an oversized batch turns straight into a driver collect and an
    * `isin`-literal probe list — at real scale the difference between a
    * serving tier and a driver OOM. Each micro-batch writes its results
    * to an epoch-keyed partition dir with overwrite (the
    * [[streamDeadLetterSplit]] discipline), so a retried epoch replaces
    * its own output rather than double-appending.
    */
  def streamAnnTopK(spark: SparkSession, sfDir: String,
      maxQueryId: Long = 4L, k: Int = 5,
      maxDriverIds: Int = graft.operators.SimilarityOps.MaxDriverProbeIds,
      // DerivedProbe: the serving paths resolve np from the staged
      // index's declared (corpus-scaled) geometry, like the batch keys
      numProbe: Int = graft.operators.SimilarityOps.DerivedProbe,
      // serve through the compressed two-stage read (ADC shortlist +
      // exact re-rank; contract key keeps the exact-rescore default).
      // Refined batches ALWAYS route through the all-distributed frame
      // path regardless of size — a cap-dependent path switch would
      // make refined results micro-batch-split-DEPENDENT
      refined: Boolean = false): DataFrame = {
    val sink = new EpochSink(spark, "graft_stream_ann_", "data")
    sink.drain(fixtureStream(spark, sfDir, "embeddings")
        .filter(col("vec_id") <= maxQueryId).select("vec_id")) { (batch, epochId) =>
      batch.persist()
      try {
        val n = batch.count()
        if (n > 0) {
          val result =
            if (refined) graft.operators.SimilarityOps
              .embeddingBatchTopKRefinedFrame(spark, sfDir, batch, k, numProbe)
            else if (n <= maxDriverIds) {
              val ids = batch.collect().map(_.getLong(0)).toSeq
              graft.operators.SimilarityOps
                .embeddingBatchTopK(spark, sfDir, ids, k, numProbe)
            } else graft.operators.SimilarityOps
              .embeddingBatchTopKFrame(spark, sfDir, batch, k, numProbe)
          result.write.mode("overwrite").parquet(sink.epoch(epochId))
          // retention maintenance turn (r17 verdict #4): the serve sink
          // is update-shaped per query id — a qid's newest top-k
          // supersedes any earlier serve of the same qid
          EpochDirs.foldEpochSink(spark, sink.data, SinkFoldEpochs, Seq("qid"))
        }
      } finally { batch.unpersist(); () }
    }
    sink.read(StructType.fromDDL("qid BIGINT, vec_id BIGINT, cosine DOUBLE, rnk INT"))
  }

  /** STREAMING index maintenance — the continuous form of
    * [[graft.operators.SimilarityOps.appendToStagedIvfIndex]], the shape
    * a production vector index actually runs (full retrains are
    * periodic; ingestion is a stream): each arriving micro-batch of
    * vectors is assigned + PQ-encoded under the FROZEN staged
    * centroids/codebook (in-row literal folds — no shuffle, no read of
    * existing segments) and written as a cell-partitioned SEGMENT under
    * an epoch-keyed dir with overwrite, so a retried epoch replaces its
    * own segment rather than double-appending (the
    * [[streamDeadLetterSplit]] idempotency discipline). The served
    * index is the union of segments — the LSM shape; compaction is the
    * staleness-triggered full retrain
    * ([[graft.operators.SimilarityOps.maybeRetrainStagedIndex]]).
    *
    * Deterministic WITHOUT the one-batch premise: each vector arrives
    * exactly once and its index row depends only on the frozen
    * artifacts, so any micro-batch split yields the same union — the
    * final contents equal [[graft.operators.SimilarityOps.indexRows]]
    * over the whole corpus (asserted in tests; the oracle re-derives
    * assignment + residual codes per vector). */
  def streamIndexAppend(spark: SparkSession, sfDir: String,
      // soak knob + compaction cadence, as on streamCrossModalMerge:
      // the fixture stream is one file — one epoch — so the defaults
      // change nothing for the contract keys
      maxFilesPerTrigger: Option[Int] = None,
      compactEpochs: Int =
        graft.operators.SimilarityOps.AnnCompactEpochs): DataFrame = {
    val sink = new EpochSink(spark, "graft_stream_idx_", "segs")
    val cents = graft.operators.SimilarityOps.stagedCentroidIndex(spark, sfDir)
    val cb = graft.operators.SimilarityOps.stagedPqCodebook(spark, sfDir)
    sink.drain(fixtureStream(spark, sfDir, "embeddings", maxFilesPerTrigger)) {
      (batch, epochId) =>
        // emptiness gate via limit-1 probe; the appended row count rides
        // the segment write as an observed metric instead of a separate
        // count job (opt r20 — the tombstoneClusterDocs discipline;
        // indexRows is a pure projection, so its row count IS the batch
        // count). No persist: the batch is consumed exactly once.
        if (!batch.isEmpty) {
          val obs = org.apache.spark.sql.Observation()
          // spread the arriving vectors before the CPU-bound in-batch
          // encode (the spreadBatch discipline, opt r19/r20): a
          // single-file batch otherwise PQ-encodes serially on one core
          // (measured 0.4 s of the batch body at sf0.1)
          graft.operators.SimilarityOps.indexRows(
              graft.operators.DedupOps.spreadBatch(batch), cents, cb)
            .observe(obs, count(lit(1)).as("n"))
            // spread the dynamic-partition write across the cells (opt
            // r20): a single-file micro-batch arrives as ONE task, whose
            // writer then opens/commits every cell's file SERIALLY
            // (measured 1.2-1.3 s of the key's 1.8 s at sf0.1);
            // hash-clustering by cell lets ≤|cells| tasks write in
            // parallel — and at real scale it is also the file-count
            // bound (guide §6): a many-task batch would otherwise write
            // tasks × cells small files per epoch instead of one per
            // cell. Explicit count pins the exchange against AQE's
            // pre-write coalescing (the groupMembers lesson); cell values
            // and file contents are unchanged, only write parallelism
            // moves.
            .repartition(cents.size, col("cell"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(sink.epoch(epochId))
          // keep a LIVE registration's row count current (no-op here,
          // where registration follows the drain — but a production
          // topology registers early and appends forever, and the
          // staleness gauge must track that overlay growth)
          graft.operators.SimilarityOps.Segments.noteAppend(sfDir, sink.data,
            obs.get("n").asInstanceOf[Long], epochId)
          // maintenance turn: epoch gauge + minor compaction past the
          // cadence (one cell-consolidated segment instead of a
          // small-file tree per micro-batch)
          graft.operators.SimilarityOps.maybeCompactIndexSegments(
            spark, sfDir, sink.data, compactEpochs)
        }
    }
    // publish to serving: every index read now sees base ∪ this root's
    // segments (SimilarityOps.servedIndex) — ingested vectors are
    // queryable immediately, retrain is compaction not visibility
    graft.operators.SimilarityOps.registerIndexSegments(spark, sfDir, sink.data)
    // contract projection: the scalar index triple (the embedding array
    // and stored ccos stay serving-side); `cell` declared BIGINT so the
    // partition column reads at its identity type — the declared schema
    // comes from indexRows' own projection
    val segSchema = graft.operators.SimilarityOps
      .indexRows(graft.model.Fixtures.embeddings(spark, sfDir).limit(0),
        cents, cb).schema
    sink.read(StructType(segSchema.fields.filterNot(_.name == "cell"))
      .add("cell", "bigint"))
      .select(col("vec_id"), col("cell"), col("pq_code"))
  }

  /** ANN served over base ∪ LIVE SEGMENTS — the end-to-end LSM read:
    * ingest the embedding stream as cell-partitioned segments
    * ([[streamIndexAppend]], which publishes its segment root to
    * serving), then run the batched top-k THROUGH the overlay
    * ([[graft.operators.SimilarityOps.servedIndex]]: base anti-joined
    * on segment vec_ids, then unioned — newest wins) and materialize
    * before retiring the registration. The fixture stream re-ingests
    * the corpus, so every segment row duplicates a base row and the
    * result must be row-identical to `ann_batch` — which is exactly
    * what makes the key oracle-checkable: a dedup bug (doubled
    * candidates) or a visibility bug (segments ignored) both break the
    * hash. The new-vector visibility direction is locked by the
    * segment-serving spec test. */
  def annSegmentServe(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.SimilarityOps
    streamIndexAppend(spark, sfDir) // ingest + publish segments
    // retire by ROOT, not blanket: this key must drop exactly the
    // registration its own ingestion published, never one some other
    // serve path installed meanwhile (ADVICE r13)
    val root = SimilarityOps.Segments.resolve(sfDir)
    try {
      // materialize THROUGH the overlay, then serve the driver from
      // the sink (the epoch-sink discipline of the other stream keys)
      TempDirs.materialize(SimilarityOps.embeddingBatchTopK(spark,
        sfDir, SimilarityOps.QUERY_BATCH, SimilarityOps.IVF_K), "graft_ann_seg_")
    } finally root.foreach(SimilarityOps.Segments.retire(sfDir, _))
  }

  // ---------------------------------------------------------------------
  // Driver-contract wiring (every key oracle-backed since round 7; the
  // stream-vs-batch equivalence suite is the second, independent lock)
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "stream_tumbling" -> ((s, d) => streamTumblingWindow(s, d)),
    "stream_session" -> ((s, d) => streamSessionWindow(s, d)),
    "stream_dedup" -> ((s, d) => streamDedupWatermark(s, d)),
    "stream_redel" -> ((s, d) => streamRedeliveryTracker(s, d)),
    "stream_dlq" -> ((s, d) => streamDeadLetterSplit(s, d)),
    "stream_enrich" -> ((s, d) => streamEnrichJoin(s, d)),
    // "ss_join" = stream-stream join; short by design — the bench JSON
    // line must fit the driver's 2000-char stdout tail whole (Bench
    // scaladoc), the pq_enc precedent
    "ss_join" -> ((s, d) => streamStreamJoin(s, d)),
    // streaming ANN against the staged vector index (round 9)
    "stream_ann" -> ((s, d) => streamAnnTopK(s, d)),
    // streaming index segment ingestion under frozen artifacts (round
    // 12). The CONTRACT wrapper retires the registration its run
    // published (ADVICE r13): the projection it returns reads the
    // segment files directly, and a surviving registration would couple
    // every later ANN key's plan — and the staleness gauge — to key
    // order. streamIndexAppend itself keeps publishing (that is its
    // production semantic, spec-locked); only the contract key is a
    // self-contained measurement.
    "stream_idx" -> ((s, d) => {
      val out = streamIndexAppend(s, d)
      graft.operators.SimilarityOps.Segments.resolve(d)
        .foreach(graft.operators.SimilarityOps.Segments.retire(d, _))
      out
    }),
    // ANN through the base ∪ live-segments overlay (round 13)
    "ann_seg" -> ((s, d) => annSegmentServe(s, d)),
    // streaming ingestion dedup against the staged text-signature
    // index (round 13) — "stream_lsh" short for the bench-line budget
    "stream_lsh" -> ((s, d) => streamTextDedup(s, d)),
    // streaming cross-modal reconciliation — the cluster layer's
    // stream-serve leg (round 15): all four gates' verified cross edges
    // fold into the staged base clusters per micro-batch
    "stream_xm" -> ((s, d) => streamCrossModalMerge(s, d)),
    // streaming decontamination gate (round 16): arriving docs checked
    // against the staged benchmark-gram index before admission
    "stream_dc" -> ((s, d) => streamDecontaminate(s, d))) ++
    // streaming media ingestion dedup against the staged fingerprint
    // indexes (round 14) — the media legs of the triad, one per
    // modality through the ONE modality-generic implementation
    graft.operators.DedupOps.MediaModalities.map(m =>
      s"stream_${m.name}" ->
        ((s: SparkSession, d: String) => streamMediaDedup(s, d, m)))

  /** All six streaming keys are oracle-backed: `stream_dlq_split` via
    * its sink files (covering the full foreachBatch fan-out),
    * `stream_enrich` via its final joined aggregate, and the four
    * state keys via the batch-equivalent SQL justified below.
    */
  def oracle: Map[String, String] = Map(
    // Round 7: every formerly-sanctioned no-oracle key now carries a
    // batch-equivalent oracle. The staged input is ONE file, so
    // AvailableNow drives each query in a single micro-batch: the
    // complete-mode window finals ARE the batch aggregation, watermark
    // dedup evicts no state mid-batch (append output = the distinct key
    // set), and the redelivery tracker's per-batch emissions are
    // CUMULATIVE counts whose max-per-key post-aggregate equals the
    // plain per-key count — batch-split-independent as long as no state
    // timeout fires mid-stream (single batch: none can).
    "stream_tumbling" ->
      graft.operators.MessageOps.oracle("thru_tumbling"),
    "stream_session" ->
      graft.operators.TemporalOps.oracle("session_assign"),
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_id % 256 AS seq FROM events""",
    "stream_redel" ->
      """SELECT user_id, event_id % 256 AS seq,
                CAST(count(*) AS BIGINT) AS n_deliveries
         FROM events GROUP BY 1, 2""",
    "stream_enrich" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment""",
    // single-batch premise: every click/purchase pair is co-present in
    // the one micro-batch, so no click can be evicted before a matching
    // purchase arrives — the streaming inner join emits exactly the
    // batch join's rows
    "ss_join" ->
      """SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_attributed,
                round(sum(b.value), 2) AS sum_value
         FROM events a JOIN events b
           ON b.user_id = a.user_id
          AND a.event_type = 'click' AND b.event_type = 'purchase'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
         GROUP BY a.user_id""",
    "stream_dlq" ->
      """SELECT topic, CAST(n AS BIGINT) AS n, sum_value FROM (
           SELECT 'main' AS topic, count(*) AS n, round(sum(value), 2) AS sum_value
           FROM events WHERE NOT (value IS NULL OR props IS NULL OR value > 250.0)
           UNION ALL
           SELECT 'dlq' AS topic, count(*) AS n, round(sum(value), 2) AS sum_value
           FROM events WHERE value IS NULL OR props IS NULL OR value > 250.0)
         ORDER BY topic""",
    // stream_ann: micro-batch-split-INDEPENDENT (each query id arrives
    // once; its top-k depends only on the staged index), so the oracle
    // is the batch key's SQL restricted to the same id window — shared
    // builder, zero drift
    "stream_ann" ->
      graft.operators.SimilarityOps.annBatchOracleSql("vec_id <= 4", 5),
    // stream_idx: split-independent (each vector's index row depends
    // only on the frozen artifacts), so the oracle is the per-vector
    // assignment + residual-code derivation — shared builder, zero drift
    "stream_idx" ->
      graft.operators.SimilarityOps.indexContentsOracleSql,
    // ann_seg: the overlay serve over a full re-ingestion must be
    // row-identical to the base ann_batch (newest-wins dedup over
    // bit-identical segment rows) — same oracle builder, zero drift
    "ann_seg" ->
      graft.operators.SimilarityOps.annBatchOracleSql(
        s"vec_id IN (${graft.operators.SimilarityOps.QUERY_BATCH.mkString(", ")})",
        graft.operators.SimilarityOps.IVF_K),
    // stream_lsh: split-independent (cross pairs only — each arriving
    // doc's verified dups depend on that doc + the frozen base index),
    // so the streamed union equals the batch incremental dedup over the
    // whole corpus — incr_dedup's oracle verbatim, zero drift
    "stream_lsh" ->
      graft.operators.DedupOps.oracle("incr_dedup"),
    // stream_xm: split-independent (the CapSpec-locked merge-fold
    // property over any split of the edge stream), so the served
    // election equals the from-scratch closure over every edge except
    // new×new — the batch xmodal chain with the new×new filter, zero
    // drift
    "stream_xm" ->
      graft.operators.DedupOps.streamCrossModalOracle,
    // stream_dc: split-independent (one row per doc — its grams land in
    // one batch, its verdict depends on that doc + the frozen probe
    // set), so the streamed union equals the batch detector over the
    // whole corpus — decontam's oracle verbatim, zero drift
    "stream_dc" ->
      graft.operators.DedupOps.oracle("decontam")) ++
    // stream_img/wav/gif: split-independent (cross pairs only), so each
    // streamed union equals the cross-pair slice of its modality's
    // batch dedup — shared builders over the SAME arithmetic chains the
    // batch oracles use, zero drift
    graft.operators.DedupOps.MediaModalities.map(m =>
      s"stream_${m.name}" -> m.incrementalOracle)
}
