package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.util.StampedMemo

/** Producer-side helpers for the graft message log. Routing is declarative
  * (`repartition(n, col("user_id"))` = `partition_key` hash routing,
  * `src/PulsarApi.proto:98-99`); framing and ledger placement happen in
  * the DataSource V2 sink ([[MsgLogWriteBuilder]]) — one ledger per input
  * partition, like one producer per topic partition
  * (`src/entity/producer.rs:39-52`).
  */
object MsgLog {

  def writeEvents(ev: DataFrame, dir: String, numLedgers: Int): Unit =
    ev.select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
      .repartition(numLedgers, col("user_id"))
      .write.format("graft-msglog").mode("append").save(dir)

  val NumLedgers = 4

  // Every staged topic below is (size, mtime)-stamped on events.parquet,
  // like every other staged artifact: an events fixture rewritten in
  // place re-stages instead of serving the stale topic, and the
  // superseded topic dir is deleted.
  private val staged = new StampedMemo[String]("events")

  private def retire(dir: String): Unit = graft.util.TempDirs.retire(Paths.get(dir))

  /** Stage the events fixture as a message-log topic once per sf dir. */
  def stagedEventsLog(spark: SparkSession, sfDir: String): String =
    staged.get(sfDir, retire)({
      val dir = Files.createTempDirectory("graft_msglog_")
      graft.util.TempDirs.track(dir)
      writeEvents(Fixtures.events(spark, sfDir), dir.toString, NumLedgers)
      dir.toString
    })

  /** Contract query: produce the events stream into the log (framed,
    * CRC'd, hash-routed), consume it back through the DataSource V2
    * reader (CRC-verified), and aggregate — a full produce/consume
    * round-trip through the custom connector. The oracle aggregates the
    * original table: any framing/routing/decode defect breaks the hash
    * match.
    */
  def msglogRoundtripScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedEventsLog(spark, sfDir)
    spark.read.format("graft-msglog").load(dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"),
        count_distinct(col("user_id")).as("n_users"))
  }

  /** Topic compaction (reference `read_compacted`,
    * `src/PulsarApi.proto:325`): rewrite a topic keeping only the latest
    * message per partition key — the broker-side compaction job whose
    * *read* form is the `read_compacted` query. Latest =
    * max (publish time, event_id); output is routed/framed like any
    * produce, so a compacted topic is itself a valid topic.
    *
    * DELETE MARKERS (r18 verdict #2 — Pulsar compaction semantics): a
    * message with an EMPTY payload is a deletion of its key — when the
    * key's LATEST message is such a tombstone, the key is REMOVED from
    * the compacted topic (and the marker itself is not retained); a
    * tombstone superseded by a later real message deletes nothing. The
    * empty-payload analog here is a null/empty `props` (the message's
    * free-form payload field — every fixture row carries JSON, so the
    * marker is producible but never accidental), shared with
    * [[graft.operators.MessageOps.readCompactedLastPerKey]] so the
    * compaction job and the read_compacted view agree. */
  def compactTopic(spark: SparkSession, inDir: String, outDir: String,
      numLedgers: Int = NumLedgers): Unit = {
    // The sink is append-only, so compacting INTO a non-empty topic would
    // leave the stale pre-compaction ledgers alongside the new ones —
    // refuse rather than silently violate the latest-per-key contract.
    require(MsgLogSource.ledgerFiles(outDir).isEmpty,
      s"compactTopic: output topic $outDir already contains ledgers")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = spark.read.format("graft-msglog").load(inDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(!isDeleteMarker)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    latest.repartition(numLedgers, col("user_id"))
      .write.format("graft-msglog").mode("append").save(outDir)
  }

  /** The compaction delete-marker predicate — an empty message payload
    * (null or zero-length `props`), per the Pulsar compaction contract
    * [[compactTopic]] documents. One definition, shared by the
    * compaction job and the `read_compacted` view. */
  def isDeleteMarker: org.apache.spark.sql.Column =
    coalesce(length(col("props")), lit(0)) === 0

  /** Namespace topic listing (reference `CommandGetTopicsOfNamespace`,
    * `src/PulsarApi.proto:656-670`): a namespace = a directory of topic
    * directories; returns one row per topic with its partition (ledger)
    * count and message total — the catalog surface a multi-topic
    * subscribe (`union` of sources) starts from.
    */
  def listTopics(spark: SparkSession, namespaceDir: String): DataFrame = {
    import spark.implicits._
    val topics = Option(new java.io.File(namespaceDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.isDirectory)
      .sortBy(_.getName)
      .map { d =>
        val ledgers = MsgLogSource.ledgerFiles(d.getAbsolutePath)
        (d.getName, ledgers.size, ledgers.map(MsgLogCodec.countEntries).sum)
      }
    topics.toSeq.toDF("topic", "n_partitions", "n_messages")
  }

  /** Per-ledger last message id (reference `CommandGetLastMessageId`,
    * `src/PulsarApi.proto:610-620`): the public probe a consumer uses to
    * know "am I caught up" — `(ledger, last_entry, n_entries)` per
    * ledger of the topic, the same coordinates rows carry
    * (`MessageIdData`). Empty ledgers report `last_entry = -1`, like the
    * broker's empty-topic response. Header-walk only (no decode), one
    * row per ledger — the driver-side cost the streaming `latestOffset`
    * pays per trigger, exposed as a one-shot catalog surface.
    */
  def lastMessageIds(spark: SparkSession, topicDir: String): DataFrame = {
    import spark.implicits._
    MsgLogSource.ledgerFiles(topicDir).map { p =>
      val name = p.getFileName.toString
      val n = MsgLogCodec.countEntries(p)
      (MsgLogSource.ledgerId(name), name, n - 1, n)
    }.toDF("ledger", "ledger_file", "last_entry", "n_entries")
  }

  /** Subscription backlog (reference `CommandConsumerStats` /
    * `msgBacklog`, `src/PulsarApi.proto:621-640`): compare a streaming
    * query's CHECKPOINTED frontier (its cumulative ack position) with
    * the topic's live per-ledger entry counts — per ledger: entries
    * committed, entries available, backlog. The ops probe behind "is
    * this consumer keeping up", computed without touching the
    * subscription (the checkpoint is the broker-side cursor here).
    * Ledgers the checkpoint has never seen report committed 0;
    * redelivery-journal keys (`!nack!…`) are a delivery mechanism, not
    * data backlog, and are excluded.
    */
  def subscriptionStats(spark: SparkSession, topicDir: String,
      checkpointDir: String): DataFrame = {
    import spark.implicits._
    val offsetsDir = java.nio.file.Paths.get(checkpointDir, "offsets")
    val latestBatch: Option[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(offsetsDir)) None
      else {
        val s = java.nio.file.Files.list(offsetsDir)
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.matches("\\d+"))
          .sortBy(_.getFileName.toString.toLong).lastOption
        finally s.close()
      }
    // OffsetSeqLog v1 layout: "v1" header, metadata JSON, then one
    // offset line per source ("-" for sources without one); ours is the
    // name-keyed MsgLogOffset JSON — parse loud, like deserializeOffset
    val committed: Map[String, Long] = latestBatch match {
      case None => Map.empty
      case Some(f) =>
        java.nio.file.Files.readAllLines(f).asScala.toSeq
          .drop(2).filter(l => l.nonEmpty && l != "-")
          .map(l => MsgLogOffset.parse(l).counts)
          .foldLeft(Map.empty[String, Long])(_ ++ _)
          .filterNot { case (k, _) => MsgLogNacks.isNackKey(k) }
    }
    val rows = MsgLogSource.ledgerFiles(topicDir).map { p =>
      val name = p.getFileName.toString
      val available = MsgLogCodec.countEntries(p)
      val done = math.min(available, committed.getOrElse(name, 0L))
      (name, done, available, available - done)
    }
    rows.toDF("ledger_file", "committed_entries", "available_entries", "backlog")
  }

  private val stagedNs = new StampedMemo[String]("events")

  /** Stage the events fixture as a 2-topic NAMESPACE once per sf dir:
    * even user_ids → `topic-even`, odd → `topic-odd` (a producer-side
    * routing split, so the union of the two topics is exactly the events
    * table).
    */
  def stagedNamespace(spark: SparkSession, sfDir: String): String =
    stagedNs.get(sfDir, retire)({
      val dir = Files.createTempDirectory("graft_msglog_ns_")
      graft.util.TempDirs.track(dir)
      val ev = Fixtures.events(spark, sfDir)
      writeEvents(ev.filter(pmod(col("user_id"), lit(2)) === 0),
        dir.resolve("topic-even").toString, 2)
      writeEvents(ev.filter(pmod(col("user_id"), lit(2)) === 1),
        dir.resolve("topic-odd").toString, 2)
      dir.toString
    })

  /** Contract query: consume a UNION of topics (`topics=*` over the
    * namespace) as one DataFrame and aggregate per (topic, event_type) —
    * the `CommandGetTopicsOfNamespace` consumption path. The oracle
    * recomputes the producer-side routing split over the original table:
    * a message landing in (or labeled with) the wrong topic breaks the
    * hash match.
    */
  def msglogMultiTopicScan(spark: SparkSession, sfDir: String): DataFrame = {
    val ns = stagedNamespace(spark, sfDir)
    spark.read.format("graft-msglog").option("topics", "*").load(ns)
      .groupBy("topic", "event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** One row of the dead-letter inspection surface: the diverted file,
    * its kind, and the best-effort decoded core fields (None where the
    * body could not be walked — `decode_error` says why).
    */
  case class DeadLetter(
      dlq_file: String,
      kind: String,
      decode_error: Option[String],
      event_id: Option[Long],
      ts_us: Option[Long],
      user_id: Option[Long],
      event_type: Option[String],
      value: Option[Double],
      props: Option[String])

  /** Consume a topic's dead-letter queue (reference DLQ policy,
    * `src/entity/consumer.rs:71-77` — in Pulsar the DLQ is itself a
    * consumable topic): every frame `onCorrupt=deadletter` diverted under
    * `<topic>/.dlq/`, decoded best-effort IGNORING the failed CRC
    * (single-bit payload corruption usually leaves the body walkable;
    * `decode_error` carries the reason when not). Chunk `.part` slices
    * surface as rows of kind `chunk_part` for uuid-keyed reassembly
    * tooling. Distributed read (binaryFile source + flatMap) — DLQs are
    * small by nature, but nothing here collects to the driver.
    */
  def readDeadLetters(spark: SparkSession, topicDir: String): DataFrame = {
    import spark.implicits._
    val dlq = new java.io.File(topicDir, ".dlq")
    if (!dlq.isDirectory) return spark.emptyDataset[DeadLetter].toDF()
    spark.read.format("binaryFile").load(dlq.getAbsolutePath)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        if (path.endsWith(".part"))
          Seq(DeadLetter(path, "chunk_part",
            Some("chunk slice: reassemble by group uuid"),
            None, None, None, None, None, None))
        else MsgLogCodec.decodeFrameLenient(bytes) match {
          case Left(reason) =>
            Seq(DeadLetter(path, "frame", Some(reason),
              None, None, None, None, None, None))
          case Right(msgs) => msgs.toSeq.map(m =>
            DeadLetter(path, "frame", None, Some(m.eventId), Some(m.tsUs),
              Some(m.userId), Some(m.eventType), Some(m.value), Some(m.props)))
        }
      }
      .toDF()
  }

  private val stagedEnv = new StampedMemo[String]("events")

  /** Envelope columns derived DETERMINISTICALLY from the events fixture,
    * so a DuckDB oracle can recompute every one of them from the original
    * table: producer fan-out by user hash, sequence = event id, event
    * time lagging publish time by `event_id % 1000` µs, partition/ordering
    * keys from the routing key, a properties map keyed off user and type.
    */
  private def withEnvelope(ev: DataFrame): DataFrame =
    ev.select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"),
      col("value"), col("props"),
      concat(lit("p-"), pmod(col("user_id"), lit(4))).as("producer_name"),
      col("event_id").as("sequence_id"),
      timestamp_micros(unix_micros(col("ts")) + pmod(col("event_id"), lit(1000)))
        .as("event_time"),
      pmod(col("user_id"), lit(50)).cast("string").as("partition_key"),
      encode(pmod(col("user_id"), lit(50)).cast("string"), "UTF-8").as("ordering_key"),
      map(
        lit("tier"),
        when(pmod(col("user_id"), lit(3)) === 0, "gold")
          .when(pmod(col("user_id"), lit(3)) === 1, "silver")
          .otherwise("bronze"),
        lit("src"), col("event_type")).as("properties"),
      lit(0).as("redelivery_count"))

  /** Stage the events fixture as a fully-enveloped topic once per sf dir,
    * routed by partition_key (the reference's `partition_key` hash
    * routing, `src/PulsarApi.proto:98-99`).
    */
  def stagedEnvelopeLog(spark: SparkSession, sfDir: String): String =
    stagedEnv.get(sfDir, retire)({
      val dir = Files.createTempDirectory("graft_msglog_env_")
      graft.util.TempDirs.track(dir)
      withEnvelope(Fixtures.events(spark, sfDir))
        .repartition(NumLedgers, col("partition_key"))
        .write.format("graft-msglog").mode("append").save(dir.toString)
      dir.toString
    })

  /** Contract query: produce the events stream with the FULL
    * `MessageMetadata` envelope (`src/PulsarApi.proto:89-149`), consume
    * it back, and aggregate over envelope fields only a correct
    * round-trip can reproduce — a property-map lookup and partition_key
    * as the grouping keys, max sequence_id, distinct producers, the
    * event-vs-publish time lag, and an ordering_key/partition_key
    * consistency count. The oracle recomputes every envelope derivation
    * from the original events table: any envelope field lost, reordered,
    * or corrupted by the codec/writer/reader breaks the hash match.
    */
  def msglogEnvelopeScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedEnvelopeLog(spark, sfDir)
    spark.read.format("graft-msglog").load(dir)
      .groupBy(
        col("properties").getItem("tier").as("tier"),
        col("partition_key"))
      .agg(
        count(lit(1)).as("n"),
        max(col("sequence_id")).as("max_seq"),
        count_distinct(col("producer_name")).as("n_producers"),
        sum(unix_micros(col("event_time")) - unix_micros(col("ts"))).as("lag_us"),
        sum(when(decode(col("ordering_key"), "UTF-8") === col("partition_key"), 1L)
          .otherwise(0L)).as("n_okey_match"),
        max(col("redelivery_count")).as("max_redelivery"))
  }

  /** Contract query: consume the topic under a DECLARED payload schema
    * (`payloadSchema` option — the `GetSchema` analog,
    * `src/PulsarApi.proto:672-700`) and aggregate over the decoded
    * `payload.k` struct field. The oracle re-derives the field with
    * DuckDB's JSON extraction from the original table: a mis-decoded,
    * mis-typed, or dropped payload field breaks the hash match.
    */
  def msglogSchemaScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedEventsLog(spark, sfDir)
    spark.read.format("graft-msglog")
      .option("payloadSchema", "k INT")
      .load(dir)
      .groupBy((col("payload.k") % 10).as("k_mod"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"),
        max(col("payload.k")).as("max_k"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "msglog_rt" -> ((s, d) => msglogRoundtripScan(s, d)),
    "multi_scan" -> ((s, d) => msglogMultiTopicScan(s, d)),
    "msglog_env" -> ((s, d) => msglogEnvelopeScan(s, d)),
    "msglog_schema" -> ((s, d) => msglogSchemaScan(s, d)))

  def oracle: Map[String, String] = Map(
    "msglog_rt" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS sum_value,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "multi_scan" ->
      """SELECT CASE WHEN user_id % 2 = 0 THEN 'topic-even' ELSE 'topic-odd' END AS topic,
                event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "msglog_schema" ->
      """SELECT CAST(CAST(props->>'k' AS INTEGER) % 10 AS INTEGER) AS k_mod,
                CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS sum_value,
                max(CAST(props->>'k' AS INTEGER)) AS max_k
         FROM events GROUP BY 1""",
    "msglog_env" ->
      """SELECT CASE WHEN user_id % 3 = 0 THEN 'gold'
                     WHEN user_id % 3 = 1 THEN 'silver'
                     ELSE 'bronze' END AS tier,
                CAST(user_id % 50 AS VARCHAR) AS partition_key,
                CAST(count(*) AS BIGINT) AS n,
                max(event_id) AS max_seq,
                CAST(count(DISTINCT 'p-' || CAST(user_id % 4 AS VARCHAR)) AS BIGINT) AS n_producers,
                CAST(sum(event_id % 1000) AS BIGINT) AS lag_us,
                CAST(count(*) AS BIGINT) AS n_okey_match,
                CAST(0 AS INTEGER) AS max_redelivery
         FROM events GROUP BY 1, 2""")
}
