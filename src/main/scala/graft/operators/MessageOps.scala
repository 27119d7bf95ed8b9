package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Fixtures

/** Message-semantics operators: the reference's produce/consume/route/ack
  * protocol behaviors (SURVEY.md §2.1) re-expressed as declarative Spark
  * transformations over the `events` envelope table.
  *
  * Every public op is `DataFrame => DataFrame` so it composes at scale; the
  * `queries`/`oracle` maps wire them into the driver contract
  * (`SparkEntry`). All outputs are deterministically ordered and use
  * engine-portable expressions (SURVEY §7.3: `user_id % n` routing, epoch
  * µs/ms integers instead of raw timestamps).
  */
object MessageOps {

  private val P = Fixtures.NumPartitions // topic partition fan-out

  /** epoch microseconds of `ts` — portable across Spark (µs-truncated
    * TimestampType) and DuckDB (`epoch_us(CAST(ts AS TIMESTAMP))`).
    */
  private def publishUs(c: Column): Column = unix_micros(c)

  // ---------------------------------------------------------------------
  // Scan / filter / decode (consume path: reference src/message/codec.rs,
  // serde.rs — payload decode; dispatcher routing src/netflow/dispatcher.rs)
  // ---------------------------------------------------------------------

  /** Envelope projection of a topic scan (SURVEY §1.3 envelope schema;
    * reference `MessageMetadata` proto:89-149). Pure project — Catalyst
    * prunes the parquet scan to exactly these columns. No output sort:
    * full-table results are canonicalized by the comparator (it sorts rows
    * before hashing), and a global sort of an unbounded output is exactly
    * the shuffle we refuse to pay at 100 TB.
    */
  def scanEnvelope(ev: DataFrame): DataFrame =
    ev.select(
      col("event_id").as("entry_id"),
      (col("user_id") % P).cast("int").as("partition"),
      col("user_id").as("partition_key"),
      unix_millis(col("ts")).as("publish_ms"),
      col("event_type").as("topic"),
      col("value"),
      col("props"))

  /** Client-side selection (dispatcher routes frames by key; we filter rows).
    * Predicate is pushed to the parquet reader (`PushedFilters` in explain).
    */
  def filterByType(ev: DataFrame, eventType: String, minValue: Double): DataFrame =
    ev.filter(col("event_type") === eventType && col("value") > minValue)
      .select(
        col("event_id"), col("user_id"),
        publishUs(col("ts")).as("publish_us"), col("value"))

  /** `DeserializeMessage` analog (reference src/message/serde.rs:6-23):
    * decode the opaque JSON payload with a declared schema — schema-on-read.
    */
  def decodeProps(ev: DataFrame): DataFrame =
    ev.select(
      col("event_id"),
      from_json(col("props"), lit("k INT")).getField("k").as("prop_k"))

  // ---------------------------------------------------------------------
  // Routing (produce path: partition_key hash routing proto:98-99,
  // round-robin PartitionedProducer src/entity/producer.rs:308-311,
  // Key_Shared hash ranges proto:286-295)
  // ---------------------------------------------------------------------

  /** Hash-routing by partition key → per-partition message counts. Uses
    * portable `key % n`, not Murmur3, so the oracle agrees. At scale this is
    * a map-side-combined groupBy: one shuffle of `P` tiny rows.
    */
  def routeByPartitionKey(ev: DataFrame): DataFrame =
    ev.groupBy((col("user_id") % P).cast("int").as("part"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_keys"))

  /** Round-robin distribution (`rotate_left(1)` per send): slot `i` of `N`
    * messages over `s` slots holds exactly `⌊(N - i + s - 1) / s⌋` — the
    * answer is closed-form in the row count, so the plan is one
    * map-side-combined `count()` plus 4 rows of arithmetic. No window, no
    * sort, no single-task stage (the round-1 unpartitioned-window version
    * pulled the whole table into one task). At scale the physical act of
    * round-robin routing is `df.repartition(n)`; this query reports the
    * resulting balance.
    */
  def roundRobinBalance(ev: DataFrame, slots: Int): DataFrame =
    ev.agg(count(lit(1)).as("total"))
      .select(col("total"), explode(sequence(lit(0), lit(slots - 1))).as("slot"))
      .select(
        col("slot").cast("long").as("slot"),
        expr(s"(total - slot + ${slots - 1}) div $slots").as("n"))

  /** Key_Shared hash-range assignment (proto:286-295): portable hash of the
    * key into [0, 256), bucketed into 4 sticky ranges.
    */
  def keySharedRanges(ev: DataFrame): DataFrame = {
    val h = (col("user_id") * 31 + 7) % 256
    val range = when(h < 64, "r0").when(h < 128, "r1").when(h < 192, "r2").otherwise("r3")
    ev.select(range.as("range_id"), col("user_id"))
      .groupBy("range_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_keys"))
  }

  // ---------------------------------------------------------------------
  // Dedup & ordering (broker dedup on (producer, sequence_id)
  // proto:577-579; SerialId src/netflow/models.rs:132-148)
  // ---------------------------------------------------------------------

  /** Broker-style dedup: first message wins per (producer, sequence) where
    * producer ≈ user_id and sequence ≈ event_id % 256 (the fixture has no
    * real duplicate sends, so the modulus manufactures collisions).
    * Deterministic variant of `dropDuplicates`: survivor = lowest event_id.
    * One shuffle on the dedup key; at scale identical to the exact-dedup
    * pattern used for document dedup.
    */
  def dedupBySequence(ev: DataFrame): DataFrame = {
    val seq = (col("event_id") % 256).as("seq")
    val w = Window.partitionBy("user_id", "seq").orderBy("event_id")
    ev.select(col("user_id"), seq, col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("seq"), col("event_id").as("first_event_id"))
  }

  // ---------------------------------------------------------------------
  // Ack semantics (CommandAck proto:479-507; redelivery proto:562-565;
  // DLQ src/entity/consumer.rs:71-77)
  // ---------------------------------------------------------------------

  /** Cumulative-ack frontier: running max of publish time per key —
    * "everything ≤ this coordinate is consumed" (proto:480-483).
    */
  def cumulativeAckFrontier(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(
      col("user_id"), col("event_id"),
      max(publishUs(col("ts"))).over(w).as("frontier_us"))
  }

  /** Individual-ack backlog: delivered ∖ acked as a left-anti join on the
    * message id (proto:488-489 — CommandAck Individual carries a message-id
    * list). The "acked" set here is the deterministic subset of clicks plus
    * every third message; backlog = everything not in it. Both sides shuffle
    * on event_id (or the small side broadcasts under AQE).
    */
  def ackBacklogAntiJoin(ev: DataFrame): DataFrame = {
    val acked = ev.filter(col("event_type") === "click" || col("event_id") % 3 === 0)
      .select(col("event_id")).distinct()
    ev.join(acked, Seq("event_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Redelivery tracking (redelivery_count proto:475): groups delivered
    * more than once per (key, type). Map-side combine keeps the shuffle to
    * group cardinality.
    */
  def redeliveryCounts(ev: DataFrame): DataFrame =
    ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Dead-letter divert: groups exceeding max_redeliver_count go to the DLQ
    * branch (reference DeadLetterPolicy). Same aggregate as above with the
    * DLQ threshold filter.
    */
  def deadLetterSplit(ev: DataFrame, maxRedeliver: Int): DataFrame =
    ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxRedeliver)

  // ---------------------------------------------------------------------
  // Cursors (Seek proto:537-543; GetLastMessageId proto:646-654;
  // compacted read proto:325)
  // ---------------------------------------------------------------------

  /** Seek to a publish-timestamp then read forward k messages
    * (CommandSeek by message_publish_time). Spark plans
    * TakeOrderedAndProject: per-partition top-k heaps + driver merge —
    * no global sort even at 100 TB.
    */
  def seekByTimeTopK(ev: DataFrame, sinceEpochUs: Long, k: Int): DataFrame =
    ev.select(
      col("event_id"), col("user_id"), col("event_type"),
      publishUs(col("ts")).as("publish_us"))
      .filter(col("publish_us") >= sinceEpochUs)
      .orderBy(col("publish_us"), col("event_id"))
      .limit(k)

  /** Last message id per topic partition (GetLastMessageId): max message
    * coordinate per partition via a ranking window over `P` partitions.
    */
  def lastMessagePerPartition(ev: DataFrame): DataFrame = {
    val withPart = ev.select(
      (col("user_id") % P).cast("int").as("part"),
      col("event_id"), publishUs(col("ts")).as("publish_us"))
    val w = Window.partitionBy("part")
      .orderBy(col("publish_us").desc, col("event_id").desc)
    withPart.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("part"), col("event_id").as("last_event_id"), col("publish_us").as("last_us"))
  }

  /** Compacted-topic read: latest value per key (read_compacted). The
    * classic changelog-compaction pattern: ranking window, keep rank 1 —
    * then drop keys whose latest message is a compaction DELETE MARKER
    * (empty payload, [[graft.sources.MsgLog.isDeleteMarker]]): the
    * read_compacted view and the compaction job
    * ([[graft.sources.MsgLog.compactTopic]]) must agree that a
    * tombstoned key is gone, not served as an empty row.
    */
  def readCompactedLastPerKey(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(publishUs(col("ts")).desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(!graft.sources.MsgLog.isDeleteMarker)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        col("value"), publishUs(col("ts")).as("publish_us"))
  }

  // ---------------------------------------------------------------------
  // Batching (BatchedMessage codec.rs:28-60), chunking (proto:142-145),
  // stats (proto:597-644), delayed delivery (proto:125-126)
  // ---------------------------------------------------------------------

  /** Batch assemble/disassemble round-trip: pack each key's messages into
    * one batch (sorted collect_list), then explode back out, tagging each
    * row with its batch size (`num_messages_in_batch`).
    */
  def batchExplode(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sort_array(collect_list(col("event_id"))).as("batch"))
      .select(
        col("user_id"),
        size(col("batch")).cast("long").as("batch_n"),
        explode(col("batch")).as("event_id"))

  /** Chunked-message reassembly (uuid/chunk_id/num_chunks): split each
    * document into fixed-size chunks, then reassemble in chunk order and
    * report chunk count + reassembled length. The shuffle key is the
    * message uuid (doc_id), so reassembly is one exchange; chunk order is
    * restored with array_sort on (chunk_id, fragment) structs.
    */
  def chunkReassembly(docs: DataFrame, chunkLen: Int): DataFrame = {
    val nChunks = greatest(ceil(length(col("text")) / lit(chunkLen.toDouble)), lit(1)).cast("int")
    val chunked = docs.select(
      col("doc_id"), col("text"),
      explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        expr(s"substring(text, chunk_id * $chunkLen + 1, $chunkLen)").as("chunk"))
    chunked.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
            x => x.getField("chunk")),
          "").as("reassembled"))
      .select(col("doc_id"), col("n_chunks"), length(col("reassembled")).cast("long").as("len_out"))
  }

  /** Throughput per tumbling hour (consumer stats msgRateOut proto:609-613
    * over time buckets). Sum rounded to the payload's 2-decimal grain so
    * the decimal value is exact under any summation order. Buckets are
    * computed arithmetically on the epoch (`µs` floor-div hour), not with
    * `date_trunc`, so the result is independent of the session time zone.
    * Floor, not truncate: Spark's `div` truncates toward zero while the
    * DuckDB oracle's `//` floors, so pre-1970 (negative-epoch) timestamps
    * would land in different buckets — `pmod` subtraction gives exact
    * integer floor division on both signs.
    */
  def throughputTumbling(ev: DataFrame): DataFrame =
    ev.groupBy((expr(
      "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) div 3600000000")
      * 3600000).as("hour_ms"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Backlog by subscription type (msgBacklog proto:642-643) with a rollup
    * grand-total row — grouping-sets coverage on the stream table.
    */
  def backlogByType(ev: DataFrame): DataFrame =
    ev.rollup("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("backlog"))

  /** Delayed-delivery eligibility (deliver_at_time proto:125-126):
    * messages whose deliver-at (publish + delay) has passed `nowEpochUs`.
    */
  def deliverAtFilter(ev: DataFrame, delayUs: Long, nowEpochUs: Long): DataFrame =
    ev.select(col("event_id"), col("user_id"), publishUs(col("ts")).as("publish_us"))
      .filter(col("publish_us") + delayUs <= nowEpochUs)

  /** Sliding rate window (flow-control accounting, permits proto:523-529):
    * for every message, how many messages its producer sent in the
    * trailing hour — a RANGE frame over the event-time axis (value-based,
    * not row-based: gaps matter). One shuffle on user_id.
    */
  def rateLimitWindow(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("publish_us")
      .rangeBetween(-3600000000L, 0)
    ev.select(col("user_id"), col("event_id"), publishUs(col("ts")).as("publish_us"))
      .withColumn("n_last_hour", count(lit(1)).over(w))
  }

  /** Inter-arrival gaps per producer (`lag` analytic): the delay between
    * consecutive sends, the raw signal behind keep-alive/idle detection
    * (reference heartbeat thresholds, `src/netflow/connection.rs:516-558`).
    */
  def interArrivalGaps(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("publish_us", "event_id")
    ev.select(col("user_id"), col("event_id"), publishUs(col("ts")).as("publish_us"))
      .withColumn("gap_us", col("publish_us") - lag("publish_us", 1).over(w))
      .filter(col("gap_us").isNotNull)
  }

  /** The SQL surface: the same engine through `spark.sql` over a
    * registered view — top-3 producers per topic by message count
    * (`dense_rank` so count ties share a rank). Consumers of the library
    * that live in SQL get the identical Catalyst plans the DataFrame API
    * produces.
    */
  def sqlTopProducers(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    ev.createOrReplaceTempView("graft_events")
    spark.sql(
      """SELECT event_type, user_id, n, rnk FROM (
           SELECT event_type, user_id, count(*) AS n,
                  dense_rank() OVER (PARTITION BY event_type
                    ORDER BY count(*) DESC, user_id) AS rnk
           FROM graft_events GROUP BY event_type, user_id)
         WHERE rnk <= 3""")
  }

  /** Payload integrity: CRC32C (Castagnoli) checksum per message, summed
    * per topic — the read-side verification the reference left as a TODO
    * (`codec.rs:185`; write-side `codec.rs:139-149`). Uses the native
    * `Crc32C` expression (codegen'd; Spark's `crc32` is the wrong
    * polynomial). DuckDB has no castagnoli builtin, so the oracle
    * IMPLEMENTS it in pure SQL: a recursive CTE derives the 256-entry
    * reflected table from the 0x82F63B78 polynomial, a per-byte
    * recursive fold runs the standard table-driven update, per-row.
    * `ord(substring(...))` equals the payload byte because `props` is
    * ASCII JSON (the fixture generator's contract) — the one assumption,
    * stated here because a non-ASCII payload would diverge from the
    * byte-wise Spark CRC. A NULL payload coalesces to '' on the oracle
    * side (CRC 0), matching Spark's count-the-row / NULL-crc-adds-nothing
    * aggregation. Known-answer vectors stay in Crc32CSpec.
    */
  def payloadIntegrityCrc(ev: DataFrame): DataFrame =
    ev.select(
      col("event_type"),
      call_function("crc32c", col("props").cast("binary")).as("crc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("crc")).as("crc_sum"))

  // ---------------------------------------------------------------------
  // Driver-contract wiring
  // ---------------------------------------------------------------------

  private val T0_US = 1704412800000000L // 2024-01-05 00:00:00 UTC
  private val NOW_US = 1704240000000000L // 2024-01-03 00:00:00 UTC
  private val HOUR_US = 3600000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_env" -> ((s, d) => scanEnvelope(Fixtures.events(s, d))),
    "evt_filter" -> ((s, d) => filterByType(Fixtures.events(s, d), "purchase", 50.0)),
    "props_json" -> ((s, d) => decodeProps(Fixtures.events(s, d))),
    // "route_key" née route_partition_key — round-12 bench-line reclaim
    "route_key" -> ((s, d) => routeByPartitionKey(Fixtures.events(s, d))),
    "rr_balance" -> ((s, d) => roundRobinBalance(Fixtures.events(s, d), 4)),
    "key_ranges" -> ((s, d) => keySharedRanges(Fixtures.events(s, d))),
    "seq_dedup" -> ((s, d) => dedupBySequence(Fixtures.events(s, d))),
    "ack_frontier" -> ((s, d) => cumulativeAckFrontier(Fixtures.events(s, d))),
    // short names (bench line budget: funds the wav_dups key; formerly
    // the *_anti_join / dead_letter_* long forms, semantics unchanged)
    "ack_backlog" -> ((s, d) => ackBacklogAntiJoin(Fixtures.events(s, d))),
    "redeliv" -> ((s, d) => redeliveryCounts(Fixtures.events(s, d))),
    "dlq_split" -> ((s, d) => deadLetterSplit(Fixtures.events(s, d), 16)),
    "seek_topk" -> ((s, d) => seekByTimeTopK(Fixtures.events(s, d), T0_US, 100)),
    "last_msg" -> ((s, d) => lastMessagePerPartition(Fixtures.events(s, d))),
    "read_compacted" -> ((s, d) => readCompactedLastPerKey(Fixtures.events(s, d))),
    "batch_explode" -> ((s, d) => batchExplode(Fixtures.events(s, d))),
    "chunks" -> ((s, d) => chunkReassembly(Fixtures.documents(s, d), 40)),
    "thru_tumbling" -> ((s, d) => throughputTumbling(Fixtures.events(s, d))),
    "backlog" -> ((s, d) => backlogByType(Fixtures.events(s, d))),
    "deliver_at" -> ((s, d) => deliverAtFilter(Fixtures.events(s, d), HOUR_US, NOW_US)),
    "rate_lim" -> ((s, d) => rateLimitWindow(Fixtures.events(s, d))),
    "arrival_gaps" -> ((s, d) => interArrivalGaps(Fixtures.events(s, d))),
    "top_prod" -> ((s, d) => sqlTopProducers(Fixtures.events(s, d))),
    "payload_crc" -> ((s, d) => payloadIntegrityCrc(Fixtures.events(s, d))))

  /** The oracle-side epoch-µs projection of `ts` — the ns→µs cast
    * discipline every events oracle shares (also used by TemporalOps). */
  private[operators] val US = "epoch_us(CAST(ts AS TIMESTAMP))"

  def oracle: Map[String, String] = Map(
    "payload_crc" ->
      """WITH RECURSIVE
         tbl(i, j, v) AS (
           SELECT i, 0, i FROM range(0, 256) t(i)
           UNION ALL
           SELECT i, j + 1,
                  CASE WHEN v & 1 = 1 THEN xor(v >> 1, 2197175160) ELSE v >> 1 END
           FROM tbl WHERE j < 8),
         crctab AS (SELECT i, v FROM tbl WHERE j = 8),
         rows_in AS (SELECT event_id, event_type, coalesce(props, '') AS props
                     FROM events),
         fold(event_id, event_type, pos, len, crc) AS (
           SELECT event_id, event_type, 0, length(props), 4294967295 FROM rows_in
           UNION ALL
           SELECT f.event_id, f.event_type, f.pos + 1, f.len,
                  xor(t.v, f.crc >> 8)
           FROM fold f
           JOIN rows_in r ON r.event_id = f.event_id
           JOIN crctab t ON t.i = xor(f.crc & 255, ord(substring(r.props, f.pos + 1, 1)))
           WHERE f.pos < f.len),
         final AS (SELECT event_id, event_type, xor(crc, 4294967295) AS crc
                   FROM fold WHERE pos = len)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(crc) AS BIGINT) AS crc_sum
         FROM final GROUP BY 1""",
    "scan_env" ->
      s"""SELECT event_id AS entry_id, CAST(user_id % $P AS INTEGER) AS partition,
          user_id AS partition_key, epoch_ms(CAST(ts AS TIMESTAMP)) AS publish_ms,
          event_type AS topic, value, props FROM events ORDER BY entry_id""",
    "evt_filter" ->
      s"""SELECT event_id, user_id, $US AS publish_us, value FROM events
          WHERE event_type = 'purchase' AND value > 50 ORDER BY event_id""",
    "props_json" ->
      """SELECT event_id, CAST(props->>'k' AS INTEGER) AS prop_k
         FROM events ORDER BY event_id""",
    "route_key" ->
      s"""SELECT CAST(user_id % $P AS INTEGER) AS part, CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
          FROM events GROUP BY 1 ORDER BY part""",
    "rr_balance" ->
      """SELECT CAST(t.slot AS BIGINT) AS slot,
                CAST((c.total - t.slot + 3) // 4 AS BIGINT) AS n
         FROM (SELECT count(*) AS total FROM events) c,
              (VALUES (0), (1), (2), (3)) t(slot)
         ORDER BY slot""",
    "key_ranges" ->
      """SELECT CASE WHEN h < 64 THEN 'r0' WHEN h < 128 THEN 'r1'
                     WHEN h < 192 THEN 'r2' ELSE 'r3' END AS range_id,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
         FROM (SELECT user_id, (user_id * 31 + 7) % 256 AS h FROM events)
         GROUP BY 1 ORDER BY range_id""",
    "seq_dedup" ->
      """SELECT user_id, seq, event_id AS first_event_id FROM
         (SELECT user_id, event_id % 256 AS seq, event_id,
                 row_number() OVER (PARTITION BY user_id, event_id % 256 ORDER BY event_id) AS rn
          FROM events) WHERE rn = 1 ORDER BY user_id, seq""",
    "ack_frontier" ->
      s"""SELECT user_id, event_id,
          max($US) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS frontier_us
          FROM events ORDER BY user_id, event_id""",
    "ack_backlog" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id NOT IN
           (SELECT event_id FROM events WHERE event_type = 'click' OR event_id % 3 = 0)
         ORDER BY event_id""",
    "redeliv" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n FROM events
         GROUP BY user_id, event_type HAVING count(*) > 1
         ORDER BY user_id, event_type""",
    "dlq_split" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n FROM events
         GROUP BY user_id, event_type HAVING count(*) > 16
         ORDER BY user_id, event_type""",
    "seek_topk" ->
      s"""SELECT event_id, user_id, event_type, $US AS publish_us FROM events
          WHERE $US >= $T0_US ORDER BY publish_us, event_id LIMIT 100""",
    "last_msg" ->
      s"""SELECT part, event_id AS last_event_id, publish_us AS last_us FROM
          (SELECT CAST(user_id % $P AS INTEGER) AS part, event_id, $US AS publish_us,
                  row_number() OVER (PARTITION BY user_id % $P
                    ORDER BY $US DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY part""",
    "read_compacted" ->
      // the trailing predicate mirrors the engine's delete-marker drop
      // (empty-payload latest message removes its key) — the fixture
      // carries no empty props, so the rows are unchanged there
      s"""SELECT user_id, event_id, event_type, value, publish_us FROM
          (SELECT user_id, event_id, event_type, value, props, $US AS publish_us,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY $US DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 AND coalesce(length(props), 0) > 0
          ORDER BY user_id""",
    "batch_explode" ->
      """SELECT user_id, CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS batch_n,
         event_id FROM events ORDER BY user_id, event_id""",
    "chunks" ->
      """SELECT doc_id, CAST(greatest(ceil(length(text) / 40.0), 1) AS BIGINT) AS n_chunks,
         CAST(length(text) AS BIGINT) AS len_out FROM documents ORDER BY doc_id""",
    "thru_tumbling" ->
      """SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000 AS hour_ms,
         CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1 ORDER BY hour_ms""",
    "backlog" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS backlog
         FROM events GROUP BY ROLLUP(event_type) ORDER BY event_type NULLS FIRST""",
    "deliver_at" ->
      s"""SELECT event_id, user_id, $US AS publish_us FROM events
          WHERE $US + $HOUR_US <= $NOW_US ORDER BY event_id""",
    "rate_lim" ->
      s"""SELECT user_id, event_id, $US AS publish_us,
                 CAST(count(*) OVER (PARTITION BY user_id ORDER BY $US
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS n_last_hour
          FROM events""",
    "arrival_gaps" ->
      s"""SELECT user_id, event_id, publish_us, gap_us FROM (
            SELECT user_id, event_id, $US AS publish_us,
                   $US - lag($US, 1) OVER (PARTITION BY user_id
                     ORDER BY $US, event_id) AS gap_us
            FROM events) WHERE gap_us IS NOT NULL""",
    "top_prod" ->
      """SELECT event_type, user_id, CAST(n AS BIGINT) AS n, CAST(rnk AS INTEGER) AS rnk FROM (
           SELECT event_type, user_id, count(*) AS n,
                  dense_rank() OVER (PARTITION BY event_type
                    ORDER BY count(*) DESC, user_id) AS rnk
           FROM events GROUP BY event_type, user_id)
         WHERE rnk <= 3""")
}
