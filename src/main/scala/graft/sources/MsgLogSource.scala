package graft.sources

import java.io.DataInputStream
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxRows, ReadMinRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 source for graft message-log directories — the "real
  * Pulsar source" slot from SURVEY §7.2, built against a file-backed log
  * since the sandbox has no broker. The §3.2 trace is the spec:
  *
  *  - a topic = a directory of ledger files (`*.glog`), one per topic
  *    partition (reference `{topic}-partition-{n}` fan-out,
  *    `src/discovery/mod.rs:71`);
  *  - `topics=a,b` (comma-separated names or globs) reads a UNION of
  *    topics under a namespace directory as one DataFrame carrying a
  *    `topic` column — the consumer side of
  *    `CommandGetTopicsOfNamespace` (`src/PulsarApi.proto:656-670`);
  *  - `planInputPartitions` = the lookup/fan-out step (§2.1 #12-13): one
  *    `InputPartition` per ledger slice, readers run where the executors
  *    are;
  *  - offsets are `(ledger, entry)` coordinates (`MessageIdData`,
  *    `src/PulsarApi.proto:52-58`), serialized as the per-ledger consumed
  *    entry counts; `startingOffsets` (the same JSON) seeks a batch or
  *    streaming read to a saved position — `CommandSeek{message_id}`
  *    (`proto:537-543`) — alongside `startingTimeUs` (seek by publish
  *    time);
  *  - `maxRowsPerTrigger` implements credit-based flow control
  *    (`CommandFlow` permits, §2.1 #6) through Spark's admission-control
  *    API;
  *  - `commit(offset)` is the cumulative ack (§2.1 #7);
  *  - every frame's CRC32C is verified on read (the reference's TODO at
  *    `codec.rs:185`); `onCorrupt=deadletter` diverts failed frames to
  *    `<topic>/.dlq/` instead of failing the read (reference DLQ policy,
  *    `src/entity/consumer.rs:71-77`) — the default stays fail-loud.
  */
class MsgLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-msglog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MsgLogSource.schemaFor(options.containsKey("topics"),
      MsgLogSource.effectivePayloadDdl(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new MsgLogTable(properties.get("path"), schema)
}

object MsgLogSource {
  /** Envelope schema (§1.3): message coordinates + payload fields + the
    * optional `MessageMetadata` fields
    * (`/root/reference/src/PulsarApi.proto:89-149`). The optional fields
    * are nullable: pre-envelope ledgers and messages written without them
    * read as NULL, except `redelivery_count` whose proto default is 0.
    */
  val Schema: StructType = StructType(Seq(
    StructField("ledger", LongType, nullable = false),
    StructField("entry", LongType, nullable = false),
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false),
    StructField("producer_name", StringType, nullable = true),
    StructField("sequence_id", LongType, nullable = true),
    StructField("event_time", TimestampType, nullable = true),
    StructField("partition_key", StringType, nullable = true),
    StructField("ordering_key", BinaryType, nullable = true),
    StructField("properties", MapType(StringType, StringType), nullable = true),
    StructField("redelivery_count", IntegerType, nullable = false),
    StructField("deliver_at", TimestampType, nullable = true)))

  /** Multi-topic reads additionally carry the topic name — the reader's
    * answer to "which topic did this message come from" in a namespace
    * union. */
  def schemaFor(multiTopic: Boolean): StructType =
    if (multiTopic) StructType(StructField("topic", StringType, nullable = false) +: Schema.fields)
    else Schema

  /** `payloadSchema=<DDL>` — the schema-registry surface (reference
    * `GetSchema`/`GetOrCreateSchema`, `src/PulsarApi.proto:672-700`): a
    * declared per-topic payload schema yields a typed `payload` struct
    * column decoded from the `props` JSON at the source, instead of every
    * consumer re-doing `from_json` by hand. NULL when `props` does not
    * parse under the declared schema (the reader never fails a scan on a
    * payload-schema mismatch — schema enforcement on write stays the
    * producer's job, as in the reference). Decode cost is paid only when
    * the `payload` column is actually required (column pruning drops it
    * with the rest).
    */
  def schemaFor(multiTopic: Boolean, payloadDdl: Option[String]): StructType = {
    val base = schemaFor(multiTopic)
    payloadDdl match {
      case None => base
      case Some(ddl) =>
        val st =
          try StructType.fromDDL(ddl)
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"graft-msglog: invalid payloadSchema DDL '$ddl': ${e.getMessage}", e)
          }
        StructType(base.fields :+ StructField("payload", st, nullable = true))
    }
  }

  /** The payload DDL a read decodes under: the explicit `payloadSchema`
    * option, else the topic's REGISTERED schema (`<dir>/.schema`, the
    * reference consumer's `GetSchema` handshake — a consumer of a
    * schema'd topic gets the typed `payload` column without restating the
    * DDL). Registry discovery is single-topic only: a namespace union's
    * members may disagree, and the reference resolves schemas per topic.
    */
  def effectivePayloadDdl(options: CaseInsensitiveStringMap,
      pathOverride: String = null): Option[String] =
    Option(options.get("payloadSchema")).orElse {
      if (options.containsKey("topics")) None
      else Option(pathOverride).orElse(Option(options.get("path")))
        .flatMap(MsgLogSchemaRegistry.readDdl)
    }

  /** Stable `ledger` coordinate for a ledger file: a positive 63-bit hash
    * of its offset KEY (topic-qualified name — first 8 bytes of md5).
    * Positional indices are not stable — a later write's ledger can sort
    * in front, silently re-numbering every coordinate downstream
    * consumers may have keyed on. Like Pulsar's ledgerId, the value is an
    * opaque unique id, not a dense partition index; 63 bits keep the
    * birthday-collision odds negligible where a 31-bit `hashCode` would
    * not (two colliding ledgers in one topic would alias their
    * coordinates).
    */
  def ledgerId(name: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong & 0x7FFFFFFFFFFFFFFFL
  }

  /** All VISIBLE ledgers of a topic, sorted by name. A missing topic
    * directory yields an EMPTY ledger list rather than an error —
    * deliberately matching the broker's default topic auto-creation
    * (consuming a topic nobody produced to reads an empty, freshly
    * created topic, not TopicNotFound). Transactional
    * ledgers (`txn-<id>-*.glog`, [[MsgLogTxn]]) are visible only once
    * their transaction's commit marker exists — the read-side half of
    * the EndTxn(COMMIT) contract (`src/PulsarApi.proto:702-802`): every
    * scan, frontier walk, stats probe, and subscription path resolves
    * ledgers through here, so an uncommitted or aborted transaction is
    * invisible to ALL of them at once.
    */
  def ledgerFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val stream = Files.list(d)
      try {
        val entries = stream.iterator().asScala.toSeq.map(_.getFileName.toString)
        val committed = entries.flatMap(MsgLogTxn.committedTxnId).toSet
        entries
          .filter(_.endsWith(MsgLogCodec.Extension))
          .filter(n => MsgLogTxn.txnIdOf(n).forall(committed.contains))
          .sorted
          .map(d.resolve)
      } finally stream.close() // Files.list holds a directory fd until closed
    }
  }

  /** One ledger of a scan. In single-topic mode `topic` is "" and the
    * offset `key` is the bare ledger name — existing checkpoints keep
    * resolving; multi-topic keys are `topic/name`.
    */
  case class LedgerRef(topic: String, name: String, path: Path) {
    def key: String = if (topic.isEmpty) name else s"$topic/$name"
  }

  /** Offset keys embed directory/file names verbatim inside a JSON object
    * and a `topic/name` composite — a quote would corrupt the offset
    * round-trip (the regex parse recovers the WRONG key and the frontier
    * silently rebinds to 0 = full re-delivery), and a '/' in a topic name
    * would alias the composite. Writer-produced names are always safe;
    * this guards against hand-placed files, failing LOUD at planning
    * instead of duplicating silently at consumption.
    */
  private def checkKeySafe(kind: String, s: String): Unit =
    if (s.exists(c => c == '"' || c == '/' || c == '\\' || c < ' '))
      throw new IllegalArgumentException(
        s"""graft-msglog: $kind "$s" contains characters unsafe for offset keys (", \\, /, control)""")

  /** Resolve the scan's ledgers: `path` is a topic dir (no `topics`
    * option) or a namespace dir whose subdirectories are topics, selected
    * by comma-separated names or glob patterns (`topics=clicks,audit-*`
    * or `topics=*`).
    */
  /** Split a topics spec on commas OUTSIDE glob brace groups, so
    * `{clicks,audit}-2024` stays one pattern (java.nio glob syntax the
    * option advertises) instead of being torn into two invalid ones.
    */
  private[graft] def splitTopicsSpec(spec: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    spec.foreach {
      case '{' => depth += 1; cur += '{'
      case '}' => depth = math.max(0, depth - 1); cur += '}'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  def resolveLedgers(path: String, topics: Option[String]): Seq[LedgerRef] = topics match {
    case None =>
      ledgerFiles(path).map { p =>
        val name = p.getFileName.toString
        checkKeySafe("ledger name", name)
        LedgerRef("", name, p)
      }
    case Some(spec) =>
      topicDirs(path, spec).flatMap { d =>
        val topic = d.getFileName.toString
        checkKeySafe("topic name", topic)
        ledgerFiles(d.toString).map { p =>
          val name = p.getFileName.toString
          checkKeySafe("ledger name", name)
          LedgerRef(topic, name, p)
        }
      }
  }

  /** The namespace dirs a `topics=` spec selects, in name order. */
  private[sources] def topicDirs(path: String, spec: String): Seq[Path] = {
    val matchers = splitTopicsSpec(spec).map(p =>
      java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$p"))
    val base = Paths.get(path)
    if (!Files.isDirectory(base)) Seq.empty
    else {
      val stream = Files.list(base)
      try stream.iterator().asScala.toSeq
        .filter(Files.isDirectory(_))
        .filter(d => matchers.exists(_.matches(d.getFileName)))
        .sortBy(_.getFileName.toString)
      finally stream.close()
    }
  }

  /** Resolve an offset key back to its ledger file (inverse of
    * [[LedgerRef.key]]). */
  def keyPath(path: String, key: String): Path = key.indexOf('/') match {
    case -1 => Paths.get(path, key)
    case i => Paths.get(path, key.substring(0, i), key.substring(i + 1))
  }

  private[sources] def keyTopic(key: String): String = key.indexOf('/') match {
    case -1 => ""
    case i => key.substring(0, i)
  }

  /** Single- and multi-topic subscriptions use disjoint offset key spaces
    * (`name` vs `topic/name`). A checkpoint or `startingOffsets` map from
    * the other mode would parse fine but match NOTHING in the listing, so
    * every frontier would silently fall back to 0 and re-deliver the
    * whole log — fail loud instead, naming the cause (the `topics=`
    * option was added or removed under an existing position).
    */
  private[sources] def checkKeySpace(
      counts: Map[String, Long], multiTopic: Boolean, what: String): Unit =
    counts.keys.find(k => k.contains('/') != multiTopic).foreach { k =>
      val expected = if (multiTopic) "'topic/ledger'" else "bare ledger-name"
      throw new IllegalArgumentException(
        s"graft-msglog: $what key '$k' does not match this " +
          s"${if (multiTopic) "multi" else "single"}-topic subscription " +
          s"(expected $expected keys) — adding or removing the topics= option " +
          "under an existing checkpoint or startingOffsets re-keys every frontier")
    }
}

class MsgLogTable(path: String, schema0: StructType) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_msglog_$path"
  override def schema(): StructType = schema0
  /** ACCEPT_ANY_SCHEMA: writes carry only the payload columns — `ledger`
    * and `entry` are read-side coordinates the sink assigns, so write
    * resolution must not demand them (the writer validates the payload
    * columns itself by name).
    */
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MsgLogScanBuilder(path, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MsgLogWriteBuilder(path, info)
}

/** Column pruning (`SupportsPushDownRequiredColumns`): a projection of 2
  * envelope columns must not materialize all 8 — at 100 TB the UTF-8
  * decode of unrequested string fields dominates scan cost. Frames are
  * still walked whole (the log is row-framed), but only requested fields
  * are converted and shipped.
  *
  * Filter pushdown (`SupportsPushDownFilters`): comparison predicates on
  * envelope fields are evaluated against the decoded frame BEFORE row
  * materialization — rows that fail never allocate UTF8 strings or reach
  * Spark. Pushdown is inexact (the reader still walks every frame to keep
  * offsets dense), so every filter is also returned as a residual for
  * Spark to re-check — correctness never depends on the reader's
  * evaluation. `EqualTo(topic, …)` prunes whole topics at planning —
  * partition pruning, the one pushdown that skips IO instead of decode.
  */
class MsgLogScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private val multiTopic = options.containsKey("topics")
  private var required: StructType =
    MsgLogSource.schemaFor(multiTopic, MsgLogSource.effectivePayloadDdl(options, path))
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("topic", _: String) => multiTopic
      case f => MsgLogFilters.compile(f).isDefined
    }
    filters // all residual: reader-side evaluation is an optimization only
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new MsgLogScan(path, options, required, pushed)
}

/** Compile catalog filters to frame predicates (the supported subset).
  * Envelope fields are nullable: `value` returns None for an absent
  * field, so a pushed comparison excludes the row (SQL three-valued
  * semantics — NULL compares to nothing) and `IsNotNull` tests presence.
  */
object MsgLogFilters {
  private def value(m: MsgFrame, attr: String): Option[Any] = attr match {
    case "event_id" => Some(m.eventId)
    case "user_id" => Some(m.userId)
    case "value" => Some(m.value)
    case "event_type" => Some(m.eventType)
    case "ts" => Some(m.tsUs)
    case "producer_name" => Option(m.producerName)
    case "sequence_id" => if (m.sequenceId < 0) None else Some(m.sequenceId)
    case "event_time" => if (m.eventTimeUs < 0) None else Some(m.eventTimeUs)
    case "partition_key" => Option(m.partitionKey)
    case "redelivery_count" => Some(m.redeliveryCount)
    case "deliver_at" => if (m.deliverAtUs < 0) None else Some(m.deliverAtUs)
    case _ => None
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Number) => Some(java.lang.Long.compare(x, y.longValue()))
    case (x: Int, y: Number) => Some(java.lang.Integer.compare(x, y.intValue()))
    case (x: Double, y: Number) => Some(java.lang.Double.compare(x, y.doubleValue()))
    case (x: String, y: String) =>
      // Spark orders strings by UTF-8 binary comparison; String.compareTo
      // is UTF-16 code-unit order, which diverges for supplementary-plane
      // characters — and a pushed range predicate drops rows BEFORE
      // materialization, where no residual can restore them.
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case (x: Long, y: java.sql.Timestamp) =>
      // getTime() floors to ms; restore the µs digits from the nanos field
      // or equality/range filters silently under-include sub-ms rows
      val us = y.getTime * 1000L + (y.getNanos % 1000000) / 1000L
      Some(java.lang.Long.compare(x, us))
    case (x: Long, y: java.time.Instant) =>
      Some(java.lang.Long.compare(x,
        y.getEpochSecond * 1000000L + y.getNano / 1000L))
    case _ => None
  }

  def compile(f: Filter): Option[MsgFrame => Boolean] = f match {
    case EqualTo(a, v) => compiled(a, v, _ == 0)
    case GreaterThan(a, v) => compiled(a, v, _ > 0)
    case GreaterThanOrEqual(a, v) => compiled(a, v, _ >= 0)
    case LessThan(a, v) => compiled(a, v, _ < 0)
    case LessThanOrEqual(a, v) => compiled(a, v, _ <= 0)
    case IsNotNull(a) if value(MsgLogFilters.probe, a).isDefined =>
      Some(m => value(m, a).isDefined) // presence test: core fields always, envelope per message
    case _ => None
  }

  /** All-fields-present frame used to validate an attribute/operand pair
    * at compile time (never evaluated against data). */
  private val probe = MsgFrame(0L, 0L, 0L, "", 0.0, "",
    producerName = "", sequenceId = 0L, eventTimeUs = 0L, partitionKey = "",
    orderingKey = Seq.empty, properties = Map.empty, redeliveryCount = 0,
    deliverAtUs = 0L)

  private def compiled(attr: String, v: Any, test: Int => Boolean): Option[MsgFrame => Boolean] =
    value(probe, attr).flatMap(pv => cmp(pv, v).map(_ =>
      (m: MsgFrame) => value(m, attr).flatMap(x => cmp(x, v)).exists(test)))
}

class MsgLogScan(path: String, options: CaseInsensitiveStringMap,
    required: StructType, pushed: Array[Filter] = Array.empty)
    extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-msglog $path cols=[${required.fieldNames.mkString(",")}]" +
      s" pushed=[${pushed.mkString(",")}]"

  private val topics = Option(options.get("topics"))
  private val deadLetter = MsgLogScan.deadLetterOption(options)

  /** Session timezone captured at PLANNING, like every Spark datasource:
    * `payloadSchema` TIMESTAMP/DATE fields must parse exactly as
    * `from_json` would in this session (the surface the option replaces),
    * not in a hardcoded zone.
    */
  private val sessionTz =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  /** `startingOffsets` = a saved [[MsgLogOffset]] JSON: the batch read
    * starts each ledger at the saved entry (reference
    * `CommandSeek{message_id}`); ledgers absent from the map read from 0.
    */
  private val startingCounts: Map[String, Long] =
    Option(options.get("startingOffsets"))
      .map(MsgLogOffset.parse(_).counts).getOrElse(Map.empty)
  MsgLogSource.checkKeySpace(startingCounts, topics.isDefined, "startingOffsets")

  /** Topics equality-pruned at planning (see [[MsgLogScanBuilder]]). */
  private val topicEq: Option[Set[String]] = {
    val eqs = pushed.collect { case EqualTo("topic", t: String) => t }
    if (eqs.isEmpty) None else Some(eqs.toSet)
  }

  /** `minPartitions=N` (same lever as the Kafka source's option): split
    * ledger entry ranges into ~N read slices. Without it, scan
    * parallelism is capped at the LEDGER count — a topic compacted into
    * a few multi-GB ledgers would read nearly serially on a 1000-core
    * cluster no matter how many executors are idle. Slices are
    * entry-range sub-scans; the shared seek ([[MsgLogCodec.seekToEntry]])
    * keeps their boundaries on whole frames, batched frames, and chunk
    * groups, so a split read returns exactly the unsplit rows. Splitting
    * needs per-ledger entry counts — one header-only walk per ledger at
    * planning (no decode, no CRC) — so it runs only when the option asks
    * for it; the default plan stays listing-only.
    */
  private val minPartitions: Option[Int] =
    Option(options.get("minPartitions")).map { s =>
      val n = try s.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"graft-msglog: invalid minPartitions '$s'")
      }
      if (n < 1) throw new IllegalArgumentException(
        s"graft-msglog: minPartitions $n must be >= 1")
      n
    }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val refs = MsgLogSource.resolveLedgers(path, topics)
        .filter(r => topicEq.forall(_.contains(r.topic)))
      minPartitions match {
        case Some(n) if refs.nonEmpty =>
          val ranges = refs.map { r =>
            (r.key, startingCounts.getOrElse(r.key, 0L), MsgLogCodec.countEntries(r.path))
          }
          val byKey = refs.map(r => r.key -> r).toMap
          MsgLogScan.planSlices(ranges, n).map { case (key, s, e) =>
            val r = byKey(key)
            MsgLogPartition(MsgLogSource.ledgerId(key), r.path.toString, r.topic,
              s, e): InputPartition
          }.toArray
        case _ =>
          refs.map { r =>
            MsgLogPartition(MsgLogSource.ledgerId(r.key), r.path.toString, r.topic,
              startingCounts.getOrElse(r.key, 0L), Long.MaxValue): InputPartition
          }.toArray
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      MsgLogReaderFactory(required, readerPredicates, deadLetter, sessionTz)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val minRows = MsgLogScan.longOption(options, "minRowsPerTrigger", min = 1L)
    val delay = MsgLogScan.longOption(options, "maxTriggerDelayMs", min = 0L)
    // a delay without a min-rows gate is a silent no-op — refuse, like
    // the Kafka source refuses maxTriggerDelay without minOffsetsPerTrigger
    if (delay.isDefined && minRows.isEmpty)
      throw new IllegalArgumentException(
        "graft-msglog: maxTriggerDelayMs requires minRowsPerTrigger (it is the " +
          "escape hatch of the min-rows gate and does nothing alone)")
    new MsgLogMicroBatchStream(path, topics,
      MsgLogScan.longOption(options, "maxRowsPerTrigger", min = 1L), required,
      readerPredicates, startingCounts, deadLetter, topicEq,
      delayedDelivery = MsgLogScan.boolOption(options, "delayedDelivery"),
      nowUsOverride = MsgLogScan.longOption(options, "delayedDeliveryNowUs"),
      sessionTz = sessionTz, minPartitions = minPartitions,
      minRowsPerTrigger = minRows,
      maxTriggerDelayMs = delay.getOrElse(MsgLogMicroBatchStream.DefaultMaxTriggerDelayMs),
      maxBytesPerTrigger = MsgLogScan.longOption(options, "maxBytesPerTrigger", min = 1L),
      redelivery = MsgLogScan.boolOption(options, "redelivery"))
  }

  private def readerPredicates: Array[MsgFrame => Boolean] =
    pushed.flatMap(MsgLogFilters.compile) ++ seekPredicate ++ keyHashPredicate

  /** Seek-by-publish-time (reference `CommandSeek{message_publish_time}`,
    * `src/PulsarApi.proto:537-543`): `startingTimeUs` positions the
    * subscription at the first message at/after the timestamp. Applied as
    * a reader-side predicate — offsets stay dense, earlier frames are
    * skipped before materialization.
    */
  private def seekPredicate: Array[MsgFrame => Boolean] =
    MsgLogScan.longOption(options, "startingTimeUs") match {
      case Some(t0) => Array((m: MsgFrame) => m.tsUs >= t0)
      case None => Array.empty
    }

  /** Key_Shared hash-range consumption (reference `KeySharedMeta`
    * hash_ranges, `src/PulsarApi.proto:286-295`; `src/entity/consumer.rs:
    * 68`): `keyHashRange=start:end` filters messages to those whose key
    * hash lands in [start, end] over the 16-bit Pulsar key-hash space, so
    * N disjoint subscriptions partition a topic by key — each key's
    * messages all land in exactly one subscription, batch or streaming.
    * Like seek, it is a reader-side predicate: offsets stay dense and a
    * range subscription's checkpoint remains valid for the whole topic.
    *
    * AUTO_SPLIT (`proto:286-295` mode 2) is DECLARATIVE here:
    * `keySharedConsumers=N` + `keySharedIndex=i` derive consumer i's
    * range as the i-th of N equal splits of the 16-bit space — the
    * steady-state allocation the broker's dynamic splitting converges to
    * with N live consumers. The divergence from the reference is the
    * DYNAMICS, not the allocation: the broker halves the largest range
    * as consumers join/leave in real time (join-order-dependent), while
    * a file-backed log has no sessions to observe — membership is a
    * plan, so re-planning with a different N is the rebalance. Mutually
    * exclusive with an explicit `keyHashRange` (a consumer is STICKY or
    * AUTO_SPLIT, never both — `KeySharedMeta.keySharedMode` is one
    * enum).
    */
  private def keyHashPredicate: Array[MsgFrame => Boolean] = {
    val explicit = Option(options.get("keyHashRange"))
    val auto = Option(options.get("keySharedConsumers"))
    if (explicit.isDefined && auto.isDefined)
      throw new IllegalArgumentException(
        "graft-msglog: keyHashRange (STICKY) and keySharedConsumers (AUTO_SPLIT) " +
          "are mutually exclusive — KeySharedMeta declares one mode per consumer")
    if (explicit.isEmpty && auto.isEmpty && options.containsKey("keySharedIndex"))
      throw new IllegalArgumentException(
        "graft-msglog: keySharedIndex without keySharedConsumers does nothing — " +
          "declare the consumer-group size")
    val range = explicit.map(MsgLogScan.parseKeyHashRange).orElse {
      auto.map { n =>
        MsgLogScan.autoSplitRange(n, Option(options.get("keySharedIndex")).orNull)
      }
    }
    range.map { case (lo, hi) =>
      Array((m: MsgFrame) => {
        val h = MsgLogScan.keyHash(m)
        h >= lo && h <= hi
      })
    }.getOrElse(Array.empty)
  }
}

object MsgLogScan {

  /** Parse a numeric option loudly: malformed or out-of-range values
    * name the option instead of surfacing a bare NumberFormatException
    * (or silently degrading, as an unchecked negative budget would). */
  private[sources] def longOption(options: CaseInsensitiveStringMap,
      name: String, min: Long = Long.MinValue): Option[Long] =
    Option(options.get(name)).map { s =>
      val n = try s.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"graft-msglog: invalid $name '$s'")
      }
      if (n < min) throw new IllegalArgumentException(
        s"graft-msglog: $name $n must be >= $min")
      n
    }

  /** Parse a flag loudly: `true`/`false` in any case, absent = false;
    * anything else names the option (the [[longOption]] discipline). */
  private[sources] def boolOption(options: CaseInsensitiveStringMap,
      name: String): Boolean =
    Option(options.get(name)).exists(s => s.toBooleanOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft-msglog: invalid $name '$s' (expected true or false)")))

  /** Allocate ~`minPartitions` contiguous entry-range slices over
    * per-ledger backlogs, proportionally to backlog size. Input rows are
    * `(key, start, total)`; output `(key, sliceStart, sliceEnd)` with
    * slices within a ledger differing by at most one entry. Every ledger
    * yields at least one slice (even an empty one — the reader returns
    * no rows for start >= end), so topic coverage never depends on the
    * split arithmetic. Pure, for unit tests.
    */
  def planSlices(ledgers: Seq[(String, Long, Long)],
      minPartitions: Int): Seq[(String, Long, Long)] = {
    val backlogs = ledgers.map { case (k, s, t) => (k, s, math.max(s, t)) }
    val sizes = backlogs.map { case (_, s, e) => e - s }
    val total = sizes.sum
    // proportional floor apportionment — at least one slice per ledger,
    // never more slices than entries
    val n = sizes.map { b =>
      // quota in floating point: b * minPartitions would overflow Long
      // for a huge backlog × large partition count, silently degrading
      // the split to 1 slice via the negative-clamp
      val quota = if (total == 0) 0L else (b.toDouble * minPartitions / total).toLong
      math.min(math.max(1L, b), math.max(1L, quota))
    }.toArray
    // greedy top-up to the requested parallelism where backlog allows:
    // repeatedly split the ledger with the largest current slice size
    var have = n.sum
    while (have < minPartitions && sizes.indices.exists(i => n(i) < sizes(i))) {
      val i = sizes.indices.filter(i => n(i) < sizes(i))
        .maxBy(i => sizes(i).toDouble / n(i))
      n(i) += 1
      have += 1
    }
    backlogs.zipWithIndex.flatMap { case ((key, start, _), i) =>
      val backlog = sizes(i)
      val k = n(i).toInt
      // k near-equal slices: the first (backlog % k) get one extra entry
      val base = backlog / k
      val extra = backlog % k
      var at = start
      (0 until k).map { j =>
        val size = base + (if (j < extra) 1L else 0L)
        val slice = (key, at, at + size)
        at += size
        slice
      }
    }
  }

  /** Size of the Key_Shared hash space (Pulsar's 16-bit key-hash range). */
  val KeyHashSpace = 65536

  /** Portable per-message key hash in [0, KeyHashSpace): CRC32C (the
    * log's own checksum function — published, engine-independent) of the
    * dispatch key. The dispatch key follows the reference's precedence
    * (`ordering_key` overrides `partition_key`, SURVEY §2.1 #28;
    * `src/PulsarApi.proto:123`); keyless messages hash the empty key, so
    * they stay together in one range — a keyless topic has no per-key
    * ordering to spread.
    */
  def keyHash(m: MsgFrame): Int = {
    val key: Array[Byte] =
      if (m.orderingKey != null) m.orderingKey.toArray
      else if (m.partitionKey != null)
        m.partitionKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      else Array.emptyByteArray
    (graft.functions.Crc32C.compute(key) % KeyHashSpace).toInt
  }

  def parseKeyHashRange(spec: String): (Int, Int) = spec.split(":", -1) match {
    case Array(a, b) =>
      val (lo, hi) =
        try (a.trim.toInt, b.trim.toInt)
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft-msglog: invalid keyHashRange '$spec' (expected start:end)")
        }
      if (lo < 0 || hi >= KeyHashSpace || lo > hi)
        throw new IllegalArgumentException(
          s"graft-msglog: keyHashRange $lo:$hi out of order or outside 0..${KeyHashSpace - 1}")
      (lo, hi)
    case _ => throw new IllegalArgumentException(
      s"graft-msglog: invalid keyHashRange '$spec' (expected start:end)")
  }

  /** AUTO_SPLIT allocation: consumer `index` of `consumers` owns the
    * index-th of N equal contiguous splits of the 16-bit key-hash space.
    * Floor arithmetic keeps the N ranges disjoint and their union exactly
    * [0, 65535] for every N (the last range absorbs the remainder) —
    * the property the MsgLogSpec disjoint-union test locks.
    */
  def autoSplitRange(consumersSpec: String, indexSpec: String): (Int, Int) = {
    def parse(name: String, s: String): Int =
      try s.trim.toInt catch {
        case _: NumberFormatException | _: NullPointerException =>
          throw new IllegalArgumentException(
            s"graft-msglog: invalid $name '$s' (expected an integer)")
      }
    if (indexSpec == null)
      throw new IllegalArgumentException(
        "graft-msglog: keySharedConsumers requires keySharedIndex — which of the " +
          "N consumers is this reader?")
    val n = parse("keySharedConsumers", consumersSpec)
    val i = parse("keySharedIndex", indexSpec)
    if (n < 1) throw new IllegalArgumentException(
      s"graft-msglog: keySharedConsumers $n must be >= 1")
    if (i < 0 || i >= n) throw new IllegalArgumentException(
      s"graft-msglog: keySharedIndex $i outside 0..${n - 1}")
    val lo = (i.toLong * KeyHashSpace / n).toInt
    val hi = ((i + 1).toLong * KeyHashSpace / n - 1).toInt
    (lo, hi)
  }

  def deadLetterOption(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("onCorrupt")) match {
      case Some("deadletter") => true
      case Some("fail") | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"graft-msglog: unsupported onCorrupt '$other' (use fail or deadletter)")
    }
}

/** Offset = consumed entry count per ledger, keyed by LEDGER NAME (the
  * cumulative-ack frontier; `topic/name` in multi-topic scans).
  * Name-keyed, not index-keyed: ledgers appear over time with arbitrary
  * lexicographic positions (batch writes embed a random write id), so
  * positional offsets would re-bind to the wrong ledger after a new file
  * sorts in front — duplicating some messages and skipping others on
  * restart.
  */
case class MsgLogOffset(counts: Map[String, Long]) extends Offset {
  override def json(): String = counts.toSeq.sorted
    .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

object MsgLogOffset {
  private val Entry = """"([^"]+)"\s*:\s*(\d+)""".r
  def parse(json: String): MsgLogOffset = {
    val t = json.trim
    // Loud on anything that is not this format (e.g. a checkpoint from an
    // older positional-offset version): silently parsing to an empty map
    // would reset every frontier to 0 and re-deliver the whole log.
    if (!(t.startsWith("{") && t.endsWith("}")))
      throw new IllegalArgumentException(
        s"graft-msglog: unrecognized offset format (expected name-keyed JSON object): $t")
    MsgLogOffset(Entry.findAllMatchIn(t)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
  }
}

/** Negative-ack / redelivery journal (reference
  * `CommandRedeliverUnacknowledgedMessages`, `src/PulsarApi.proto:562-565`;
  * `unacked_message_redelivery_delay`, `src/entity/consumer.rs:51`): a
  * consumer nacks message ids — `(ledger, entry)` coordinates, exactly the
  * reference's `MessageIdData` shape — and the subscription re-delivers
  * them in a later micro-batch with `redelivery_count` incremented.
  *
  * File-backed translation: each [[redeliver]] call appends one immutable
  * journal file under `<topic>/.nacks/` listing the nacked entries, each
  * line carrying its delivery generation (1 + how many earlier journal
  * commands named the same entry — computed at append time, when the
  * earlier journals are already frozen). A `redelivery=true` streaming
  * subscription treats each journal as a virtual ledger of redelivery
  * commands: journal keys (`!nack!<file>`, `topic/!nack!<file>`) ride the
  * same name-keyed cumulative offsets as ledgers, so a checkpointed
  * restart never re-delivers a consumed nack and never drops one.
  * Scope, as in the reference: redelivery is a SUBSCRIPTION concept —
  * batch scans read the log as data and ignore journals; nacks recorded
  * before the subscription's first offset are not replayed
  * (`initialOffset` starts past them).
  */
object MsgLogNacks {
  val DirName = ".nacks"
  val KeyPrefix = "!nack!"

  def journalDir(topicDir: String): Path = Paths.get(topicDir, DirName)

  /** Journal files in name order (names embed a writer-side sequence, so
    * name order is append order for a single nacking consumer). */
  def journalFiles(topicDir: String): Seq[Path] =
    MsgLogShared.journalFiles(journalDir(topicDir), JournalPrefix)

  private val JournalPrefix = "nack"

  def isNackKey(key: String): Boolean =
    key.substring(key.indexOf('/') + 1).startsWith(KeyPrefix)

  def keyFor(topic: String, journalName: String): String =
    if (topic.isEmpty) KeyPrefix + journalName else s"$topic/$KeyPrefix$journalName"

  /** `(journal file, topic dir)` a nack offset key resolves to. */
  def resolveKey(path: String, key: String): (Path, Path) = {
    val i = key.indexOf('/')
    val topicDir = if (i < 0) Paths.get(path) else Paths.get(path, key.substring(0, i))
    val name = key.substring(i + 1).stripPrefix(KeyPrefix)
    (journalDir(topicDir.toString).resolve(name), topicDir)
  }

  /** One redelivery command: deliver `entry` of `ledgerName` again, as
    * its `bump`-th redelivery. */
  case class NackCmd(bump: Int, entry: Long, ledgerName: String)

  /** Not memoized: executors read it too (the nack partition reader). */
  def readCommands(journal: Path): Seq[NackCmd] =
    MsgLogShared.parse3(journal).map { case (b, e, name) => NackCmd(b, e, name) }

  /** Journal command counts memoized by absolute path: journal files are
    * IMMUTABLE once atomically renamed in, so a count never changes —
    * without the memo every trigger's several offset calls re-read and
    * re-parse the topic's whole nack history (the pathology
    * `countCache` solves for ledger walks). Unbounded only by the
    * journal count; entries for deleted journals are harmless bytes.
    */
  private val countMemo = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Per-topic journal listing for offsets: key → command count. */
  def listJournals(topicDir: String, topic: String): Seq[(String, Long)] =
    journalFiles(topicDir).map { j =>
      val count = countMemo.computeIfAbsent(j.toAbsolutePath.toString,
        _ => readCommands(j).length.toLong)
      keyFor(topic, j.getFileName.toString) -> count
    }

  /** The nack command (§2.1 #8's negative path): record `ids` —
    * `(ledger, entry)` pairs as read back from the source — for
    * redelivery. Ids must resolve against the topic's live ledgers and
    * lie inside them: a nack of a nonexistent message is a caller bug
    * surfaced loudly, not a journal entry that poisons every later
    * reader. Returns the journal file written (one atomic append per
    * call, like every other sidecar).
    *
    * Single-nacker-per-subscription assumption (same stance as the
    * `dedupOnAppend` frontier): generation numbers and the journal name
    * sequence are derived from the journals visible at CALL time, and
    * `synchronized` serializes only within this JVM — two PROCESSES
    * nacking the same topic concurrently can mint the same generation
    * for one entry (it then redelivers twice at count+1 instead of +1
    * and +2). The reference has the matching property: nacks ride one
    * consumer's connection, and the broker serializes per subscription
    * — a subscription has one nack issuer here too.
    */
  def redeliver(topicDir: String, ids: Seq[(Long, Long)]): Path = synchronized {
    require(ids.nonEmpty, "graft-msglog: redeliver of zero message ids")
    val ledgers = MsgLogSource.ledgerFiles(topicDir)
    // a message's `ledger` coordinate hashes the OFFSET KEY, which is
    // topic-qualified under a multi-topic subscription (`topic/name`)
    // and bare under a single-topic one — accept ids from either mode,
    // the consumer nacks whatever coordinate it read
    val topicName = Paths.get(topicDir).getFileName.toString
    val byId = ledgers.flatMap { p =>
      val name = p.getFileName.toString
      Seq(MsgLogSource.ledgerId(name) -> p,
        MsgLogSource.ledgerId(s"$topicName/$name") -> p)
    }.toMap
    // delivery generation = occurrences across the frozen journals + the
    // occurrences earlier in THIS call
    val prior = scala.collection.mutable.Map.empty[(String, Long), Int]
    journalFiles(topicDir).foreach(j => readCommands(j).foreach { c =>
      prior((c.ledgerName, c.entry)) = prior.getOrElse((c.ledgerName, c.entry), 0) + 1
    })
    val lines = ids.map { case (ledger, entry) =>
      val p = byId.getOrElse(ledger, throw new IllegalArgumentException(
        s"graft-msglog: redeliver of unknown ledger id $ledger in $topicDir"))
      val name = p.getFileName.toString
      val count = MsgLogCodec.countEntries(p)
      if (entry < 0 || entry >= count)
        throw new IllegalArgumentException(
          s"graft-msglog: redeliver of entry $entry outside ledger $name (0..${count - 1})")
      val gen = prior.getOrElse((name, entry), 0) + 1
      prior((name, entry)) = gen
      s"$gen\t$entry\t$name"
    }
    MsgLogShared.appendJournal(journalDir(topicDir), JournalPrefix, lines)
  }
}

class MsgLogMicroBatchStream(path: String, topics: Option[String],
    maxRowsPerTrigger: Option[Long],
    required: StructType = MsgLogSource.Schema,
    preds: Array[MsgFrame => Boolean] = Array.empty,
    startingCounts: Map[String, Long] = Map.empty,
    deadLetter: Boolean = false,
    topicEq: Option[Set[String]] = None,
    delayedDelivery: Boolean = false,
    nowUsOverride: Option[Long] = None,
    sessionTz: String = "UTC",
    minPartitions: Option[Int] = None,
    minRowsPerTrigger: Option[Long] = None,
    maxTriggerDelayMs: Long = MsgLogMicroBatchStream.DefaultMaxTriggerDelayMs,
    maxBytesPerTrigger: Option[Long] = None,
    redelivery: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger clock for delayed delivery; `delayedDeliveryNowUs` pins it
    * for deterministic tests. */
  private def clockNowUs(): Long =
    nowUsOverride.getOrElse(System.currentTimeMillis() * 1000L)

  /** Entry counts memoized by (file length, mtime): ledgers are immutable
    * once their atomic rename lands, so an unchanged (size, mtime) pair
    * means an unchanged count. Without this, `latestOffset` walked every
    * frame of every ledger on every trigger — O(total retained log) of
    * driver-side IO per micro-batch, growing forever; with it, a trigger
    * costs one directory listing plus a walk of only NEW ledgers.
    */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, java.nio.file.attribute.FileTime, Long)]()

  private def cachedCount(key: String, p: Path): Long = {
    val size = Files.size(p)
    val mtime = Files.getLastModifiedTime(p)
    val hit = countCache.get(key)
    if (hit != null && hit._1 == size && hit._2 == mtime) hit._3
    else {
      val n = MsgLogCodec.countEntries(p)
      countCache.put(key, (size, mtime, n))
      n
    }
  }

  /** Delayed-delivery frontier memo per ledger: (size, mtime, frontier,
    * blocking deliver_at). Ledger files are immutable once renamed in, so
    * for a given file the frontier only moves when the clock reaches the
    * blocking message's deliver time — and the re-walk resumes FROM the
    * previous frontier (entries behind it are already deliverable), so
    * each entry of a held backlog is decoded O(1) times per release, not
    * per trigger.
    */
  private val delayCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, java.nio.file.attribute.FileTime, Long, Long)]()

  private def deliverableCount(key: String, p: Path, now: Long): Long = {
    val size = Files.size(p)
    val mtime = Files.getLastModifiedTime(p)
    val hit = delayCache.get(key)
    val fresh = hit != null && hit._1 == size && hit._2 == mtime
    if (fresh && (hit._4 == -1L || now < hit._4)) hit._3
    else {
      val (frontier, nextAt) =
        MsgLogCodec.deliverableFrontier(p, if (fresh) hit._3 else 0L, now)
      delayCache.put(key, (size, mtime, frontier, nextAt))
      frontier
    }
  }

  /** Live (key → entry count) listing in key order. A pushed
    * `EqualTo(topic, …)` prunes non-matching topics here too — though
    * Spark currently runs filter pushdown only for batch scans, so for
    * streams the `topics=` option is the pruning lever users reach for;
    * the topicEq path activates for free if streaming pushdown lands.
    *
    * With `delayedDelivery=true` each ledger's offered count is capped at
    * its deliverable frontier (reference `deliver_at_time`,
    * `proto:125-126`): a message surfaces only in triggers at/after its
    * deliver time. Divergence from the broker, on purpose: the broker's
    * delayed-message tracker delivers AROUND a held message; a
    * cumulative-offset log holds the frontier AT it (in-order delivery),
    * like the documented ack-set anti-join divergence.
    */
  private def listCounts(): Seq[(String, Long)] = {
    val live = MsgLogSource.resolveLedgers(path, topics)
      .filter(r => topicEq.forall(_.contains(r.topic)))
    val now = if (delayedDelivery) clockNowUs() else 0L
    val counts = live.map { r =>
      val total = cachedCount(r.key, r.path)
      val n = if (delayedDelivery) math.min(total, deliverableCount(r.key, r.path, now))
        else total
      r.key -> n
    }
    // evict entries for ledgers that left the listing (deleted or
    // compacted topics): the caches track the LIVE set, so their
    // footprint follows the retained log instead of growing with churn
    val liveKeys = live.iterator.map(_.key).toSet
    countCache.keySet.removeIf(k => !liveKeys.contains(k))
    delayCache.keySet.removeIf(k => !liveKeys.contains(k))
    byteWalkMemo.keySet.removeIf(k => !liveKeys.contains(k))
    counts
  }

  /** Live cache size, for the eviction regression test. */
  private[graft] def cachedLedgerCount: Int = countCache.size

  /** AvailableNow contract: freeze the end of the backlog up front so the
    * paced micro-batches drain exactly this snapshot and stop. (Without
    * this interface Spark wraps the stream and ignores read limits under
    * AvailableNow.)
    */
  @volatile private var frozen: Option[Seq[(String, Long)]] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    frozen = Some(listCounts())
    frozenNacks = Some(listNacks())
  }

  private def currentTotals: Seq[(String, Long)] = frozen.getOrElse(listCounts())

  /** Pending-redelivery listing (`redelivery=true` only): each journal
    * under `<topic>/.nacks/` as a virtual-ledger key → command count.
    * Redeliveries BYPASS admission limits — a nack list is bounded by
    * what was already delivered and admitted once, so re-admitting it
    * against the row/byte budget would let a big backlog starve
    * redeliveries indefinitely (the broker, likewise, re-dispatches
    * nacked messages through the regular flow without re-charging the
    * producer-side quotas).
    */
  @volatile private var frozenNacks: Option[Seq[(String, Long)]] = None
  private def listNacks(): Seq[(String, Long)] =
    if (!redelivery) Seq.empty
    else topics match {
      case None => MsgLogNacks.listJournals(path, "")
      case Some(spec) => MsgLogSource.topicDirs(path, spec).flatMap(d =>
        MsgLogNacks.listJournals(d.toString, d.getFileName.toString))
    }
  private def currentNacks: Seq[(String, Long)] = frozenNacks.getOrElse(listNacks())

  /** Subscription start position (`CommandSeek{message_id}`): the
    * `startingOffsets` option, for a FRESH checkpoint only — Spark calls
    * this once and checkpoints the result; restarts resume from the
    * checkpoint. Absent ledgers start at 0. With `redelivery=true` the
    * start position also seals the journals already on disk: nacks belong
    * to the subscription that issued them, so a NEW subscription starts
    * past the old ones instead of replaying another consumer's history.
    */
  override def initialOffset(): Offset =
    MsgLogOffset(startingCounts ++ listNacks().toMap)

  override def latestOffset(): Offset =
    MsgLogOffset(currentTotals.toMap ++ currentNacks.toMap)

  /** The read limit from the subscription's flow-control options:
    * `maxRowsPerTrigger` (permit budget), `minRowsPerTrigger` +
    * `maxTriggerDelayMs` (batching floor — hold the trigger until the
    * backlog is worth a micro-batch, but never longer than the delay;
    * the Kafka source's minOffsetsPerTrigger/maxTriggerDelay analog), or
    * their composite.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      minRowsPerTrigger.map(n => ReadLimit.minRows(n, maxTriggerDelayMs)),
      maxRowsPerTrigger.map(ReadLimit.maxRows),
      maxBytesPerTrigger.map(ReadLimit.maxBytes)).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Wall-clock (ms) of the last trigger that ADVANCED offsets, for the
    * `maxTriggerDelayMs` escape of a min-rows gate. Follows the pinned
    * test clock when one is set.
    */
  @volatile private var lastAdvanceMs: Long = clockNowUs() / 1000L

  /** The min-rows gate NEVER binds under Trigger.AvailableNow (`frozen`
    * set): an AvailableNow run's contract is "drain the snapshot and
    * stop", and a closed gate would strand the sub-minimum tail — or the
    * whole backlog — unread (the Kafka source bypasses
    * minOffsetsPerTrigger under AvailableNow for the same reason).
    */
  private def minGateOpen(m: ReadMinRows, from: Map[String, Long],
      listing: Seq[(String, Long)]): Boolean = {
    if (frozen.isDefined) return true
    val backlog = listing.map { case (k, t) => math.max(0L, t - from.getOrElse(k, 0L)) }.sum
    backlog >= m.minRows || (clockNowUs() / 1000L) - lastAdvanceMs >= m.maxTriggerDelayMs
  }

  /** Admission control = the flow-control permit grant: split the row
    * budget across ledgers PROPORTIONALLY to their backlog (remainder in
    * key order), not first-come in key order — greedy allocation would
    * let one continuously-growing ledger (or, in a namespace union, one
    * hot topic) absorb every trigger's budget and starve the rest of the
    * subscription forever. A min-rows gate (alone or in a composite)
    * holds the frontier still until the backlog is worth a batch or the
    * delay expires. The result always merges over `start` — offsets are
    * monotonic, so a transiently empty/unreadable listing must never
    * regress a committed frontier (that would re-deliver a ledger from
    * entry 0 once the listing recovers).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = MsgLogOffset.parse(start.json()).counts
    val listing = currentTotals
    lastListing = listing
    val advanced: Seq[(String, Long)] = limit match {
      case c: CompositeReadLimit =>
        val ls = c.getReadLimits.toSeq
        val gated = ls.collectFirst { case m: ReadMinRows => m }
          .exists(!minGateOpen(_, from, listing))
        if (gated) Seq.empty
        else {
          val rowGrant = ls.collectFirst { case mr: ReadMaxRows => mr }
            .map(mr => grantBudget(from, listing, mr.maxRows()))
          // the rows grant caps the byte walk INSIDE grantBytes, so its
          // resume memo reflects the intersected frontier (memoizing the
          // unclamped walk would invalidate the memo every trigger when
          // rows bind tighter — an O(consumed prefix) re-walk each time)
          val byteGrant = ls.collectFirst { case mb: ReadMaxBytes => mb }
            .map(mb => grantBytes(from, listing, mb.maxBytes(),
              rowGrant.map(_.toMap).getOrElse(Map.empty)))
          (rowGrant, byteGrant) match {
            case (Some(r), Some(b)) =>
              // both budgets bind: per-ledger intersection of the grants
              // (byte grants are already rows-capped; keys with no byte
              // backlog keep the rows grant)
              val bm = b.toMap
              r.map { case (k, n) => k -> math.min(n, bm.getOrElse(k, n)) }
            case (Some(r), None) => r
            case (None, Some(b)) => b
            case (None, None) => takeAll(from, listing)
          }
        }
      case m: ReadMinRows =>
        if (minGateOpen(m, from, listing)) takeAll(from, listing) else Seq.empty
      case mr: ReadMaxRows => grantBudget(from, listing, mr.maxRows())
      case mb: ReadMaxBytes => grantBytes(from, listing, mb.maxBytes())
      case _ => takeAll(from, listing)
    }
    // redelivery journals ride every trigger unclamped (see listNacks);
    // max-merge keeps them monotonic like the ledger frontiers
    val nacks = currentNacks.map { case (k, n) => k -> math.max(n, from.getOrElse(k, 0L)) }
    if ((advanced ++ nacks).exists { case (k, n) => n > from.getOrElse(k, 0L) })
      lastAdvanceMs = clockNowUs() / 1000L
    MsgLogOffset(from ++ advanced.toMap ++ nacks.toMap)
  }

  private def takeAll(from: Map[String, Long],
      listing: Seq[(String, Long)]): Seq[(String, Long)] =
    listing.map { case (key, total) => key -> math.max(total, from.getOrElse(key, 0L)) }

  /** Byte-budget admission (`ReadMaxBytes`, the Kafka maxBytesPerTrigger
    * analog): the budget splits EVENLY across backlogged ledgers, each
    * share converted to an entry grant by a header-only walk from that
    * ledger's frontier ([[MsgLogCodec.entriesWithinBytes]] — O(granted
    * frames), the same magnitude as the read it admits). A soft limit:
    * every backlogged ledger advances at least one frame, so a message
    * larger than its share still makes progress.
    */
  /** Per-ledger frame-boundary resume points for byte-budget walks
    * ((entry, byteOffset) of the last walked boundary): without them
    * every trigger re-walks the consumed prefix's headers — O(frontier)
    * per trigger, the same pathology the (size, mtime) count memo
    * eliminates for offsets. A memo is used only when its entry is at or
    * behind the trigger's frontier (a composite clamp can move the
    * frontier below the walked boundary; the next walk then re-walks
    * once and re-memoizes).
    */
  private val byteWalkMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def grantBytes(from: Map[String, Long], listing: Seq[(String, Long)],
      budget: Long, cap: Map[String, Long] = Map.empty): Seq[(String, Long)] = {
    val backlogged = listing.filter { case (k, t) => t > from.getOrElse(k, 0L) }
    if (backlogged.isEmpty) Seq.empty
    else {
      val share = math.max(1L, budget / backlogged.size)
      backlogged.map { case (key, total) =>
        val f = from.getOrElse(key, 0L)
        val (resumeEntry, resumeBytes) =
          Option(byteWalkMemo.get(key)).filter(_._1 <= f).getOrElse((0L, 0L))
        val walk = MsgLogCodec.entriesWithinBytes(
          MsgLogSource.keyPath(path, key), f, share, resumeEntry, resumeBytes)
        // clamp to the offered total (delayed-delivery caps bind) and a
        // co-limit's per-key cap (the composite rows grant), never
        // regressing the frontier — the max binds last
        val ceiling = math.min(total, cap.getOrElse(key, Long.MaxValue))
        val granted = math.max(f, math.min(ceiling, walk.frontier))
        // memoize the walked boundary only when the grant actually
        // reached it; a clamped grant keeps the SEEK boundary (≤ this
        // trigger's frontier ≤ the next one's), so a persistently
        // tighter co-limit re-walks one grant's frames per trigger, not
        // the whole consumed prefix from byte 0
        if (granted >= walk.resumeEntry)
          byteWalkMemo.put(key, (walk.resumeEntry, walk.resumeBytes))
        else
          byteWalkMemo.put(key, (walk.seekEntry, walk.seekBytes))
        key -> granted
      }
    }
  }

  private def grantBudget(from: Map[String, Long], listing: Seq[(String, Long)],
      budget: Long): Seq[(String, Long)] = {
    val backlogs = listing.map { case (key, total) =>
      (key, math.max(0L, total - from.getOrElse(key, 0L)))
    }
    val totalBacklog = backlogs.map(_._2).sum
    if (totalBacklog <= budget) takeAll(from, listing)
    else {
      // proportional floor grants, then remainder in key order; the
      // double is a grant heuristic only — clamped to backlog and to
      // the remaining budget, so no over-grant is possible
      var remaining = budget
      val base = backlogs.map { case (key, bl) =>
        val share = math.min(bl,
          math.min(remaining, (bl.toDouble * budget / totalBacklog).toLong))
        remaining -= share
        (key, bl, share)
      }
      base.map { case (key, bl, share) =>
        val extra = math.min(remaining, bl - share)
        remaining -= extra
        key -> (from.getOrElse(key, 0L) + share + extra)
      }
    }
  }

  /** Last listing taken by latestOffset this trigger — reusing it here
    * avoids a second listing per micro-batch.
    */
  @volatile private var lastListing: Seq[(String, Long)] = null
  override def reportLatestOffset(): Offset =
    MsgLogOffset(Option(lastListing).getOrElse(currentTotals).toMap ++ currentNacks.toMap)

  /** A trigger's slices. With `minPartitions=N` the per-ledger deltas are
    * further split (entry counts are already in the offsets — unlike the
    * batch path, no extra walk), so one hot ledger's large micro-batch
    * fans out instead of running on one core.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = MsgLogOffset.parse(start.json()).counts
    val e = MsgLogOffset.parse(end.json()).counts
    val allDeltas = e.toSeq.sorted.flatMap { case (key, endCount) =>
      val startCount = s.getOrElse(key, 0L)
      if (endCount > startCount) Some((key, startCount, endCount)) else None
    }
    // nack-journal deltas plan as redelivery partitions, outside the
    // slice split (a journal is a command list, not an entry range)
    val (nackDeltas, deltas) = allDeltas.partition(d => MsgLogNacks.isNackKey(d._1))
    val slices = minPartitions match {
      case Some(n) if deltas.nonEmpty => MsgLogScan.planSlices(deltas, n)
      case _ => deltas
    }
    val ledgerParts = slices.map { case (key, startCount, endCount) =>
      MsgLogPartition(MsgLogSource.ledgerId(key),
        MsgLogSource.keyPath(path, key).toString, MsgLogSource.keyTopic(key),
        startCount, endCount): InputPartition
    }
    val nackParts = nackDeltas.map { case (key, startCmd, endCmd) =>
      val (journal, topicDir) = MsgLogNacks.resolveKey(path, key)
      MsgLogNackPartition(journal.toString, topicDir.toString,
        MsgLogSource.keyTopic(key), startCmd, endCmd): InputPartition
    }
    (ledgerParts ++ nackParts).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MsgLogReaderFactory(required, preds, deadLetter, sessionTz)

  override def deserializeOffset(json: String): Offset = {
    val off = MsgLogOffset.parse(json)
    MsgLogSource.checkKeySpace(off.counts, topics.isDefined, "checkpoint offset")
    off
  }

  override def commit(end: Offset): Unit = () // cumulative ack: checkpoint-owned

  override def stop(): Unit = ()
}

object MsgLogMicroBatchStream {
  /** Default escape hatch of a min-rows gate (the Kafka source's
    * maxTriggerDelay default): a thin backlog still flushes at least
    * this often. */
  val DefaultMaxTriggerDelayMs: Long = 15L * 60 * 1000
}

/** One ledger slice: entries [startEntry, endEntry) of one file. */
case class MsgLogPartition(ledger: Long, file: String, topic: String,
    startEntry: Long, endEntry: Long)
    extends InputPartition

/** Commands [startCmd, endCmd) of one redelivery journal. */
case class MsgLogNackPartition(journal: String, topicDir: String, topic: String,
    startCmd: Long, endCmd: Long)
    extends InputPartition

case class MsgLogReaderFactory(required: StructType,
    preds: Array[MsgFrame => Boolean] = Array.empty,
    deadLetter: Boolean = false,
    sessionTz: String = "UTC")
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: MsgLogPartition =>
        new MsgLogPartitionReader(p, required, preds, deadLetter, sessionTz)
      case p: MsgLogNackPartition =>
        new MsgLogNackReader(p, required, preds, deadLetter, sessionTz)
      case other => throw new IllegalArgumentException(
        s"graft-msglog: unknown partition type $other")
    }
}

/** Re-delivers each nacked entry of a journal slice by delegating to a
  * one-entry [[MsgLogPartitionReader]] per command, with the command's
  * delivery generation added to `redelivery_count`. The per-command seek
  * costs a header walk to the entry — proportional to the nack LIST, not
  * the log, and nacks are exceptional by nature. The subscription's
  * predicates (pushed filters, seek, Key_Shared range) apply to
  * redeliveries exactly as to first deliveries — a consumer only ever
  * sees its own slice of the key space, nacked or not.
  */
class MsgLogNackReader(p: MsgLogNackPartition, required: StructType,
    preds: Array[MsgFrame => Boolean] = Array.empty,
    deadLetter: Boolean = false,
    sessionTz: String = "UTC")
    extends PartitionReader[InternalRow] {

  private val cmds = MsgLogNacks.readCommands(Paths.get(p.journal))
    .slice(p.startCmd.toInt, p.endCmd.toInt)
  private var idx = 0
  private var inner: MsgLogPartitionReader = null

  override def next(): Boolean = {
    while (true) {
      if (inner != null) {
        if (inner.next()) return true
        inner.close(); inner = null
      }
      if (idx >= cmds.length) return false
      val c = cmds(idx); idx += 1
      val file = Paths.get(p.topicDir, c.ledgerName)
      // the redelivered row must carry the ORIGINAL ledger coordinate:
      // hash the topic-qualified offset key exactly as the first
      // delivery's partition planning did
      val key = if (p.topic.isEmpty) c.ledgerName else s"${p.topic}/${c.ledgerName}"
      // reader-side predicates must see the BUMPED redelivery_count (the
      // value the output row will carry): a pushed
      // `redelivery_count >= 1` filter — the DLQ-routing use case this
      // feature exists for — evaluated against the stored frame's count
      // would reject every redelivery before the bump applies, and a
      // reader-dropped row is gone no matter what the residual re-checks
      val bumpedPreds = preds.map(pred => (m: MsgFrame) =>
        pred(m.copy(redeliveryCount = m.redeliveryCount + c.bump)))
      inner = new MsgLogPartitionReader(
        MsgLogPartition(MsgLogSource.ledgerId(key), file.toString,
          p.topic, c.entry, c.entry + 1),
        required, bumpedPreds, deadLetter, sessionTz, redeliveryBump = c.bump)
    }
    false // unreachable
  }

  override def get(): InternalRow = inner.get()

  override def close(): Unit = if (inner != null) inner.close()
}

/** Sequential frame decoder over one ledger slice; whole frames below the
  * slice are skipped via their headers (no decode, no CRC), a straddling
  * batched frame is decoded once and its leading messages dropped. Only
  * the pruned columns are materialized into the output row; messages
  * failing a pushed predicate are skipped before materialization (entry
  * numbering still advances — offsets stay dense, batched or not).
  *
  * `deadLetter=true` diverts a CRC-failed frame verbatim to
  * `<dir>/.dlq/<ledger>-<md5prefix>.frame` (content-addressed: the same
  * frame re-read by an adjacent slice's reader diverts to the same
  * file) and keeps reading (the frame
  * still consumes the entry count its header claims, matching
  * [[MsgLogCodec.countEntries]]); the default re-raises — corruption is
  * an error unless the caller opted into the DLQ policy.
  */
class MsgLogPartitionReader(p: MsgLogPartition, required: StructType,
    preds: Array[MsgFrame => Boolean] = Array.empty,
    deadLetter: Boolean = false,
    sessionTz: String = "UTC",
    redeliveryBump: Int = 0)
    extends PartitionReader[InternalRow] {
  private val in = new DataInputStream(new java.io.BufferedInputStream(
    Files.newInputStream(Paths.get(p.file)), 1 << 16))

  // Seek: skip whole frames that end at/before the slice start via their
  // headers ([[MsgLogCodec.seekToEntry]] — no decode, no CRC, one shared
  // group-aware implementation with the delayed-delivery frontier). A
  // frame whose entries straddle startEntry is NOT skipped — the decode
  // path drops its leading messages; a chunk group whose single entry
  // was skipped is skipped whole (continuation frames included).
  /** Entry ordinal of the next not-yet-consumed message. */
  private var entry = MsgLogCodec.seekToEntry(in, p.startEntry)

  private var current: MsgFrame = _
  private var currentEntry = 0L
  private var pending: Iterator[MsgFrame] = Iterator.empty
  private val assembler = new MsgLogCodec.ChunkAssembler

  // partition constant: encode once, not per row
  private val topicUtf8 = UTF8String.fromString(p.topic)

  private val extractors: Array[() => Any] = required.fieldNames.map {
    case "topic" => () => topicUtf8
    case "ledger" => () => p.ledger
    case "entry" => () => currentEntry
    case "event_id" => () => current.eventId
    case "ts" => () => current.tsUs
    case "user_id" => () => current.userId
    case "event_type" => () => UTF8String.fromString(current.eventType)
    case "value" => () => current.value
    case "props" => () => UTF8String.fromString(current.props)
    case "producer_name" => () =>
      if (current.producerName == null) null else UTF8String.fromString(current.producerName)
    case "sequence_id" => () =>
      if (current.sequenceId < 0) null else java.lang.Long.valueOf(current.sequenceId)
    case "event_time" => () =>
      if (current.eventTimeUs < 0) null else java.lang.Long.valueOf(current.eventTimeUs)
    case "partition_key" => () =>
      if (current.partitionKey == null) null else UTF8String.fromString(current.partitionKey)
    case "ordering_key" => () =>
      if (current.orderingKey == null) null else current.orderingKey.toArray
    case "properties" => () =>
      if (current.properties == null) null
      else {
        // sorted key order: the map column is deterministic for a given
        // message (maps hash by entry order in the driver's comparator)
        val kvs = current.properties.toSeq.sortBy(_._1)
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            kvs.map(kv => UTF8String.fromString(kv._1)).toArray[Any]),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            kvs.map(kv => UTF8String.fromString(kv._2)).toArray[Any]))
      }
    case "redelivery_count" =>
      // + the nack generation on a redelivery read (0 on first delivery):
      // the broker increments the counter each time it re-dispatches
      () => java.lang.Integer.valueOf(current.redeliveryCount + redeliveryBump)
    case "deliver_at" => () =>
      if (current.deliverAtUs < 0) null else java.lang.Long.valueOf(current.deliverAtUs)
    case "payload" =>
      // declared payload schema (`payloadSchema` option): decode `props`
      // through Spark's own Jackson parser — the same machinery as
      // from_json, built once per reader, exercised only when the
      // payload column survives pruning. Unparseable props → NULL (the
      // read never fails on a payload-schema mismatch).
      val parser = new org.apache.spark.sql.catalyst.json.JacksonParser(
        required("payload").dataType,
        new org.apache.spark.sql.catalyst.json.JSONOptions(
          Map.empty[String, String], sessionTz, ""),
        allowArrayAsStructs = false, Nil)
      () =>
        try parser.parse[UTF8String](UTF8String.fromString(current.props),
          org.apache.spark.sql.catalyst.json.CreateJacksonParser.utf8String,
          identity).headOption.orNull
        catch { case _: Exception => null }
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  private def dlqDir(): java.nio.file.Path = {
    val d = Paths.get(p.file).getParent.resolve(".dlq")
    Files.createDirectories(d)
    d
  }

  private def divertToDlq(raw: Array[Byte]): Unit = {
    // CONTENT-addressed name: under minPartitions slicing, a corrupt
    // frame straddling a slice boundary is re-read by the adjacent
    // slice's reader under a different reader-local entry ordinal, so an
    // ordinal-keyed name would divert the same frame twice; hashing the
    // verbatim bytes collapses duplicate diversions to one file
    val d = java.security.MessageDigest.getInstance("MD5").digest(raw)
    val hex = d.take(8).map(b => f"$b%02x").mkString
    val name = s"${Paths.get(p.file).getFileName}-$hex.frame"
    Files.write(dlqDir().resolve(name), raw)
  }

  /** Preserve one healthy slice of a chunk group broken by a corrupt
    * sibling: the corrupt FRAME diverts verbatim (wire bytes, CRC
    * included) via [[divertToDlq]], while the group's intact slices land
    * as decompressed `.part` files keyed by the group uuid — without
    * them, one flipped bit in one chunk would silently discard the other
    * 99% of a large message's bytes and no recovery would be possible.
    */
  private def divertChunkPart(uuidHi: Long, uuidLo: Long, cid: Int,
      bytes: Array[Byte]): Unit = {
    val name = f"${Paths.get(p.file).getFileName}-chunk-$uuidHi%016x$uuidLo%016x-$cid.part"
    Files.write(dlqDir().resolve(name), bytes)
  }

  override def next(): Boolean = {
    while (true) {
      while (pending.hasNext) {
        val m = pending.next()
        val e = entry
        entry += 1
        if (e >= p.endEntry) return false
        if (e >= p.startEntry && preds.forall(_(m))) {
          current = m; currentEntry = e; return true
        }
      }
      if (entry >= p.endEntry) return false
      MsgLogCodec.readFrameResult(in) match {
        case MsgLogCodec.FrameEof =>
          if (!assembler.isEmpty)
            throw new java.io.IOException("graft-msglog: ledger ends mid chunk group")
          return false
        case MsgLogCodec.Corrupt(raw, claimed, err) =>
          if (!deadLetter) throw new java.io.IOException(err)
          divertToDlq(raw)
          // a piece of the open group is unrecoverable: the group's
          // entry (claimed by its chunk 0) is consumed by the drop, and
          // its already-buffered healthy slices are preserved alongside
          // the corrupt frame
          assembler.drain().foreach { g =>
            g.pieces.zipWithIndex.foreach { case (bytes, cid) =>
              divertChunkPart(g.uuidHi, g.uuidLo, cid, bytes)
            }
            entry += 1
          }
          entry += claimed
        case MsgLogCodec.Entries(msgs) => pending = msgs.iterator
        case c: MsgLogCodec.ChunkPiece =>
          // a continuation whose group was DLQ-dropped carries no entry —
          // preserve its slice with the group's other survivors; anything
          // else out of order is a writer bug (raise)
          if (deadLetter && c.chunkId > 0 && assembler.isEmpty)
            divertChunkPart(c.uuidHi, c.uuidLo, c.chunkId, c.payload)
          else
            assembler.offer(c).foreach(m => pending = Iterator.single(m))
      }
    }
    false // unreachable
  }

  override def get(): InternalRow =
    new GenericInternalRow(extractors.map(_.apply()))

  override def close(): Unit = in.close()
}
