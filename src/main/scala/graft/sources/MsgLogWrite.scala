package graft.sources

import java.io.{BufferedOutputStream, DataOutputStream}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.util.Durable

/** Produce path of the graft message log as a DataSource V2 writer — the
  * reference's send pipeline (§3.1: serialize → sequence → frame → await
  * receipt) with task-commit standing in for the broker receipt:
  *
  *  - each task writes its partition's frames to a temp ledger, so a
  *    failed/speculative task leaves no partial ledger visible (the
  *    reference correlates receipts by `(producer_id, sequence_id)` to
  *    the same end — exactly-once visibility of sent data);
  *  - task commit atomically renames the temp ledger into place;
  *    `abort` deletes it (reference: retry/reconnect with epoch bump,
  *    `src/entity/producer.rs:132-176`);
  *  - routing is NOT the writer's job: callers route declaratively
  *    (`df.repartition(n, col("user_id"))`) and the writer preserves the
  *    partitioning — one ledger per input partition, like one producer
  *    per topic partition (`src/entity/producer.rs:39-52`).
  *
  * Streaming epochs land as separate ledger files tagged by epoch id —
  * restart-safe because an epoch re-commit overwrites the same names.
  */
class MsgLogWriteBuilder(path: String, info: LogicalWriteInfo) extends WriteBuilder {

  /** Per-frame payload codec (reference compression feature gates,
    * `src/message/producer.rs:54-131`):
    * `compression=none|zlib|lz4|zstd|snappy`.
    */
  private val codec: Byte = Option(info.options.get("compression")) match {
    case Some("zlib") => MsgLogCodec.CodecZlib
    case Some("lz4") => MsgLogCodec.CodecLz4
    case Some("zstd") => MsgLogCodec.CodecZstd
    case Some("snappy") => MsgLogCodec.CodecSnappy
    case Some("none") | None => MsgLogCodec.CodecNone
    case Some(other) =>
      throw new IllegalArgumentException(
        s"graft-msglog: unsupported compression '$other' (use none, zlib, lz4, zstd or snappy)")
  }

  /** Messages packed per wire frame (reference `BatchedMessage`,
    * `src/message/codec.rs:23-60`): `batchSize=N` amortizes the frame
    * header + CRC + compression context over N messages — the
    * small-message throughput lever. 1 (default) writes the unbatched
    * layout byte-for-byte.
    */
  private val batchSize: Int = Option(info.options.get("batchSize")) match {
    case None => 1
    case Some(s) =>
      val n = try s.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"graft-msglog: invalid batchSize '$s'")
      }
      if (n < 1 || n > MsgLogCodec.MaxBatchCount)
        throw new IllegalArgumentException(
          s"graft-msglog: batchSize $n out of range 1..${MsgLogCodec.MaxBatchCount}")
      n
  }

  /** Chunked large messages (reference `uuid`/`chunk_id`/
    * `num_chunks_from_msg`, `src/PulsarApi.proto:142-145`):
    * `maxFrameBytes=N` splits any message whose encoded body exceeds N
    * into N-byte chunk frames ([[MsgLogCodec.writeMessageAuto]]) — the
    * only way to write a payload past the 64 MiB frame cap. Mutually
    * exclusive with `batchSize` > 1, the reference's own producer
    * constraint (chunking requires batching disabled). Capped at half
    * [[MsgLogCodec.MaxFrameBytes]] so a chunk slice plus header and
    * worst-case compression expansion always fits a legal frame.
    */
  private val maxFrameBytes: Int = Option(info.options.get("maxFrameBytes")) match {
    case None => 0
    case Some(s) =>
      val n = try s.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"graft-msglog: invalid maxFrameBytes '$s'")
      }
      if (n < 1 || n > MsgLogCodec.MaxFrameBytes / 2)
        throw new IllegalArgumentException(
          s"graft-msglog: maxFrameBytes $n out of range 1..${MsgLogCodec.MaxFrameBytes / 2}")
      if (batchSize > 1)
        throw new IllegalArgumentException(
          "graft-msglog: maxFrameBytes (chunking) requires batchSize=1 — " +
            "chunking and batching are mutually exclusive, as in the reference producer")
      n
  }

  /** Producer-side dedup on batch append (reference broker dedup:
    * `last_sequence_id` per producer, `src/PulsarApi.proto:577-579`;
    * `SerialId`, `src/netflow/models.rs:132-148`): with
    * `dedupOnAppend=true`, messages whose `(producer_name, sequence_id)`
    * is at/below the topic's recorded last-sequence frontier are skipped,
    * so re-running the same batch append is idempotent. The frontier is
    * the max over the per-ledger `.seq` sidecars every write maintains
    * ([[MsgLogSeqFrontier]]); batch-only — streaming epochs are already
    * idempotent by ledger name.
    *
    * The frontier is read ONCE at write planning: like the broker
    * answering a producer's session-establish with `last_sequence_id`,
    * it serializes a producer's appends, not concurrent sessions — two
    * simultaneous appends replaying the same producer's sequences can
    * both pass the check (the reference has the same property across
    * producer sessions racing the dedup cursor). Replay protection is
    * per producer name, sequential by construction in the reference.
    */
  private val dedupOnAppend: Boolean =
    MsgLogScan.boolOption(info.options, "dedupOnAppend")

  /** Write-side schema declaration + enforcement (reference broker schema
    * registry: `GetOrCreateSchema`/`IncompatibleSchema`,
    * `src/PulsarApi.proto:194,672-700`):
    *
    *  - `payloadSchema=<DDL>` declares the topic's payload schema at
    *    write time — registered in the topic's `.schema` file if absent
    *    (GetOrCreateSchema), rejected loudly if a DIFFERENT schema is
    *    already registered (IncompatibleSchema), and every row's `props`
    *    must parse under it or the write fails (the broker validating a
    *    producer's payloads);
    *  - `enforceSchema=true` enforces the topic's ALREADY-registered
    *    schema without re-declaring it — an error if the topic has none.
    *
    * Without either option writes stay schema-free, as before: the
    * read-side `payloadSchema` option remains a consumer-side decode
    * that NULLs unparseable payloads.
    */
  private val declaredSchemaDdl: Option[String] =
    Option(info.options.get("payloadSchema")).map { ddl =>
      try StructType.fromDDL(ddl).toDDL // normalize to canonical DDL
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"graft-msglog: invalid payloadSchema DDL '$ddl': ${e.getMessage}", e)
      }
    }
  private val enforceSchema: Boolean =
    MsgLogScan.boolOption(info.options, "enforceSchema")

  /** Transactional batch produce (`transactional=true`): all the write's
    * ledgers become visible atomically at job commit, or never — see
    * [[MsgLogTxn]]. Batch-only: streaming epochs already carry
    * exactly-once visibility by idempotent epoch-keyed ledger names.
    */
  private val transactional: Boolean =
    MsgLogScan.boolOption(info.options, "transactional")

  /** Producer-side retry policy for the commit-time ledger publish
    * (`retrySend=never|forever|limitTo`, with `retryMax` /
    * `retryBackoffMs` for limitTo) — the reference's `RetrySend`
    * surface (`src/entity/producer.rs:350-354`); see [[MsgLogRetry]].
    * Default: Never (one attempt; Spark task retry is the outer
    * layer, and a retried task re-publishes idempotently). */
  private val retrySend: MsgLogRetry.RetrySend =
    Option(info.options.get("retrySend"))
      .map(MsgLogRetry.RetrySend.parse(_, info.options))
      .getOrElse(MsgLogRetry.RetrySend.Never)

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new MsgLogBatchWrite(path, info.schema(), codec, batchSize, maxFrameBytes,
        dedupOnAppend, declaredSchemaDdl, enforceSchema, transactional, retrySend)
    override def toStreaming: StreamingWrite = {
      if (dedupOnAppend)
        throw new IllegalArgumentException(
          "graft-msglog: dedupOnAppend is batch-only — streaming epochs are " +
            "idempotent by ledger name (an epoch re-commit overwrites its own files)")
      if (transactional)
        throw new IllegalArgumentException(
          "graft-msglog: transactional is batch-only — streaming epochs are " +
            "already atomic per epoch (idempotent epoch-keyed ledgers)")
      new MsgLogStreamingWrite(path, info.schema(), info.queryId(), codec, batchSize,
        maxFrameBytes, declaredSchemaDdl, enforceSchema)
    }
  }
}

/** Topic-level payload-schema registry: `<topic>/.schema` holds the
  * canonical DDL of the topic's CURRENT payload schema — the file-backed
  * analog of the broker's schema registry (`CommandGetOrCreateSchema`,
  * `src/PulsarApi.proto:672-700`). One current schema per topic, with
  * BACKWARD-compatible evolution: a producer declaring a strictly wider
  * schema (only added fields) advances it, one declaring an older
  * narrower version keeps writing under it, and anything else is
  * refused (`IncompatibleSchema`, proto:194) — see [[getOrCreate]].
  */
object MsgLogSchemaRegistry {
  val FileName = ".schema"

  def file(dir: String): Path = Paths.get(dir, FileName)

  /** The topic's registered payload DDL, if any. */
  def readDdl(dir: String): Option[String] = {
    val f = file(dir)
    if (!Files.isRegularFile(f)) None
    else Some(new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  /** GetOrCreateSchema with BACKWARD-compatible evolution (the broker's
    * schema-compatibility check on upload, `src/PulsarApi.proto:672-700`;
    * the reference client stops at the error enum): register `ddl`
    * (canonical form) for the topic, or reconcile it with the registered
    * one. Compatibility is ADDITIVE field widening, checked recursively
    * through structs/arrays/maps — new fields decode as NULL on old
    * payloads (the Jackson decode treats absent JSON fields as null), so
    * the one current reader schema serves every ledger ever written:
    *
    *  - declared == registered (up to nullability): no change;
    *  - declared ⊃ registered (adds fields, keeps every existing one at
    *    its type): the registry EVOLVES to the wider declared schema —
    *    the broker accepting a new schema version;
    *  - declared ⊂ registered: an old producer still on a previous
    *    version — accepted, validated under what it declares, registry
    *    unchanged;
    *  - anything else (type change, field removal + addition):
    *    `IncompatibleSchema`.
    *
    * Returns the DDL the WRITE validates under (the declared one), which
    * is by construction ⊆ the registered reader schema. The read and the
    * write run under the topic dir's lock, so two producers widening one
    * topic at once both land: the second reads the first's schema.
    */
  def getOrCreate(dir: String, ddl: String): String = {
    Files.createDirectories(Paths.get(dir))
    Durable.withDirLock(Paths.get(dir)) {
      readDdl(dir) match {
        case None =>
          writeRegistry(dir, ddl)
          ddl
        case Some(registered) =>
          val reg = StructType.fromDDL(registered)
          val dec = StructType.fromDDL(ddl)
          if (additive(dec, reg)) ddl // equal or an old producer's narrower view
          else if (additive(reg, dec)) { // strictly wider: evolve the registry
            writeRegistry(dir, ddl)
            ddl
          } else throw new IncompatibleSchemaException(
            s"graft-msglog: IncompatibleSchema — topic $dir has registered payload " +
              s"schema '$registered' and the producer declared '$ddl', which neither " +
              "matches it nor only adds fields (reference error code " +
              "src/PulsarApi.proto:194)")
      }
    }
  }

  private def writeRegistry(dir: String, ddl: String): Unit =
    Durable.write(file(dir),
      (ddl + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** True iff every field of `narrow` exists in `wide` at the same
    * (normalized) type, recursively — i.e. `wide` is `narrow` plus zero
    * or more added fields. Nullability is ignored throughout: all JSON
    * payload fields are nullable on the wire.
    */
  private def additive(narrow: StructType, wide: StructType): Boolean =
    narrow.fields.forall { nf =>
      wide.fields.find(_.name == nf.name).exists(wf =>
        compatibleType(nf.dataType, wf.dataType))
    }

  private def compatibleType(n: org.apache.spark.sql.types.DataType,
      w: org.apache.spark.sql.types.DataType): Boolean = (n, w) match {
    case (ns: StructType, ws: StructType) => additive(ns, ws)
    case (na: org.apache.spark.sql.types.ArrayType,
          wa: org.apache.spark.sql.types.ArrayType) =>
      compatibleType(na.elementType, wa.elementType)
    case (nm: org.apache.spark.sql.types.MapType,
          wm: org.apache.spark.sql.types.MapType) =>
      compatibleType(nm.keyType, wm.keyType) &&
        compatibleType(nm.valueType, wm.valueType)
    case _ => n == w
  }

  /** The DDL a write under `enforceSchema=true` must honor — an error if
    * the topic never registered one (there is nothing to enforce, and
    * silently skipping validation is exactly the failure mode the option
    * exists to prevent).
    */
  def requireDdl(dir: String): String = readDdl(dir).getOrElse {
    throw new IllegalArgumentException(
      s"graft-msglog: enforceSchema=true but topic $dir has no registered payload " +
        "schema — declare one with the payloadSchema write option first")
  }
}

/** Per-ledger sequence-frontier sidecars: `<ledger>.glog.seq` records the
  * max `sequence_id` seen per `producer_name` in that ledger — the
  * file-backed analog of the broker's per-producer `last_sequence_id`
  * cursor (`src/PulsarApi.proto:577-579`). Sidecars keep the append-dedup
  * frontier O(ledgers) instead of O(log): a dedup append reads a few
  * bytes per ledger rather than decoding 100 TB of frames. Ledgers
  * without a sidecar (pre-feature writes, hand-placed files) fall back to
  * a full decode walk — correct, just slower, and only ever paid once if
  * anything rewrites the sidecar. Format: one `<maxSeq>\t<producer>` line
  * per producer (seq first, so producer names may contain tabs), sorted
  * for determinism; written tmp + atomic rename like the ledgers.
  */
object MsgLogSeqFrontier {
  val Extension = ".seq"

  def sidecarPath(ledger: Path): Path =
    ledger.resolveSibling(ledger.getFileName.toString + Extension)

  def write(ledger: Path, maxima: Map[String, Long]): Unit = {
    val body = maxima.toSeq.sortBy(_._1)
      .map { case (p, s) => s"$s\t$p" }.mkString("", "\n", "\n")
    Durable.write(sidecarPath(ledger),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def read(sidecar: Path): Map[String, Long] =
    new String(Files.readAllBytes(sidecar), java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        val seq =
          try if (i < 0) throw new NumberFormatException else line.substring(0, i).toLong
          catch {
            case _: NumberFormatException => throw new java.io.IOException(
              s"graft-msglog: corrupt sequence sidecar $sidecar: '$line'")
          }
        line.substring(i + 1) -> seq
      }.toMap

  private def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (acc, (p, s)) =>
      acc.updated(p, math.max(s, acc.getOrElse(p, Long.MinValue)))
    }

  /** Max recorded `sequence_id` per producer across a topic's ledgers —
    * sidecars where present, full decode walk where not.
    */
  def topicFrontier(dir: String): Map[String, Long] =
    MsgLogSource.ledgerFiles(dir).foldLeft(Map.empty[String, Long]) { (acc, ledger) =>
      val sidecar = sidecarPath(ledger)
      val maxima =
        if (Files.exists(sidecar)) read(sidecar)
        else {
          var m = Map.empty[String, Long]
          MsgLogCodec.foreachEntry(ledger) { f =>
            if (f.producerName != null && f.sequenceId >= 0)
              m = m.updated(f.producerName,
                math.max(f.sequenceId, m.getOrElse(f.producerName, Long.MinValue)))
          }
          // memoize the recovery (even an empty result): ledgers are
          // immutable, so without this write-back every dedup append
          // re-decodes every pre-feature ledger in full
          write(ledger, m)
          m
        }
      merge(acc, maxima)
    }
}

case class MsgLogCommit(file: String) extends WriterCommitMessage

/** Transactional produce (reference transaction protocol,
  * `src/PulsarApi.proto:702-802` — `NewTxn` / `AddPartitionToTxn` /
  * `EndTxn` COMMIT/ABORT; defined in the proto, unused by the reference
  * client): atomic all-or-nothing visibility for a multi-partition batch
  * append.
  *
  * File protocol: a transactional write's task ledgers are named
  * `txn-<id>-<partition>.glog` (NewTxn = the write's id;
  * AddPartitionToTxn = each task adopting the prefix) and are INVISIBLE
  * to every reader until `txn-<id>.commit` exists in the topic dir
  * ([[MsgLogSource.ledgerFiles]] is the single resolution point). Job
  * commit writes that marker with a tmp + atomic rename — the one
  * EndTxn(COMMIT) instant at which all the transaction's ledgers appear
  * together; job abort (or a crash before commit — see [[vacuum]])
  * leaves no marker, so nothing ever appears. The marker records the
  * committed ledger names, one per line, so integrity is auditable.
  *
  * At scale the marker is one tiny file per transaction and visibility
  * filtering is a name-prefix check against the directory listing the
  * scan already performs — no per-frame cost anywhere.
  *
  * Scope: produce-side only. `AddSubscriptionToTxn` /
  * `EndTxnOnSubscription` (acking consumed messages atomically with the
  * produce — the consume-transform-produce loop) is NOT implemented:
  * acks live in a different sidecar, and one atomic rename cannot span
  * two directories; the engine's answer to that loop is Structured
  * Streaming's checkpointed `foreachBatch` (idempotent epoch re-commit),
  * which subsumes it. The reference client never exercises any of the
  * transaction commands either (proto-only).
  */
object MsgLogTxn {
  private val LedgerRe = "^txn-([0-9a-f]{8})-.*".r
  private val MarkerRe = "^txn-([0-9a-f]{8})\\.commit$".r

  /** Transaction id of a LEDGER file name, if it is transactional. */
  def txnIdOf(fileName: String): Option[String] = fileName match {
    case LedgerRe(id) => Some(id)
    case _ => None
  }

  /** Transaction id of a COMMIT-MARKER file name, if it is one. */
  def committedTxnId(fileName: String): Option[String] = fileName match {
    case MarkerRe(id) => Some(id)
    case _ => None
  }

  def markerPath(dir: String, txnId: String): Path =
    Paths.get(dir, s"txn-$txnId.commit")

  /** EndTxn(COMMIT): atomically publish every ledger of `txnId`. */
  def commit(dir: String, txnId: String, ledgerNames: Seq[String]): Unit =
    Durable.write(markerPath(dir, txnId), ledgerNames.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** EndTxn(ABORT): delete every staged ledger (and sidecar) of `txnId`.
    * Only legal while no commit marker exists — a committed transaction
    * is immutable history.
    */
  def abort(dir: String, txnId: String): Unit = {
    require(!Files.exists(markerPath(dir, txnId)),
      s"graft-msglog: transaction $txnId is committed; it cannot be aborted")
    staged(dir, txnId).foreach { p =>
      Files.deleteIfExists(MsgLogSeqFrontier.sidecarPath(p))
      Files.deleteIfExists(p)
    }
  }

  /** Staged (not-necessarily-committed) ledger files of one txn. */
  private def staged(dir: String, txnId: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val stream = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(MsgLogCodec.Extension) && txnIdOf(n).contains(txnId)
      }
    } finally stream.close()
  }

  /** Garbage-collect ledgers of transactions that never committed (a
    * driver crash between task commits and the marker write — the
    * broker's transaction-timeout reaper, and like it, gated on AGE):
    * only uncommitted txn ledgers whose last modification is older than
    * `olderThanMs` are reaped, so a vacuum racing an IN-FLIGHT write
    * (tasks committed, job commit marker not yet renamed) cannot delete
    * ledgers the imminent marker will reference. Pick `olderThanMs`
    * comfortably above the longest write job, as the broker's
    * transaction timeout must exceed the longest transaction. Committed
    * transactions are never touched. Returns the deleted paths.
    */
  def vacuum(dir: String, olderThanMs: Long = 3600000L): Seq[Path] = {
    require(olderThanMs >= 0, s"graft-msglog: negative olderThanMs $olderThanMs")
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val stream = Files.list(d)
    val entries = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq
    } finally stream.close()
    val names = entries.map(_.getFileName.toString)
    val committed = names.flatMap(committedTxnId).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = entries.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(MsgLogCodec.Extension) &&
        txnIdOf(n).exists(!committed.contains(_)) &&
        Files.getLastModifiedTime(p).toMillis <= cutoff
    }
    orphans.foreach { p =>
      Files.deleteIfExists(MsgLogSeqFrontier.sidecarPath(p))
      Files.deleteIfExists(p)
    }
    // a crash BETWEEN writing .txn-<id>.commit.tmp and its rename leaves
    // a tmp marker no other path ever touches — same age gate (a live
    // commit's tmp exists for microseconds)
    val staleTmp = entries.filter { p =>
      MarkerTmpRe.matches(p.getFileName.toString) &&
        Files.getLastModifiedTime(p).toMillis <= cutoff
    }
    staleTmp.foreach(Files.deleteIfExists(_))
    orphans ++ staleTmp
  }

  private val MarkerTmpRe = "^\\.txn-[0-9a-f]{8}\\.commit\\.tmp$".r
}

class MsgLogBatchWrite(path: String, schema: StructType, codec: Byte, batchSize: Int,
    maxFrameBytes: Int = 0, dedupOnAppend: Boolean = false,
    schemaDdl: Option[String] = None, enforceSchema: Boolean = false,
    transactional: Boolean = false,
    retrySend: MsgLogRetry.RetrySend = MsgLogRetry.RetrySend.Never)
    extends BatchWrite {
  /** Per-write id in the ledger names: two appends to one topic must not
    * collide on `ledger-<partition>` (that would silently replace the
    * first write's ledgers — observed, fixed). Streaming epochs stay
    * deterministic instead: an epoch replayed after restart SHOULD
    * overwrite its own files (idempotent re-commit).
    */
  private val writeId = java.util.UUID.randomUUID().toString.take(8)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, once per write: the topic's last-sequence frontier
    // ships to every task (like the broker answering the producer's
    // session-establish with last_sequence_id, proto:577-579)
    val frontier =
      if (dedupOnAppend) MsgLogSeqFrontier.topicFrontier(path) else Map.empty[String, Long]
    // schema registration/lookup is ALSO driver-side, once per write —
    // the producer-connect handshake (GetOrCreateSchema) before any task
    // sends a message; tasks receive the effective DDL to validate under
    val enforceDdl = MsgLogWriterFactory.resolveSchema(path, schemaDdl, enforceSchema)
    MsgLogWriterFactory(path, schema, writeId, codec, batchSize, maxFrameBytes, frontier,
      enforceDdl, org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone,
      txn = transactional, retrySend = retrySend)
  }

  /** Non-transactional commit is a no-op (task renames already published
    * each ledger); transactional commit is the EndTxn(COMMIT) instant —
    * one atomic marker rename makes every task's ledger visible together.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (transactional) {
      val names = messages.collect {
        case MsgLogCommit(f) if f.nonEmpty => Paths.get(f).getFileName.toString
      }
      MsgLogTxn.commit(path, writeId, names.toSeq)
    }

  /** Transactional abort = EndTxn(ABORT): staged ledgers are deleted and
    * were never visible. (Non-transactional: committed tasks' ledgers
    * are already public — the pre-transaction behavior callers opt out
    * of with `transactional=true`.)
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (transactional) MsgLogTxn.abort(path, writeId)
}

/** Streaming ledger names carry the QUERY id (stable across restarts of
  * the same checkpoint): epoch ids alone restart at 0 for a fresh
  * checkpoint, so two streaming queries producing into one topic — or a
  * re-pointed query after a checkpoint reset — would rename over each
  * other's `epoch-N` ledgers. Including queryId isolates queries while
  * keeping an epoch re-commit of the SAME query idempotent.
  */
class MsgLogStreamingWrite(path: String, schema: StructType, queryId: String,
    codec: Byte, batchSize: Int, maxFrameBytes: Int = 0,
    schemaDdl: Option[String] = None, enforceSchema: Boolean = false)
    extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    MsgLogWriterFactory(path, schema, queryId, codec, batchSize, maxFrameBytes,
      Map.empty,
      MsgLogWriterFactory.resolveSchema(path, schemaDdl, enforceSchema),
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/** Serializable factory shipped to executors (one writer per task). */
case class MsgLogWriterFactory(path: String, schema: StructType, writeId: String,
    codec: Byte, batchSize: Int, maxFrameBytes: Int = 0,
    dedupFrontier: Map[String, Long] = Map.empty,
    enforceDdl: Option[String] = None, sessionTz: String = "UTC",
    txn: Boolean = false,
    retrySend: MsgLogRetry.RetrySend = MsgLogRetry.RetrySend.Never)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MsgLogDataWriter(path, schema,
      if (txn) f"txn-$writeId-$partitionId%04d" else f"ledger-$writeId-$partitionId%04d",
      taskId, codec, batchSize, maxFrameBytes, dedupFrontier, enforceDdl, sessionTz,
      retrySend)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new MsgLogDataWriter(path, schema, f"epoch-$writeId-$epochId%06d-$partitionId%04d", taskId,
      codec, batchSize, maxFrameBytes, enforceDdl = enforceDdl, sessionTz = sessionTz)
}

object MsgLogWriterFactory {
  /** Driver-side schema handshake: declared DDL → GetOrCreateSchema;
    * `enforceSchema=true` alone → the topic's registered DDL (required).
    * None → schema-free write (the pre-feature behavior).
    */
  def resolveSchema(path: String, schemaDdl: Option[String],
      enforceSchema: Boolean): Option[String] =
    schemaDdl.map(MsgLogSchemaRegistry.getOrCreate(path, _))
      .orElse(if (enforceSchema) Some(MsgLogSchemaRegistry.requireDdl(path)) else None)
}

/** Frames one partition's rows into `<stem>.glog` via a temp file +
  * atomic rename on commit. Expects the payload columns (by name):
  * event_id, ts, user_id, event_type, value, props. The optional
  * `MessageMetadata` envelope columns (producer_name, sequence_id,
  * event_time, partition_key, ordering_key, properties,
  * redelivery_count, deliver_at — `src/PulsarApi.proto:89-149`) are
  * picked up by name when the write schema carries them; NULL cells and
  * absent columns encode as absent fields, so a write without them is
  * byte-identical to the pre-envelope layout.
  */
class MsgLogDataWriter(dir: String, schema: StructType, stem: String, taskId: Long,
    codec: Byte = MsgLogCodec.CodecNone, batchSize: Int = 1, maxFrameBytes: Int = 0,
    dedupFrontier: Map[String, Long] = Map.empty,
    enforceDdl: Option[String] = None, sessionTz: String = "UTC",
    retrySend: MsgLogRetry.RetrySend = MsgLogRetry.RetrySend.Never)
    extends DataWriter[InternalRow] {

  /** Schema enforcement (broker payload validation, `IncompatibleSchema`
    * proto:194): `props` must PARSE under the topic's declared schema —
    * malformed JSON or a type-mismatched field rejects the row loudly.
    * Absent fields read as NULL and pass (JSON schema fields are
    * optional on the wire, matching the read-side decode). Same Jackson
    * machinery as the read path, so "what enforcement accepted" is
    * exactly "what the reader will decode non-NULL".
    */
  private val validateProps: String => Unit = enforceDdl match {
    case None => null
    case Some(ddl) =>
      val st = StructType.fromDDL(ddl)
      val parser = new org.apache.spark.sql.catalyst.json.JacksonParser(
        st,
        new org.apache.spark.sql.catalyst.json.JSONOptions(
          Map("mode" -> "FAILFAST"), sessionTz, ""),
        allowArrayAsStructs = false, Nil)
      props =>
        try parser.parse[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.unsafe.types.UTF8String.fromString(props),
          org.apache.spark.sql.catalyst.json.CreateJacksonParser.utf8String,
          identity)
        catch {
          case e: Exception => throw new IncompatibleSchemaException(
            s"graft-msglog: IncompatibleSchema — props ${props.take(120)} does not " +
              s"conform to the topic's declared payload schema '$ddl': " +
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200), e)
        }
  }

  private val iEvent = schema.fieldIndex("event_id")
  private val iTs = schema.fieldIndex("ts")
  private val iUser = schema.fieldIndex("user_id")
  private val iType = schema.fieldIndex("event_type")
  private val iValue = schema.fieldIndex("value")
  private val iProps = schema.fieldIndex("props")

  private def optIdx(name: String): Int = schema.fields.indexWhere(_.name == name)
  private val iProducer = optIdx("producer_name")
  private val iSeq = optIdx("sequence_id")
  private val iEventTime = optIdx("event_time")
  private val iPartKey = optIdx("partition_key")
  private val iOrderKey = optIdx("ordering_key")
  private val iProperties = optIdx("properties")
  private val iRedelivery = optIdx("redelivery_count")
  private val iDeliverAt = optIdx("deliver_at")

  private def has(i: Int, row: InternalRow): Boolean = i >= 0 && !row.isNullAt(i)

  private val tmp: Path = Paths.get(dir, s".$stem-$taskId${MsgLogCodec.Extension}.tmp")
  private var out: DataOutputStream = _
  private var n = 0L

  private def ensureOpen(): Unit = if (out == null) {
    Files.createDirectories(Paths.get(dir))
    out = new DataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16))
  }

  /** Pending messages of the frame under assembly (batchSize > 1). */
  private val batch = new scala.collection.mutable.ArrayBuffer[MsgFrame](batchSize)

  private def flushBatch(): Unit = if (batch.nonEmpty) {
    MsgLogCodec.writeBatch(out, batch.toSeq, codec)
    batch.clear()
  }

  /** The wire encodes `-1` as "absent" for these fields, so a negative
    * value would silently round-trip to NULL. The proto fields are
    * unsigned (`sequence_id`/`event_time`/`deliver_at_time`,
    * `src/PulsarApi.proto:91,113,125`), so refusing is reference-faithful
    * — and loud beats silent data loss.
    */
  private def nonNeg(field: String, v: Long): Long = {
    if (v < 0)
      throw new IllegalArgumentException(
        s"graft-msglog: negative $field ($v) is unwritable — the wire format reads " +
          "negative values back as NULL (the reference proto field is unsigned)")
    v
  }

  override def write(row: InternalRow): Unit = {
    val m = MsgFrame(
      row.getLong(iEvent),
      row.getLong(iTs), // TimestampType is epoch-µs internally
      row.getLong(iUser),
      row.getUTF8String(iType).toString,
      row.getDouble(iValue),
      row.getUTF8String(iProps).toString,
      producerName =
        if (has(iProducer, row)) row.getUTF8String(iProducer).toString else null,
      sequenceId = if (has(iSeq, row)) nonNeg("sequence_id", row.getLong(iSeq)) else -1L,
      eventTimeUs =
        if (has(iEventTime, row)) nonNeg("event_time", row.getLong(iEventTime)) else -1L,
      partitionKey =
        if (has(iPartKey, row)) row.getUTF8String(iPartKey).toString else null,
      orderingKey =
        if (has(iOrderKey, row))
          scala.collection.immutable.ArraySeq.unsafeWrapArray(row.getBinary(iOrderKey))
        else null,
      properties = if (has(iProperties, row)) {
        val md = row.getMap(iProperties)
        val ks = md.keyArray(); val vs = md.valueArray()
        (0 until md.numElements())
          .map(j => ks.getUTF8String(j).toString -> vs.getUTF8String(j).toString).toMap
      } else null,
      redeliveryCount = if (has(iRedelivery, row)) row.getInt(iRedelivery) else 0,
      deliverAtUs =
        if (has(iDeliverAt, row)) nonNeg("deliver_at", row.getLong(iDeliverAt)) else -1L)
    // schema validation BEFORE the dedup skip: a bad payload is loud
    // even when the sequence says replay (the broker checks the payload
    // before consulting its dedup cursor)
    if (validateProps != null) validateProps(m.props)
    // broker dedup (proto:577-579): a message at/below the topic's
    // recorded last-sequence frontier for its producer is a replay — skip
    if (m.producerName != null && m.sequenceId >= 0 &&
        dedupFrontier.get(m.producerName).exists(m.sequenceId <= _)) return
    if (m.producerName != null && m.sequenceId >= 0) {
      if (m.producerName.exists(c => c == '\n' || c == '\r'))
        throw new IllegalArgumentException(
          "graft-msglog: producer_name with line breaks is unwritable " +
            "(it would corrupt the line-oriented sequence sidecar)")
      seqMaxima.updateWith(m.producerName) {
        case Some(s) => Some(math.max(s, m.sequenceId))
        case None => Some(m.sequenceId)
      }
    }
    ensureOpen() // after the dedup skip: an all-replay partition writes no ledger
    if (maxFrameBytes > 0) MsgLogCodec.writeMessageAuto(out, m, codec, maxFrameBytes)
    else {
      batch += m
      if (batch.length >= batchSize) flushBatch()
    }
    n += 1
  }

  /** Max sequence_id per producer among WRITTEN messages — the ledger's
    * `.seq` sidecar, maintained on every write so a later
    * `dedupOnAppend` append can recover the frontier without decoding
    * the log.
    */
  private val seqMaxima = scala.collection.mutable.Map.empty[String, Long]

  override def commit(): WriterCommitMessage = {
    if (out == null) return MsgLogCommit("")
    flushBatch() // the final short frame
    out.close()
    val dest = Paths.get(dir, s"$stem${MsgLogCodec.Extension}")
    // the PUBLISH step retries under the producer policy: the rename +
    // sidecar re-run whole and are idempotent (REPLACE_EXISTING onto
    // our own name; the sidecar rewrites the same maxima) — the
    // reference's same-sequence-id resend, at the file layer. A
    // deterministic failure or an exhausted budget surfaces to Spark's
    // task retry, the outer idempotent layer.
    MsgLogRetry.retry(retrySend) {
      // idempotent within the loop: a re-attempt after the move landed
      // but the sidecar failed must not re-move the now-absent tmp
      if (Files.exists(tmp)) Durable.rename(tmp, dest)
      // sequence sidecar AFTER the ledger: a crash between the renames
      // leaves a sidecar-less ledger, which the frontier walk handles
      if (seqMaxima.nonEmpty) MsgLogSeqFrontier.write(dest, seqMaxima.toMap)
    }
    MsgLogCommit(dest.toString)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    Files.deleteIfExists(tmp)
  }

  override def close(): Unit = ()
}
