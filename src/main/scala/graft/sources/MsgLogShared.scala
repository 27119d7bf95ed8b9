package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Durable

/** SHARED subscription over a msglog topic (reference `CommandSubscribe.
  * SubType.Shared`, `/root/reference/src/PulsarApi.proto:298-306`):
  * N competing consumers drain ONE named subscription — every message is
  * delivered to exactly one of them, acknowledged INDIVIDUALLY
  * (`CommandAck.AckType.Individual` + per-id `ack_set`,
  * `proto:479-494,57`), and an unacked message returns to the
  * subscription for redelivery with its `redelivery_count` bumped
  * (`CommandRedeliverUnacknowledgedMessages`, `proto:562-565`).
  *
  * File-backed model: subscription state is an append-only journal
  * sidecar `<topic>/.subs/<subscription>/` — the same atomic-rename
  * journal discipline as [[MsgLogNacks]] (which covers the NACK path for
  * exclusive streaming readers; this covers the competing-consumer
  * work-queue path). Three command kinds, one immutable file appended
  * per call:
  *
  *  - `claim-*.tsv` (`gen\tentry\tledger`): a consumer took delivery of
  *    an entry as its `gen`-th delivery — the dispatch record.
  *  - `ack-*.tsv` (`entry\tledger`): individual ack — the entry leaves
  *    the subscription forever (the `ack_set` analog).
  *  - `rel-*.tsv` (`gen\tentry\tledger`): delivery `gen` was given back
  *    (`redeliverUnacknowledged`) — the entry becomes claimable again at
  *    `gen+1`.
  *
  * An entry is AVAILABLE iff it is not acked and its latest claim (if
  * any) has been released. [[receive]] claims the first `max` available
  * entries in deterministic (ledger name, entry) order and returns their
  * rows with `redelivery_count = gen − 1` — so two consumers alternately
  * receiving drain the topic in disjoint batches (competing consumers),
  * and a released entry re-delivers with `redelivery_count + 1`.
  *
  * Concurrency stance — same as [[MsgLogNacks.redeliver]]'s
  * single-nacker premise: commands are serialized per JVM
  * (`synchronized`) and atomically published per call; two PROCESSES
  * claiming concurrently could double-deliver a message (at-least-once,
  * exactly what a broker-less shared queue can promise). The reference
  * broker serializes dispatch per subscription on one connection; a
  * single driver JVM is that serialization point here.
  *
  * Scale: journals are bounded by delivered-message count, read
  * driver-side like every catalog/offset surface (the broker-side cursor
  * cost); row delivery is a broadcast semi-join of the claimed id batch
  * (≤ `max` rows) against the topic scan — the corpus is never collected.
  *
  * `Failover` (`proto:301`) builds on this same sidecar — a consumer
  * registry journal plus deterministic election, see [[MsgLogFailover]].
  * No `subscriptionMode` SCAN OPTION exists for either type,
  * deliberately: a Spark `Scan` can be planned and re-planned any number
  * of times per query, so a side-effecting claim-on-scan would
  * double-claim; receive/ack are imperative consumer verbs, matching the
  * reference's command surface.
  */
object MsgLogShared {

  val DirName = ".subs"

  def subDir(topicDir: String, subscription: String): Path = {
    require(subscription.nonEmpty && !subscription.contains('/') &&
      !subscription.startsWith("."),
      s"graft-msglog: invalid subscription name '$subscription'")
    Paths.get(topicDir, DirName, subscription)
  }

  /** One entry's subscription state: latest claim generation (0 = never
    * claimed), latest released generation, acked flag. */
  private case class EntryState(gen: Int, released: Int, acked: Boolean) {
    def available: Boolean = !acked && released >= gen
  }

  private[sources] def journalFiles(dir: Path, prefix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(prefix) && n.endsWith(".tsv")
        }
        .sortBy(_.getFileName.toString)
      finally s.close()
    }

  private[sources] def appendJournal(dir: Path, prefix: String, lines: Seq[String]): Path = {
    Files.createDirectories(dir)
    val seq = journalFiles(dir, prefix).size
    val name = f"$prefix-$seq%06d-${java.util.UUID.randomUUID().toString.take(8)}.tsv"
    val target = dir.resolve(name)
    Durable.write(target, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    target
  }

  /** The tab-separated rows of one journal file, each split into `n`
    * columns and decoded by `row`; a short or undecodable line fails
    * naming the file. */
  private def parse[T](p: Path, n: Int)(row: Array[String] => T): Seq[T] =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { line =>
        def corrupt = new java.io.IOException(s"graft-msglog: corrupt journal $p: '$line'")
        val c = line.split("\t", n)
        if (c.length < n) throw corrupt
        try row(c) catch { case _: NumberFormatException => throw corrupt }
      }.toSeq

  private def parse2(p: Path): Seq[(Long, String)] =
    parse(p, 2)(c => (c(0).toLong, c(1)))

  private[sources] def parse3(p: Path): Seq[(Int, Long, String)] =
    parse(p, 3)(c => (c(0).toInt, c(1).toLong, c(2)))

  /** Parsed journal contents memoized by absolute path: journal files
    * are IMMUTABLE once atomically renamed in (the [[MsgLogNacks]]
    * `countMemo` precedent), so a long-lived subscription's state
    * reconstruction re-parses only files it has never seen — without
    * this every receive/ack re-reads the subscription's whole delivery
    * history. */
  private val parse2Memo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String)]]()
  private val parse3Memo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Long, String)]]()

  /** All rows of a 3-column journal family in file order (memoized per
    * immutable file). Shared with [[MsgLogFailover]]'s registry. */
  private[sources] def readJournal3(dir: Path, prefix: String): Seq[(Int, Long, String)] =
    journalFiles(dir, prefix).flatMap(p =>
      parse3Memo.computeIfAbsent(p.toAbsolutePath.toString, _ => parse3(p)))

  private[sources] def readJournal2(dir: Path, prefix: String): Seq[(Long, String)] =
    journalFiles(dir, prefix).flatMap(p =>
      parse2Memo.computeIfAbsent(p.toAbsolutePath.toString, _ => parse2(p)))

  /** Reconstruct per-entry state from the journals (one driver pass,
    * bounded by the subscription's delivery history; parses each
    * immutable file once per JVM). */
  private def readState(dir: Path): Map[(String, Long), EntryState] = {
    val state = scala.collection.mutable.Map.empty[(String, Long), EntryState]
    readJournal3(dir, "claim").foreach { case (g, e, name) =>
      val k = (name, e)
      val s = state.getOrElse(k, EntryState(0, 0, acked = false))
      state(k) = s.copy(gen = math.max(s.gen, g))
    }
    readJournal3(dir, "rel").foreach { case (g, e, name) =>
      val k = (name, e)
      val s = state.getOrElse(k, EntryState(0, 0, acked = false))
      state(k) = s.copy(released = math.max(s.released, g))
    }
    readJournal2(dir, "ack").foreach { case (e, name) =>
      val k = (name, e)
      val s = state.getOrElse(k, EntryState(0, 0, acked = false))
      state(k) = s.copy(acked = true)
    }
    state.toMap
  }

  /** Receive up to `max` messages from the subscription: claim the first
    * available entries in (ledger name, entry) order, journal the claim,
    * and return their rows with `redelivery_count = gen − 1`. An empty
    * claim returns an empty DataFrame without writing a journal file.
    */
  def receive(spark: SparkSession, topicDir: String, subscription: String,
      max: Int): DataFrame = synchronized {
    require(max > 0, s"graft-msglog: receive max must be positive, got $max")
    val dir = subDir(topicDir, subscription)
    val state = readState(dir)
    val claims = MsgLogSource.ledgerFiles(topicDir).iterator.flatMap { p =>
      val name = p.getFileName.toString
      val n = MsgLogCodec.countEntries(p)
      (0L until n).iterator.collect {
        case e if state.getOrElse((name, e), EntryState(0, 0, acked = false)).available =>
          val gen = state.getOrElse((name, e), EntryState(0, 0, acked = false)).gen + 1
          (gen, e, name)
      }
    }.take(max).toSeq
    if (claims.nonEmpty)
      appendJournal(dir, "claim", claims.map { case (g, e, n) => s"$g\t$e\t$n" })
    deliver(spark, topicDir, claims)
  }

  /** The delivered rows for a claim batch: broadcast semi-join of the
    * (≤ max)-row id list against the topic scan, `redelivery_count`
    * overridden to the claim's `gen − 1` (the scan's own column counts
    * nack-journal redeliveries, a different mechanism). */
  private[sources] def deliver(spark: SparkSession, topicDir: String,
      claims: Seq[(Int, Long, String)]): DataFrame = {
    import spark.implicits._
    val scan = spark.read.format("graft-msglog").load(topicDir)
    val ids = claims
      .map { case (g, e, name) => (MsgLogSource.ledgerId(name), e, g - 1) }
      .toDF("s_ledger", "s_entry", "s_redelivery")
    val cols = scan.columns.filterNot(_ == "redelivery_count").map(col) :+
      col("s_redelivery").as("redelivery_count")
    scan.join(broadcast(ids),
        col("ledger") === col("s_ledger") && col("entry") === col("s_entry"))
      .select(cols.toIndexedSeq: _*)
  }

  /** Individual ack (`AckType.Individual`): the entries leave the
    * subscription. Ids are `(ledger, entry)` as read back from
    * [[receive]]; unknown ids fail loudly, like [[MsgLogNacks.redeliver]].
    */
  def ack(topicDir: String, subscription: String, ids: Seq[(Long, Long)]): Unit = synchronized {
    require(ids.nonEmpty, "graft-msglog: ack of zero message ids")
    val byId = MsgLogSource.ledgerFiles(topicDir)
      .map(p => MsgLogSource.ledgerId(p.getFileName.toString) -> p).toMap
    val lines = ids.map { case (ledger, entry) =>
      val p = byId.getOrElse(ledger, throw new IllegalArgumentException(
        s"graft-msglog: ack of unknown ledger id $ledger in $topicDir"))
      val name = p.getFileName.toString
      val count = MsgLogCodec.countEntries(p)
      if (entry < 0 || entry >= count)
        throw new IllegalArgumentException(
          s"graft-msglog: ack of entry $entry outside ledger $name (0..${count - 1})")
      s"$entry\t$name"
    }
    appendJournal(subDir(topicDir, subscription), "ack", lines)
    ()
  }

  /** `CommandRedeliverUnacknowledgedMessages`: release every in-flight
    * (claimed, unacked, unreleased) delivery back to the subscription —
    * the next [[receive]] re-claims each at `gen + 1`, i.e. with
    * `redelivery_count` incremented. Returns how many entries were
    * released. */
  def redeliverUnacknowledged(topicDir: String, subscription: String): Int = synchronized {
    val dir = subDir(topicDir, subscription)
    val inflight = readState(dir).toSeq.collect {
      case ((name, e), s) if !s.acked && s.gen > s.released => (s.gen, e, name)
    }
    if (inflight.nonEmpty)
      appendJournal(dir, "rel",
        inflight.map { case (g, e, n) => s"$g\t$e\t$n" })
    inflight.size
  }

  /** `CommandUnsubscribe` (reference `proto:531-536`): drop the
    * subscription's cursor — the journal sidecar is deleted, so the name
    * becomes a FRESH subscription whose next receive sees the whole
    * topic again at `redelivery_count` 0. Refused while Failover
    * consumers are registered on it (the broker refuses unsubscribe on a
    * subscription with connected consumers); Shared receives carry no
    * registration, matching the reference where unsubscribe is issued by
    * the last detaching consumer. Memoized journal parses stay valid:
    * a recreated subscription's files get fresh uuid-suffixed names, so
    * no stale memo entry can be keyed by a new file's path. */
  def unsubscribe(topicDir: String, subscription: String): Unit = synchronized {
    val dir = subDir(topicDir, subscription)
    if (!Files.isDirectory(dir))
      throw new IllegalArgumentException(
        s"graft-msglog: unknown subscription '$subscription' on $topicDir")
    if (MsgLogFailover.consumers(topicDir, subscription).nonEmpty)
      throw new IllegalStateException(
        s"graft-msglog: subscription '$subscription' still has registered consumers")
    val s = Files.list(dir)
    try s.iterator().asScala.foreach { p =>
      // evict the parsed-journal memo entries with the files — a driver
      // cycling subscribe→consume→unsubscribe must not retain the parsed
      // history of every deleted subscription for the JVM's lifetime
      val key = p.toAbsolutePath.toString
      parse2Memo.remove(key)
      parse3Memo.remove(key)
      Files.delete(p)
    } finally s.close()
    Files.delete(dir)
  }

  /** Subscription backlog probe (the `CommandConsumerStats.msgBacklog`
    * analog for a shared subscription): (acked, in-flight, available)
    * entry counts against the topic's live ledgers. */
  def stats(topicDir: String, subscription: String): (Long, Long, Long) = {
    val state = readState(subDir(topicDir, subscription))
    val total = MsgLogSource.ledgerFiles(topicDir)
      .map(p => MsgLogCodec.countEntries(p)).sum
    val acked = state.count(_._2.acked).toLong
    val inflight = state.count { case (_, s) => !s.acked && s.gen > s.released }.toLong
    (acked, inflight, total - acked - inflight)
  }
}
