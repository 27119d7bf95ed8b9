package graft.sources

import java.nio.file.Path

/** Producer creation/handshake over a msglog topic (reference
  * `CommandProducer` → `CommandProducerSuccess`,
  * `/root/reference/src/PulsarApi.proto:422-444,573-578`; client flow
  * `src/entity/producer.rs:419-470`): a producer REGISTERS on the topic
  * before sending. The handshake's DATA semantics — the part that exists
  * without a broker socket — are reproduced faithfully:
  *
  *  - name assignment: a caller-supplied name is used as-is
  *    (`user_provided_producer_name`, proto:441-443); without one a
  *    unique name is GENERATED (proto:427-429) — the smallest
  *    `graft-prod-<n>` never opened under any session, so generated
  *    names are collision-free across sessions AND against
  *    user-supplied names in the same prefix space (the journal is the
  *    allocator).
  *  - reconnect epoch: re-registering a name after a close bumps
  *    `epoch` (proto:438-440) — the count of this name's prior sessions
  *    in the journal. Registering a name that is still LIVE is refused,
  *    as the broker refuses duplicate producers on a topic.
  *  - `last_sequence_id` (proto:575-577, "only meaningful if
  *    deduplication has been enabled"): the max sequence this producer
  *    name stored in ANY previous session, served from the SAME
  *    per-ledger seq-frontier sidecars the dedup append reads
  *    ([[MsgLogSeqFrontier.topicFrontier]]) — a resumed producer
  *    continues numbering at `lastSequenceId + 1` and `dedupOnAppend`
  *    drops any replayed tail, which is exactly the reference's
  *    exactly-once produce resume.
  *  - close: `CommandCloseProducer` journals the leave; the name can
  *    then re-register at the next epoch.
  *
  * Storage: a registration journal `<topic>/.producers/reg-*.tsv`
  * (rows `action \t name`, action 1 = open / 0 = close) — the
  * [[MsgLogFailover]] registry discipline: tmp + atomic rename, file
  * order = event order, single-issuer per JVM (verbs synchronize on
  * this object), sidecar invisible to scans.
  */
object MsgLogProducers {

  private val Open = 1
  private val Close = 0

  /** What `CommandProducerSuccess` carries back (proto:573-578). */
  case class ProducerSession(
      name: String,
      epoch: Long,
      lastSequenceId: Long,
      userProvidedName: Boolean)

  private def registryDir(topicDir: String): Path =
    java.nio.file.Paths.get(topicDir, ".producers")

  /** The registration journal in event order: its count-based file
    * names (see [[append]]) sort correctly across JVM restarts. */
  private def journal(topicDir: String): Seq[(Int, String)] =
    MsgLogShared.readJournal2(registryDir(topicDir), "reg")
      .map { case (action, name) => (action.toInt, name) }

  private def append(topicDir: String, action: Int, name: String): Unit = {
    require(!name.exists(c => c == '\n' || c == '\r' || c == '\t'),
      s"graft-msglog: producer name must not contain tabs/newlines: '$name'")
    // MsgLogShared's journal writer: count-based sequence prefix (replay
    // order survives restarts/reboots, unlike nanoTime names) + tmp +
    // atomic rename — one journal discipline across all sidecars
    MsgLogShared.appendJournal(registryDir(topicDir), "reg", Seq(s"$action\t$name"))
  }

  /** Currently-live producer names with their current epoch (session
    * count so far), in name order. */
  def active(topicDir: String): Seq[(String, Long)] = synchronized {
    val (live, epochs) = replay(topicDir)
    live.toSeq.sorted.map(n => n -> epochs(n))
  }

  private def replay(topicDir: String): (Set[String], Map[String, Long]) = {
    var live = Set.empty[String]
    var epochs = Map.empty[String, Long]
    journal(topicDir).foreach {
      case (Open, n) =>
        live += n
        epochs = epochs.updated(n, epochs.getOrElse(n, 0L) + 1)
      case (Close, n) => live -= n
      case (other, n) => throw new java.io.IOException(
        s"graft-msglog: corrupt producer journal action $other for '$n'")
    }
    (live, epochs)
  }

  /** The handshake: journal the session and return what the broker's
    * `ProducerSuccess` would carry. `name = None` → generated name. */
  def register(topicDir: String, name: Option[String] = None): ProducerSession =
    synchronized {
      val (live, epochs) = replay(topicDir)
      val resolved = name match {
        case Some(n) =>
          if (live(n)) throw new ProducerBusyException(
            s"graft-msglog: producer '$n' is already registered on this topic " +
              "(the broker refuses duplicate producers; close it first)")
          n
        case None =>
          // smallest id never opened under ANY session — a user-supplied
          // "graft-prod-<k>" (e.g. resuming a generated name explicitly)
          // can neither collide with nor inflate the generator
          Iterator.from(0).map(i => s"graft-prod-$i")
            .find(c => !epochs.contains(c)).get
      }
      append(topicDir, Open, resolved)
      ProducerSession(
        name = resolved,
        epoch = epochs.getOrElse(resolved, 0L), // prior sessions (0 = first)
        lastSequenceId =
          MsgLogSeqFrontier.topicFrontier(topicDir).getOrElse(resolved, -1L),
        userProvidedName = name.isDefined)
    }

  /** `CommandCloseProducer`: journal the leave; unknown/closed names are
    * a caller bug, surfaced loudly. */
  def close(topicDir: String, name: String): Unit = synchronized {
    val (live, _) = replay(topicDir)
    if (!live(name)) throw new IllegalStateException(
      s"graft-msglog: producer '$name' is not registered on this topic")
    append(topicDir, Close, name)
  }
}
