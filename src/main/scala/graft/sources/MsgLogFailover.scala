package graft.sources

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Durable

/** FAILOVER subscription over a msglog topic (reference
  * `CommandSubscribe.SubType.Failover`,
  * `/root/reference/src/PulsarApi.proto:301`, with `priority_level`
  * `proto:311` and the active-consumer-change notification
  * `CommandActiveConsumerChange`, `proto:518-521`): N consumers attach
  * to ONE named subscription; exactly one — the head of the
  * (priority asc, name asc) order, the broker's election rule — is
  * ACTIVE and receives everything; the rest are parked standbys. When
  * the active consumer goes away, its unacked in-flight deliveries
  * return to the subscription and the next consumer in the same total
  * order takes over, re-receiving them with `redelivery_count` bumped —
  * the failover handoff.
  *
  * What is faithful to the broker: the deterministic election, standby
  * parking (a standby's receive returns an empty batch, not an error),
  * preemption (a joining consumer that sorts ahead of the current
  * active takes over, and the displaced consumer's in-flight deliveries
  * are redelivered — the broker emits `CommandActiveConsumerChange` for
  * exactly this), and takeover redelivery on departure. Crash
  * DETECTION — the broker notices a dead TCP session — maps to an
  * optional liveness LEASE (`register(..., leaseMs)`): a leased
  * consumer must check in within every lease window — an explicit
  * [[heartbeat]], or any verb it issues (traffic on the connection IS
  * the keep-alive, reference `src/netflow/connection.rs:516-558`) — or
  * any verb on the subscription reaps it exactly like an
  * [[unregister]]: journaled leave, takeover redelivery, next consumer
  * in order activates. Consumers registered WITHOUT a lease keep the
  * explicit-unregister contract (deploy orchestration made an API
  * verb).
  *
  * Storage: a consumer-registry journal `reg-*.tsv` (rows
  * `action \t priority \t consumer`, action 1 = join / 0 = leave) in
  * the SAME subscription sidecar as the Shared claim/ack/release
  * journals — Failover reuses [[MsgLogShared]]'s delivery machinery
  * wholesale (claims, individual acks, releases), gating receive on
  * being the active consumer. One cursor format, two subscription
  * types, same single-issuer concurrency stance — and ONE monitor:
  * registry mutations synchronize on `MsgLogShared` (whose receive/ack/
  * unsubscribe already do), so a register racing an unsubscribe in the
  * same JVM serializes instead of check-then-act interleaving.
  */
object MsgLogFailover {

  private val Join = 1
  private val Leave = 0

  /** Register a consumer on the subscription; returns true iff it is now
    * the ACTIVE consumer. A join that sorts ahead of the current active
    * consumer PREEMPTS it: the displaced consumer's in-flight deliveries
    * are released for the new active to re-receive. Re-registering a
    * live name is a caller bug (the broker rejects duplicate consumer
    * names on a subscription).
    *
    * `leaseMs > 0` attaches a LIVENESS LEASE (the file analog of the
    * broker's TCP-session death signal): the consumer must check in
    * within every `leaseMs` window — [[heartbeat]], or any verb it
    * issues — or any later verb on the subscription reaps it, with the
    * same takeover redelivery as an explicit [[unregister]]. 0 (the
    * default) keeps the explicit-unregister-only behavior for deploy
    * orchestration that prefers it. */
  def register(topicDir: String, subscription: String, consumer: String,
      priority: Int = 0, leaseMs: Long = 0L): Boolean = MsgLogShared.synchronized {
    // '/' and '\' are banned unconditionally: the name becomes a lease
    // FILE name, and a path separator would let `lease-<name>` resolve
    // outside the subscription sidecar (delete/touch of foreign files)
    require(consumer.nonEmpty && !consumer.exists(c =>
        c == '\t' || c == '\n' || c == '/' || c == '\\'),
      s"graft-msglog: invalid consumer name '$consumer'")
    require(priority >= 0, s"graft-msglog: negative priority $priority")
    require(leaseMs >= 0, s"graft-msglog: negative leaseMs $leaseMs")
    reapExpired(topicDir, subscription)
    val dir = MsgLogShared.subDir(topicDir, subscription)
    if (registrants(dir).exists(_._1 == consumer))
      throw new ConsumerBusyException(
        s"graft-msglog: consumer '$consumer' already registered on '$subscription'")
    releaseOnActiveChange(topicDir, subscription) {
      MsgLogShared.appendJournal(dir, "reg", Seq(s"$Join\t$priority\t$consumer"))
      if (leaseMs > 0) {
        // a crash mid-write must not leave a truncated lease
        Durable.write(leasePath(dir, consumer),
          leaseMs.toString.getBytes(StandardCharsets.UTF_8))
      } else Files.deleteIfExists(leasePath(dir, consumer))
    }
    activeRaw(dir).contains(consumer)
  }

  /** Refresh `consumer`'s liveness lease (the keep-alive ping,
    * reference `CommandPing`/`CommandPong` keep-alive,
    * `src/netflow/connection.rs:516-558`). A caller bug on a consumer
    * without a lease or not registered. */
  def heartbeat(topicDir: String, subscription: String,
      consumer: String): Unit = MsgLogShared.synchronized {
    val dir = MsgLogShared.subDir(topicDir, subscription)
    val f = leasePath(dir, consumer)
    if (!registrants(dir).exists(_._1 == consumer) || !Files.exists(f))
      throw new IllegalArgumentException(
        s"graft-msglog: consumer '$consumer' holds no lease on '$subscription'")
    touchLease(dir, consumer)
  }

  /** Reap every leased registrant whose lease has expired — each is
    * journaled as a leave (durable — replays identically), with
    * takeover redelivery if it was the active consumer. An unreadable
    * lease file (crash debris) counts as expired: reaping it is the
    * self-healing path, and the consumer re-registers fresh. Runs at
    * the head of every public verb (the broker notices a dead session
    * when it next matters) and may be called directly by a watchdog;
    * `exempt` shields the consumer currently EXECUTING a verb (its
    * activity is the liveness proof). Returns the reaped names. */
  def reapExpired(topicDir: String, subscription: String,
      exempt: Option[String] = None): Seq[String] =
    MsgLogShared.synchronized {
      val dir = MsgLogShared.subDir(topicDir, subscription)
      val now = System.currentTimeMillis()
      val expired = registrants(dir).map(_._1)
        .filterNot(exempt.contains)
        .filter { name =>
          val f = leasePath(dir, name)
          Files.exists(f) && {
            val lease = new String(Files.readAllBytes(f),
              StandardCharsets.UTF_8).trim.toLongOption
            lease.forall(now - Files.getLastModifiedTime(f).toMillis > _)
          }
        }
      expired.foreach { name =>
        releaseOnActiveChange(topicDir, subscription) {
          MsgLogShared.appendJournal(dir, "reg", Seq(s"$Leave\t0\t$name"))
        }
        Files.deleteIfExists(leasePath(dir, name))
      }
      expired
    }

  private def leasePath(dir: Path, consumer: String): Path =
    dir.resolve(s"lease-$consumer")

  /** A verb from the consumer is itself a liveness signal: refresh its
    * lease timestamp if it holds one (content, even if corrupt, is left
    * for the reaper to judge — only the clock moves). */
  private def touchLease(dir: Path, consumer: String): Unit = {
    val f = leasePath(dir, consumer)
    if (Files.exists(f))
      Files.setLastModifiedTime(f,
        FileTime.fromMillis(System.currentTimeMillis()))
  }

  /** Unregister a consumer. If it was the active one, its in-flight
    * deliveries are released back to the subscription (the takeover
    * redelivery) and the next consumer in order becomes active; returns
    * the released count (0 for a standby departure). The caller is
    * exempt from the entry reap — a graceful leave must complete even
    * if its own lease just lapsed. */
  def unregister(topicDir: String, subscription: String,
      consumer: String): Int = MsgLogShared.synchronized {
    reapExpired(topicDir, subscription, exempt = Some(consumer))
    val dir = MsgLogShared.subDir(topicDir, subscription)
    if (!registrants(dir).exists(_._1 == consumer))
      throw new ConsumerNotFoundException(
        s"graft-msglog: consumer '$consumer' is not registered on '$subscription'")
    val released = releaseOnActiveChange(topicDir, subscription) {
      MsgLogShared.appendJournal(dir, "reg", Seq(s"$Leave\t0\t$consumer"))
    }
    Files.deleteIfExists(leasePath(dir, consumer))
    released
  }

  /** Live consumers in takeover order — (priority asc, name asc); the
    * head is the active consumer. Reaps expired leases first, so a
    * crashed leased consumer never blocks the view (or
    * `MsgLogShared.unsubscribe`, which consults it). */
  def consumers(topicDir: String, subscription: String): Seq[(String, Int)] =
    MsgLogShared.synchronized {
      reapExpired(topicDir, subscription)
      consumersRaw(MsgLogShared.subDir(topicDir, subscription))
    }

  /** The consumer currently receiving deliveries, if any. */
  def active(topicDir: String, subscription: String): Option[String] =
    MsgLogShared.synchronized {
      reapExpired(topicDir, subscription)
      activeRaw(MsgLogShared.subDir(topicDir, subscription))
    }

  private def consumersRaw(dir: Path): Seq[(String, Int)] =
    registrants(dir).sortBy { case (name, pri) => (pri, name) }

  private def activeRaw(dir: Path): Option[String] =
    consumersRaw(dir).headOption.map(_._1)

  /** Receive as `consumer`: the active consumer claims exactly like a
    * Shared receive (in-order, `redelivery_count = gen − 1`); a standby
    * gets an empty batch of the delivery schema — the broker parks
    * standbys, it does not error them. An unregistered name is a caller
    * bug. Receiving refreshes the caller's own lease (activity =
    * liveness) before expired peers are reaped. */
  def receive(spark: SparkSession, topicDir: String, subscription: String,
      consumer: String, max: Int): DataFrame = MsgLogShared.synchronized {
    val dir = MsgLogShared.subDir(topicDir, subscription)
    touchLease(dir, consumer)
    reapExpired(topicDir, subscription, exempt = Some(consumer))
    if (!registrants(dir).exists(_._1 == consumer))
      throw new ConsumerNotFoundException(
        s"graft-msglog: consumer '$consumer' is not registered on '$subscription'")
    if (activeRaw(dir).contains(consumer))
      MsgLogShared.receive(spark, topicDir, subscription, max)
    else {
      // parked standby: an empty LOCAL batch of the delivery schema —
      // N−1 standbys polling in a loop must not each pay a topic scan
      // for a guaranteed-empty result. The schema comes from the reader
      // (metadata only, no job), NOT the static envelope: a topic with a
      // registered `.schema` carries the typed `payload` column, and the
      // standby's batch must stay union-compatible with the active
      // consumer's deliveries. redelivery_count moves last — the claim's
      // gen override position in `deliver`.
      val base = spark.read.format("graft-msglog").load(topicDir).schema
      val delivery = org.apache.spark.sql.types.StructType(
        base.fields.filterNot(_.name == "redelivery_count") :+
          base("redelivery_count"))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), delivery)
    }
  }

  /** Run a registry mutation; if it changed WHO is active away from a
    * previously-active consumer, release that consumer's in-flight
    * deliveries (the broker redelivers unacked messages on every active
    * consumer change). Returns the released count. */
  private def releaseOnActiveChange(topicDir: String, subscription: String)(
      mutate: => Any): Int = {
    val dir = MsgLogShared.subDir(topicDir, subscription)
    val before = activeRaw(dir)
    mutate
    val after = activeRaw(dir)
    if (before.isDefined && before != after)
      MsgLogShared.redeliverUnacknowledged(topicDir, subscription)
    else 0
  }

  /** Replay the registry journal to the current registrant set, in join
    * order. */
  private def registrants(dir: Path): Seq[(String, Int)] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    MsgLogShared.readJournal3(dir, "reg").foreach {
      case (Join, pri, name) => live(name) = pri.toInt
      case (Leave, _, name) => live.remove(name)
      case (a, _, name) => throw new java.io.IOException(
        s"graft-msglog: corrupt registry action $a for '$name' in $dir")
    }
    live.toSeq
  }
}
