package graft.util

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The serving registration of ONE epoch-keyed overlay root per corpus
  * dir — the union side of an LSM read (ANN segments over the IVF
  * index, cluster deltas over the cross-modal assignment). The
  * registration of record is the (corpus, `family`) entry of the
  * [[ServingManifest]] sidecar — `rootKey` → the root dir, `rowsKey` →
  * the overlay's row count, plus `lastEpoch` (the replay high-water
  * mark) and `epochs` (the epoch-dir gauge) — so a restarted JVM, or a
  * second serving JVM on the host, resolves the same overlay.
  *
  * Every write that concerns a registration is CONDITIONAL on the root
  * it observed, under ONE manifest lock: a get-then-remove under two
  * locks deletes a registration another JVM installed in between.
  * Epoch appends count only when their epoch id exceeds the high-water
  * mark, so a foreachBatch replay (epoch re-run after a lost checkpoint
  * commit, idempotent sink overwrite) never double-counts. Roots must be
  * local dirs: liveness is a `java.nio` existence check, and a dead
  * root (a dead JVM's swept temp dir) heals out on the next resolve.
  *
  * `fastPath` keeps an in-JVM root per corpus in front of the manifest
  * for hot serve reads; without it every resolve reads the manifest.
  */
final class OverlayRegistration(family: String, tables: Seq[String], rootKey: String,
    rowsKey: String, extraKeys: Seq[String] = Nil, fastPath: Boolean = false) {

  private val live = new ConcurrentHashMap[String, String]()

  /** Last epoch count written per root — the steady-state skip for the
    * per-micro-batch gauge write (`put` returns null on first sight,
    * forcing the one post-restart write). */
  private val epochGauge = new ConcurrentHashMap[String, Integer]()

  /** Publish `root` as the registration of record, replacing any other. */
  def register(sfDir: String, root: String, rows: Long,
      extra: Map[String, String] = Map.empty): Unit = {
    // the fresh entry carries no "epochs" gauge — re-seed it next turn
    epochGauge.remove(root)
    if (fastPath) live.put(sfDir, root)
    ServingManifest.put(sfDir, family, tables,
      extra + (rootKey -> root) + (rowsKey -> rows.toString))
  }

  /** Bump the registered row count after the epoch write of `epochId` —
    * false (no-op) when `root` is not the registration of record or the
    * epoch was already counted, so callers emit it unconditionally. */
  def noteAppend(sfDir: String, root: String, rows: Long, epochId: Long): Boolean =
    ServingManifest.addCounterIfNewEpoch(sfDir, family, tables,
      rootKey, root, rowsKey, rows, "lastEpoch", epochId)

  def entries(sfDir: String): Map[String, String] =
    ServingManifest.get(sfDir, family, tables)

  /** The registration's entries when its root dir is live — ONE
    * manifest read, so liveness and counters come from one snapshot. */
  def snapshot(sfDir: String): Option[Map[String, String]] =
    Some(entries(sfDir)).filter(_.get(rootKey).exists(isLive))

  /** The root serving for `sfDir`, self-healing (see [[healed]]). */
  def resolve(sfDir: String): Option[String] =
    Option(live.get(sfDir)).orElse(healed(sfDir, entries(sfDir).get(rootKey)))

  /** `observed` if its dir is live; a dead observed root is retired —
    * conditional on exactly that root, so a registration another JVM
    * installed after the read survives the heal. */
  private[graft] def healed(sfDir: String, observed: Option[String]): Option[String] =
    observed.flatMap { r =>
      if (isLive(r)) { if (fastPath) live.put(sfDir, r); Some(r) }
      else { retire(sfDir, r); None }
    }

  /** Retire the registration only if it still names `root`, its
    * measurement keys in the same atomic write. */
  def retire(sfDir: String, root: String): Boolean = {
    live.remove(sfDir, root)
    ServingManifest.removeIf(sfDir, family, tables, rootKey, root,
      alsoRemove = Seq(rowsKey, "lastEpoch", "epochs") ++ extraKeys)
  }

  /** Retire any registration — hermeticity drop at startup and in tests. */
  def drop(sfDir: String): Unit = {
    live.remove(sfDir)
    ServingManifest.remove(sfDir, family)
  }

  /** TEST-ONLY simulated restart: forget the in-JVM fast path. */
  private[graft] def forget(): Unit = live.clear()

  /** Record a listing of `root`'s epoch ids as `gauge` and — only when
    * the count changed — as the registration's `epochs` key, so the
    * un-triggered per-micro-batch turn takes no OS file lock. The
    * `observe` hook of [[EpochDirs.fold]]. */
  def noteEpochs(sfDir: String, root: String, gauge: String)(es: Seq[Long]): Unit = {
    graft.ObservedMetrics.recordGauge(gauge, es.size.toDouble)
    val prev = epochGauge.put(root, es.size)
    if (prev == null || prev.intValue != es.size)
      ServingManifest.setIf(sfDir, family, tables, rootKey, root,
        Map("epochs" -> es.size.toString))
  }

  /** A fold's closing write: the post-fold physical row and epoch
    * counts, in one conditional write. */
  def remeasure(sfDir: String, root: String, rows: Long, epochs: Int): Boolean = {
    epochGauge.put(root, epochs)
    ServingManifest.setIf(sfDir, family, tables, rootKey, root,
      Map(rowsKey -> rows.toString, "epochs" -> epochs.toString))
  }

  private def isLive(root: String): Boolean = Files.isDirectory(Paths.get(root))
}
