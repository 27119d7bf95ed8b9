package graft.util

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Durable serving-registry sidecar — the persisted form of the
  * JVM-local registries that round 13 flagged as restart-blind
  * (`liveSegmentRoots`, the append/staleness counters): a restarted JVM
  * (or a second serving JVM on the same host) must resolve the same
  * base ∪ segments view and the same staleness bookkeeping, or the LSM
  * overlay silently un-publishes on every restart.
  *
  * One small `key=value` properties file per (corpus dir, family) under
  * a deterministic sidecar root — the corpus dir itself is read-only,
  * so the sidecar lives beside the staged artifacts in the system temp
  * tree, keyed by an MD5 of the corpus path. Writes go through
  * [[Durable.write]] (temp sibling + atomic rename): a reader never
  * observes a torn manifest. Every entry map carries the
  * corpus [[CorpusStamp]] it was written under; a loader drops entries
  * from a REWRITTEN corpus (stamp mismatch) the same way the staged
  * memos re-derive. Readers additionally ignore registrations whose
  * target paths no longer exist (a retired temp dir from a dead JVM) —
  * self-healing, never stale.
  */
object ServingManifest {

  private val StampKey = "__corpus_stamp"

  /** The families whose entry KEYS are artifact directories (append
    * counters, staged base-row measurements) — the only families the
    * dead-dir sweep in [[getUnlocked]] applies to. A family registered
    * here states "every '/'-prefixed key of mine names a local dir that
    * exists while the entry is live". The `staged_base_*` prefix covers
    * [[StagedArtifacts]]' per-table-set base-row families. */
  private def isDirKeyedFamily(family: String): Boolean =
    family.startsWith("staged_base") ||
      Set("ann_appends", "text_appends", "media_appends").contains(family)

  /** The sidecar root. CROSS-PROCESS read-modify-write safety: every
    * public operation holds this root's [[Durable.withDirLock]] for its
    * whole read/modify/write, so two serving JVMs on one host can both
    * append/register without losing updates (without this, both read
    * counter=N under their own in-process locks and both write N+1).
    * Operations are rare (registration, append bookkeeping) and tiny,
    * so one coarse lock is simpler than per-file striping and obviously
    * correct. */
  private def rootDir: Path = Durable.sidecarRoot("graft_serving")

  private def fileFor(sfDir: String, family: String): Path =
    rootDir.resolve(s"${Durable.md5Hex(sfDir)}_$family.props")

  /** Keys and values are percent-encoded on write ('%', '=', newlines):
    * counter keys are filesystem paths, and a path containing '=' (a
    * partition-style tmpdir) would otherwise corrupt the first-'='
    * split on read-back (ADVICE r14). Undecorated old entries decode
    * unchanged (no '%' → identity). */
  private def enc(s: String): String = s
    .replace("%", "%25").replace("=", "%3D")
    .replace("\n", "%0A").replace("\r", "%0D")

  private def dec(s: String): String = s
    .replace("%0D", "\r").replace("%0A", "\n")
    .replace("%3D", "=").replace("%25", "%")

  private def putUnlocked(sfDir: String, family: String, tables: Seq[String],
      entries: Map[String, String]): Unit = {
    val f = fileFor(sfDir, family)
    val stamped = entries + (StampKey -> CorpusStamp.of(sfDir, tables).toString)
    val body = stamped.toSeq.sorted
      .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("", "\n", "\n")
    Durable.write(f, body.getBytes(StandardCharsets.UTF_8))
  }

  private def getUnlocked(sfDir: String, family: String,
      tables: Seq[String]): Map[String, String] = {
    val f = fileFor(sfDir, family)
    if (!Files.isRegularFile(f)) Map.empty
    else {
      val m = Files.readString(f).linesIterator
        .filter(_.contains("="))
        .map { l =>
          val i = l.indexOf('=')
          dec(l.substring(0, i)) -> dec(l.substring(i + 1))
        }
        .toMap
      if (!m.get(StampKey).contains(CorpusStamp.of(sfDir, tables).toString))
        Map.empty
      else {
        val live = m - StampKey
        // dead-dir counter sweep (r14 verdict): registrations self-heal
        // when their target dirs vanish, but counters keyed by a dead
        // JVM's retired index dir lingered in the props file forever.
        // Path-shaped keys whose dir no longer exists are dropped and
        // the file rewritten in place — every caller holds the file
        // lock for its whole operation, so the rewrite is safe here.
        // Scoped to the families whose KEYS are artifact dirs (ADVICE
        // r15): in any other family a '/'-prefixed key is a VALUE-like
        // registration detail, and sweeping it because its path doesn't
        // exist YET (a future registration keyed by a not-yet-created
        // or remote path) would silently drop it on first read.
        val dead =
          if (!isDirKeyedFamily(family)) Nil
          else live.keysIterator.filter(k =>
            k.startsWith("/") && !Files.exists(Paths.get(k))).toSeq
        if (dead.isEmpty) live
        else {
          val swept = live -- dead
          putUnlocked(sfDir, family, tables, swept)
          swept
        }
      }
    }
  }

  /** Replace the (sfDir, family) manifest with `entries`, stamped under
    * the named fixture tables — atomic rename, never a torn file. */
  def put(sfDir: String, family: String, tables: Seq[String],
      entries: Map[String, String]): Unit =
    Durable.withDirLock(rootDir) { putUnlocked(sfDir, family, tables, entries) }

  /** The (sfDir, family) entries, or empty when absent or written under
    * a DIFFERENT corpus stamp (the corpus was rewritten in place — the
    * registration describes artifacts of a corpus that no longer
    * exists). */
  def get(sfDir: String, family: String, tables: Seq[String]): Map[String, String] =
    Durable.withDirLock(rootDir) { getUnlocked(sfDir, family, tables) }

  def remove(sfDir: String, family: String): Unit = Durable.withDirLock(rootDir) {
    Files.deleteIfExists(fileFor(sfDir, family))
    ()
  }

  /** Compare-and-delete under ONE file lock: remove `key` only if its
    * current value is `expected` — plus `alsoRemove` companions in the
    * SAME write — and report whether it was removed. The
    * conditional-retirement primitive (r14 verdict #1): a caller doing
    * get-then-remove under two separate locks loses a registration a
    * second JVM installs between them; companion entries (a
    * registration's measurement keys) must ride in the same atomic
    * write or the race just moves one key over. */
  def removeIf(sfDir: String, family: String, tables: Seq[String],
      key: String, expected: String,
      alsoRemove: Seq[String] = Nil): Boolean = Durable.withDirLock(rootDir) {
    val cur = getUnlocked(sfDir, family, tables)
    if (!cur.get(key).contains(expected)) false
    else {
      putUnlocked(sfDir, family, tables, cur - key -- alsoRemove)
      true
    }
  }

  /** Drop `key` from EVERY family file of this corpus, raw (no stamp
    * validation — the stamp and all other entries are preserved
    * byte-for-byte): the install-time reset for dir-keyed measurement
    * entries when a rebuilt artifact lands on a previously-used dir
    * name before any stamped read could sweep the dead key. */
  private[graft] def removeKeyAllFamilies(sfDir: String, key: String): Unit =
    Durable.withDirLock(rootDir) {
      val md = Durable.md5Hex(sfDir)
      val encKey = enc(key) + "="
      val s = Files.list(rootDir)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.startsWith(s"${md}_") &&
              f.getFileName.toString.endsWith(".props")) {
            val lines = Files.readString(f).linesIterator.toSeq
            if (lines.exists(_.startsWith(encKey)))
              Durable.write(f, lines.filterNot(_.startsWith(encKey))
                .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
          }
        }
      } finally s.close()
    }

  /** Add `delta` to the (sfDir, family, key) counter and return the new
    * value — the persisted append/staleness bookkeeping, read-modify-
    * written under the cross-process lock. Counters are keyed by the
    * artifact dir they count into: a rebuilt artifact gets a fresh dir,
    * so its counter correctly restarts at zero. */
  def addCounter(sfDir: String, family: String, tables: Seq[String],
      key: String, delta: Long): Long = Durable.withDirLock(rootDir) {
    val cur = getUnlocked(sfDir, family, tables)
    val next = cur.getOrElse(key, "0").toLong + delta
    putUnlocked(sfDir, family, tables, cur + (key -> next.toString))
    next
  }

  /** Add `delta` to the (sfDir, family, key) counter ONLY IF `condKey`
    * currently holds `expected` AND `epochId` is strictly newer than the
    * registration's high-water mark (`epochKey`, advanced in the same
    * write) — one lock for the whole check-and-bump, the [[removeIf]]
    * discipline for counter writes: an appender bumping a
    * REGISTRATION's measurement (segment rows, delta rows) must not bump
    * a registration some other JVM swapped in between a get and an
    * addCounter, and must no-op cleanly when the registration was
    * retired. The epoch filter makes it REPLAY-IDEMPOTENT: a
    * foreachBatch replay — epoch written, checkpoint commit lost, epoch
    * re-run — overwrites its own sink dir (no net new rows) but would
    * re-bump a plain counter and overstate staleness until a spurious
    * compaction (review r16). Streaming epoch ids are monotone per
    * query and across checkpointed restarts, which is what makes the
    * high-water mark a correct replay filter. */
  def addCounterIfNewEpoch(sfDir: String, family: String, tables: Seq[String],
      condKey: String, expected: String,
      key: String, delta: Long,
      epochKey: String, epochId: Long): Boolean = Durable.withDirLock(rootDir) {
    val cur = getUnlocked(sfDir, family, tables)
    val seen = cur.get(epochKey).map(_.toLong).getOrElse(-1L)
    if (!cur.get(condKey).contains(expected) || epochId <= seen) false
    else {
      val next = cur.getOrElse(key, "0").toLong + delta
      putUnlocked(sfDir, family, tables,
        cur + (key -> next.toString) + (epochKey -> epochId.toString))
      true
    }
  }

  /** SET one entry (read-modify-write under the lock), leaving the
    * family's other entries in place — for values that are measurements
    * of a fresh artifact (base row counts), where add-semantics would
    * accumulate across a delete-and-rebuild landing on the same dir
    * name. */
  def set(sfDir: String, family: String, tables: Seq[String],
      key: String, value: String): Unit = Durable.withDirLock(rootDir) {
    putUnlocked(sfDir, family, tables,
      getUnlocked(sfDir, family, tables) + (key -> value))
  }

  /** Conditional multi-entry SET under ONE lock: apply every pair of
    * `updates` only if `condKey` currently holds `expected`, and report
    * whether it applied — the compaction-bookkeeping primitive: a
    * compactor that folded a registered overlay's epoch dirs must
    * rewrite that registration's measurements (the delta-row counter
    * shrinks to the collapsed count, the epoch gauge drops) in one
    * atomic write, and must no-op cleanly against a registration
    * another JVM swapped in meanwhile (the [[removeIf]] race class). */
  def setIf(sfDir: String, family: String, tables: Seq[String],
      condKey: String, expected: String,
      updates: Map[String, String]): Boolean = Durable.withDirLock(rootDir) {
    val cur = getUnlocked(sfDir, family, tables)
    if (!cur.get(condKey).contains(expected)) false
    else {
      // skip the rewrite when every update is already in place — setIf
      // runs on per-micro-batch gauge paths where the value is usually
      // unchanged, and an idempotent call should not churn the file
      if (!updates.forall { case (k, v) => cur.get(k).contains(v) })
        putUnlocked(sfDir, family, tables, cur ++ updates)
      true
    }
  }

  def getCounter(sfDir: String, family: String, tables: Seq[String],
      key: String): Long =
    get(sfDir, family, tables).get(key).map(_.toLong).getOrElse(0L)

  def removeCounter(sfDir: String, family: String, tables: Seq[String],
      key: String): Unit = Durable.withDirLock(rootDir) {
    val cur = getUnlocked(sfDir, family, tables)
    if (cur.contains(key)) putUnlocked(sfDir, family, tables, cur - key)
  }
}
