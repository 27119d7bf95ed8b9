package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** The one place the engine publishes durable local state: subscription
  * leases, registration and nack journals, the schema registry, the
  * producer sequence-id sidecars, transaction commit markers, message-log
  * ledgers, the serving manifest, staged index generations and epoch-keyed
  * overlay dirs. The exactly-once argument (a replayable source plus an
  * idempotent sink) needs every one of these publishes to be atomic, so
  * the rules live here once:
  *
  *  - **Publish by rename.** New content lands under a temp name and
  *    becomes visible through one `rename(2)` ([[rename]]). A reader sees
  *    the old bytes or the new ones, never a torn file or a half-built
  *    dir. The temp name is a hidden sibling (`.<name>.tmp` for
  *    [[write]]; the caller's own hidden scratch for dirs), so the rename
  *    stays inside one directory of one file system, and the leading dot
  *    keeps every Spark listing from reading the temp.
  *  - **Rename onto your own name or onto a free name.** On Linux the
  *    rename replaces a file or an EMPTY dir and fails on a non-empty
  *    dir. Every caller renames either onto a name only it writes (a
  *    ledger, a sidecar, a marker, a manifest file under the dir lock) or
  *    onto a name that does not exist yet (an epoch dir, a generation, a
  *    part file) — keep it that way.
  *  - **Crash model: the process dies, the kernel does not.** Nothing
  *    here fsyncs; the page cache outlives a killed JVM. A crash leaves
  *    at most a stale temp, which the next [[write]] of the same target
  *    overwrites or the owner sweeps (`MsgLogWrite.vacuum`, the fold
  *    recovery in [[EpochDirs]], the staged-root sweep in
  *    [[StagedArtifacts]]).
  *  - **Cross-process read-modify-write holds [[withDirLock]].** A
  *    publish alone is atomic, but read-then-write is not: two JVMs that
  *    both read counter N both write N+1. Every read-modify-write of a
  *    shared file runs under the lock of the root that holds it.
  */
object Durable {

  /** Replace `target` with `bytes`: write the hidden sibling
    * `.<name>.tmp`, then [[rename]] it over `target`. The tmp name is
    * fixed per target, so two writers of one target must be serialized
    * by their caller (a name only one writer owns, or [[withDirLock]]). */
  def write(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, bytes)
    rename(tmp, target)
  }

  /** Atomically move `src` to `dst` on one local file system — one
    * `rename(2)`, no copy fallback and no existence probe. `dst` must be
    * the caller's own name or a name that does not exist. */
  def rename(src: Path, dst: Path): Unit = {
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** One monitor per lock root: a JVM throws when one process locks the
    * same file twice, so in-JVM callers queue on the monitor and only
    * the holder takes the OS lock. */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[Path, Object]()

  /** Run `body` holding an exclusive OS file lock on `root/.lock`, which
    * serializes it against every other thread and process using the
    * same root. Locks on different roots nest freely (the staged-index
    * publish takes the serving manifest's lock inside its own). */
  def withDirLock[T](root: Path)(body: => T): T =
    monitors.computeIfAbsent(root.toAbsolutePath.normalize, _ => new Object)
      .synchronized {
        val ch = java.nio.channels.FileChannel.open(root.resolve(".lock"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val l = ch.lock()
          try body finally l.release()
        } finally ch.close()
      }

  /** The host-wide sidecar root `name` under `java.io.tmpdir`, created
    * if absent. The corpus dirs are read-only, so durable state derived
    * from a corpus lives here, keyed by [[md5Hex]] of the corpus path. */
  def sidecarRoot(name: String): Path = {
    val d = Paths.get(System.getProperty("java.io.tmpdir"), name)
    Files.createDirectories(d)
    d
  }

  /** Lower-case hex MD5 of `s` — the corpus-path key of sidecar names. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}
