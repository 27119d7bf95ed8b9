package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One per-corpus-snapshot staged artifact: its fixture `tables` (the
  * corpus stamp's scope), its `name` (a temp-dir prefix or a durable
  * artifact name), its partition columns, its build counter and its
  * private [[StampedMemo]]. Two disciplines, by artifact role:
  *
  *  - [[dir]]/[[read]] — DERIVED artifacts (text signatures, dup
  *    clusters, contamination, media fingerprints): pure functions of
  *    the corpus snapshot, rebuilt deterministically on any JVM. Per-JVM
  *    temp dirs named `name…`, deleted at exit — durability would add
  *    nothing semantically.
  *
  *  - [[durable]] — APPEND-TARGET indexes (text band/shingle probe
  *    indexes, media fingerprint index, the IVF index): these accumulate
  *    admitted-batch appends between re-stages, so a per-JVM temp dir
  *    LOSES the appends on restart while the manifest counters survive
  *    (r14 verdict #2 — "append durability only holds for segments").
  *    These live under a DURABLE corpus-keyed root in the system temp
  *    tree: dir name = md5(corpus dir) + artifact name + corpus stamp +
  *    generation, so a restarted JVM (or a second serving JVM on the
  *    host) RESOLVES the same dir — with its appends — instead of
  *    rebuilding; an in-place corpus rewrite changes the stamp and
  *    re-derives exactly as the memos do. Builds land in a temp dir and
  *    publish by [[Durable.rename]] under [[Durable.withDirLock]]: a
  *    reader never observes a half-built artifact, and two JVMs
  *    building concurrently converge on one winner. A re-stage
  *    ([[durable]] with `freshGen`) bumps the GENERATION: the rebuild
  *    gets a new dir (so its append counter correctly restarts at zero)
  *    and prior generations sweep.
  *
  * At staging the artifact's BASE ROW COUNT is recorded in the manifest
  * next to the append counters ([[baseRows]]), so staleness gauges are
  * pure arithmetic over manifest values — a monitoring read never scans
  * the index (r14 verdict #4).
  *
  * Artifacts whose builds are asserted together share one counter by
  * passing it in as `builds`.
  */
final class Staged(name: String, tables: Seq[String] = Seq("documents"),
    partitionCols: Seq[String] = Nil, val builds: AtomicLong = new AtomicLong(0)) {
  import Staged._

  private val memo = new StampedMemo[Path](tables: _*)

  private def write(df: DataFrame, d: Path): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(d.toString)
  }

  // ---------------------------------------------------------------------
  // Derived artifacts: per-JVM temp dirs
  // ---------------------------------------------------------------------

  /** The staged DIRECTORY — for consumers that need the path itself (a
    * streaming file source reading a staged artifact as its topic). The
    * build seeds the dir's schema-cache entry, so no read of it infers
    * a footer. When the corpus stamp changes, the superseded dir is
    * deleted and its entry dropped: a frame still planned over it fails
    * loud on its next evaluation rather than serving a retired artifact
    * (the [[durable]] sweep's stance), and an in-place corpus rewrite no
    * longer leaves one dir per artifact behind until JVM exit. */
  def dir(sfDir: String)(build: => DataFrame): Path =
    memo.get(sfDir, retire)({
      builds.incrementAndGet()
      val d = TempDirs.track(Files.createTempDirectory(name))
      val df = build
      write(df, d)
      StagedArtifacts.seed(d, df.schema, partitionCols)
      d
    })

  private def retire(d: Path): Unit = {
    TempDirs.retire(d)
    StagedArtifacts.forget(d)
  }

  /** The staged artifact, its schema from the per-dir cache. */
  def read(spark: SparkSession, sfDir: String)(build: => DataFrame): DataFrame =
    StagedArtifacts.readStaged(spark, dir(sfDir)(build))

  // ---------------------------------------------------------------------
  // Append-target indexes: durable corpus-keyed dirs
  // ---------------------------------------------------------------------

  /** Stamp rendered unsigned so the dir name never carries a '-'. */
  private def keyOf(sfDir: String): String =
    s"${Durable.md5Hex(sfDir)}_${name}_s${java.lang.Long.toHexString(memo.stamp(sfDir))}"

  /** Manifest family holding each staged dir's base row count (written
    * once at staging, under the build lock) — ONE FAMILY PER TABLE SET:
    * a manifest file's corpus stamp covers its whole entry map, and the
    * text indexes (stamped over `documents`) and the IVF index (stamped
    * over `embeddings`) writing into one shared family each saw the
    * OTHER's stamp as a corpus rewrite, read back an empty map, and
    * silently dropped the other's entries on write — a staleness gauge
    * then divided by a base count of 0 (discovered r16: the stream_idx
    * overlay gauge read 1.0 instead of 0.5 after a media re-stage
    * clobbered the resolved IVF dir's entry). Entries written under the
    * old shared family are NOT migrated — they were subject to the
    * clobber and cannot be trusted; a pre-split dir that still resolves
    * reads base=0 until its next (re-)staging writes the entry here,
    * which at worst trips one early threshold re-stage (the
    * self-correcting direction) and never under-reports staleness. */
  private def baseRowsFamily: String = "staged_base_" + tables.mkString("_")

  /** The CURRENT durable dir for this corpus if one is staged — the
    * in-JVM memo while its dir exists, else pure filesystem resolution,
    * NEVER a build: gauges use this so a restarted JVM's monitoring
    * reads see the surviving index (and its appends) without paying a
    * staging build. */
  def resolved(sfDir: String): Option[Path] =
    memo.peek(sfDir).filter(Files.isDirectory(_))
      .orElse(Durable.withDirLock(rootDir) { resolveUnlocked(keyOf(sfDir)) })

  /** Build-or-resolve the durable staged dir for this corpus.
    * `freshGen = true` is the RE-STAGE path: skip resolution, rebuild
    * from the corpus into a new generation (the append counter, keyed
    * by dir, correctly restarts at zero), and sweep prior generations.
    * `baseCount` measures the staged artifact's base size for the
    * arithmetic staleness gauges (row count by default; e.g. distinct
    * assets for the media index). A memoized dir that is gone (another
    * JVM's re-stage swept it) re-resolves to the current generation. */
  def durable(sfDir: String, freshGen: Boolean = false,
      baseCount: DataFrame => Long = _.count())(build: => DataFrame): Path = {
    initSweep
    if (freshGen || memo.peek(sfDir).exists(!Files.isDirectory(_))) memo.invalidate(sfDir)
    memo.get(sfDir)({
      val key = keyOf(sfDir)
      val existing =
        if (freshGen) None else Durable.withDirLock(rootDir) { resolveUnlocked(key) }
      existing.getOrElse {
        builds.incrementAndGet()
        val df = build
        val tmp = Files.createTempDirectory(rootDir, ".build_")
        write(df, tmp)
        // base size measured from the written files (footer metadata),
        // not the build plan — appends never touch this value
        val base = baseCount(df.sparkSession.read.parquet(tmp.toString))
        Files.writeString(tmp.resolve(".corpus"), sfDir)
        // completeness marker of our own (see gensUnlocked): lands in
        // the temp BEFORE the atomic publish move, so a visible
        // generation dir always carries it regardless of the session's
        // committer configuration
        Files.writeString(tmp.resolve(".published"), "")
        Durable.withDirLock(rootDir) {
          val winner = if (freshGen) None else resolveUnlocked(key)
          winner match {
            case Some(p) =>
              // another JVM published while we built — converge on its
              // dir (same corpus stamp ⇒ same bytes), drop ours
              TempDirs.deleteNow(tmp)
              p
            case None =>
              val gen = gensUnlocked(key).headOption.map(_._1).getOrElse(-1) + 1
              val target = rootDir.resolve(s"${key}_g$gen")
              Durable.rename(tmp, target)
              // a delete-and-rebuild can land on the SAME generation
              // name — every dir-keyed manifest entry (append counters
              // in any family, the old base count) must reset with the
              // fresh artifact, or a dead run's counter resurrects onto
              // a pristine index the moment the name is reused
              ServingManifest.removeKeyAllFamilies(sfDir, target.toString)
              ServingManifest.set(sfDir, baseRowsFamily, tables,
                target.toString, base.toString)
              // sweep every non-target sibling of (corpus, artifact):
              // prior generations (their appends were compacted away or
              // abandoned — the re-stage contract) and other-stamp dirs
              // (artifacts of a rewritten corpus). A long-lived frame
              // planned over a swept dir fails loud on next evaluation
              // rather than serving a retired artifact.
              val prefix = s"${Durable.md5Hex(sfDir)}_${name}_s"
              listRootUnlocked().foreach { p =>
                if (p != target && p.getFileName.toString.startsWith(prefix))
                  TempDirs.deleteNow(p)
              }
              target
          }
        }
      }
    })
  }

  /** The base row count recorded for `dir` at staging — the arithmetic
    * staleness gauges' denominator component. */
  def baseRows(sfDir: String, dir: Path): Long =
    ServingManifest.getCounter(sfDir, baseRowsFamily, tables, dir.toString)

  // ---------------------------------------------------------------------
  // The in-JVM memo
  // ---------------------------------------------------------------------

  /** The memoized dir for `sfDir`, if any — no freshness check, no build. */
  def peek(sfDir: String): Option[Path] = memo.peek(sfDir)

  /** The corpus dirs currently memoized in this JVM. */
  def keys: Set[String] = memo.keys

  /** Forget ONE corpus dir's derived artifact and delete its temp dir
    * (the next access re-derives), leaving other corpora staged. A
    * durable generation is only forgotten: its own re-stage sweeps it. */
  def invalidate(sfDir: String): Unit =
    memo.invalidate(sfDir, d => if (!d.startsWith(rootDir)) retire(d))

  /** TEST-ONLY simulated restart: forget every memo entry, keep the
    * files (a durable dir re-resolves, a temp dir re-derives). */
  def forget(): Unit = memo.clear()

  /** TEST-ONLY isolation drop: [[forget]], then delete EVERY corpus's
    * durable dirs of this artifact under this JVM's `java.io.tmpdir`,
    * host-wide — so the next access rebuilds. Never called from a
    * serving path. A live JVM sharing that temp dir re-resolves on its
    * next [[durable]] access (a rebuild, its appends lost), so a spec
    * run and a Bench/Verify/serving JVM on one host each take their
    * own `-Djava.io.tmpdir`. */
  def drop(): Unit = {
    forget()
    Durable.withDirLock(rootDir) {
      val re = ("^[0-9a-f]{32}_" +
        java.util.regex.Pattern.quote(name) + "_s[0-9a-f]+_g\\d+$").r
      listRootUnlocked().foreach { p =>
        if (re.findFirstIn(p.getFileName.toString).isDefined)
          TempDirs.deleteNow(p)
      }
    }
  }
}

/** The durable root every [[Staged.durable]] artifact lives under. */
object Staged {

  /** The durable root. Sections under its [[Durable.withDirLock]] are
    * SHORT — resolution and the publish rename only; builds run
    * outside. */
  private def rootDir: Path = Durable.sidecarRoot("graft_staged")

  private def listRootUnlocked(): Seq[Path] = {
    val s = Files.list(rootDir)
    try {
      val b = Seq.newBuilder[Path]
      val it = s.iterator()
      while (it.hasNext) b += it.next()
      b.result()
    } finally s.close()
  }

  private val GenSuffix = "_g(\\d+)$".r

  private def genOf(dirName: String, key: String): Option[Int] =
    if (!dirName.startsWith(key + "_g")) None
    else GenSuffix.findFirstMatchIn(dirName).map(_.group(1).toInt)

  /** Complete generations of `key`, newest first. Completeness marker:
    * our OWN `.published` file, written into the build temp before the
    * atomic publish rename — NOT Spark's `_SUCCESS`, which a session
    * configured with `mapreduce.fileoutputcommitter.marksuccessfuljobs
    * =false` never writes (every access would then rebuild a fresh
    * generation and the publish-time sweep would delete the prior dir
    * with its live appends — ADVICE r15). `_SUCCESS` is still accepted
    * so generations published by pre-marker builds keep resolving. */
  private def gensUnlocked(key: String): Seq[(Int, Path)] =
    listRootUnlocked()
      .flatMap(p => genOf(p.getFileName.toString, key).map(_ -> p))
      .filter { case (_, p) =>
        Files.exists(p.resolve(".published")) ||
          Files.exists(p.resolve("_SUCCESS")) }
      .sortBy(-_._1)

  private def resolveUnlocked(key: String): Option[Path] =
    gensUnlocked(key).headOption.map(_._2)

  /** One-time-per-JVM hygiene sweep of the durable root: staged dirs
    * whose `.corpus` marker points at a corpus dir that no longer
    * exists (a test's temp corpus, deleted at its JVM's exit), and
    * abandoned `.build_` temps older than a day (a crashed build — an
    * age bound so a LIVE concurrent JVM's in-flight build is never
    * yanked). */
  private lazy val initSweep: Unit = Durable.withDirLock(rootDir) {
    val dayAgo = System.currentTimeMillis() - 24L * 3600 * 1000
    listRootUnlocked().foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(".build_")) {
        if (Files.getLastModifiedTime(p).toMillis < dayAgo)
          TempDirs.deleteNow(p)
      } else if (Files.isDirectory(p)) {
        val marker = p.resolve(".corpus")
        if (Files.isRegularFile(marker) &&
            !Files.isDirectory(Paths.get(Files.readString(marker))))
          TempDirs.deleteNow(p)
      }
    }
  }
}
