package graft.util

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staged-artifact build shapes shared by every per-corpus-snapshot
  * index. Two disciplines, by artifact role:
  *
  *  - [[parquet]] — DERIVED artifacts (text signatures, dup clusters,
  *    contamination, media fingerprints): pure functions of the corpus
  *    snapshot, rebuilt deterministically on any JVM. Per-JVM temp dirs,
  *    deleted at exit — durability would add nothing semantically.
  *
  *  - [[parquetDir]] — APPEND-TARGET indexes (text band/shingle probe
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
  *    ([[parquetDir]] with `freshGen`) bumps the GENERATION: the rebuild
  *    gets a new dir (so its append counter correctly restarts at zero)
  *    and prior generations sweep.
  *
  * At staging the artifact's BASE ROW COUNT is recorded in the manifest
  * next to the append counters ([[stagedBaseRows]]), so staleness
  * gauges are pure arithmetic over manifest values — a monitoring read
  * never scans the index (r14 verdict #4).
  */
object StagedArtifacts {

  // ---------------------------------------------------------------------
  // Derived artifacts: per-JVM temp dirs (unchanged discipline)
  // ---------------------------------------------------------------------

  def parquet(spark: SparkSession, sfDir: String,
      memo: StampedMemo[java.nio.file.Path], prefix: String,
      builds: java.util.concurrent.atomic.AtomicLong,
      partitionCols: Seq[String] = Nil)
      (build: => DataFrame): DataFrame =
    readStaged(spark,
      tempDir(sfDir, memo, prefix, builds, partitionCols)(build))

  /** Inferred schema per staged DIR — skips the per-read footer
    * inference job (opt r19): a staged dir's schema never changes over
    * its lifetime (appends — including tombstone partitions — project
    * to the index's own schema, and a re-stage lands in a FRESH dir,
    * so the dir path is a sound cache key). Metadata only; partition
    * values still come from the directory listing on every read. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Read a staged artifact dir with its schema served from the
    * per-dir cache — the standard read for every staged index whose
    * consumers pay per-call schema inference otherwise. */
  def readStaged(spark: SparkSession, dir: Path): DataFrame = {
    val s = schemaCache.computeIfAbsent(dir.toString,
      d => spark.read.parquet(d).schema)
    spark.read.schema(s).parquet(dir.toString)
  }

  /** Cache-soundness hook for the IN-PLACE append sites (r19 ADVICE):
    * [[readStaged]]'s per-dir cache is sound only while appends never
    * add or retype a column — a writer appending a wider frame (say a
    * future `deleted` flag on a new partition) or a retyped one (an id
    * widened to another type) would otherwise have that column silently
    * dropped or read at the stale type by every subsequent cached read.
    * Called with the frame ABOUT to append: a frame whose (name, type)
    * pairs all exist in the cached schema keeps the cache (today's
    * tombstone/index appends — they project to the index's own schema);
    * any new or retyped column DROPS the entry so the next read
    * re-infers and sees it. Types compare by their rendered form, which
    * ignores nullability (a parquet read-back marks every element
    * nullable). No-op when the dir has no cached entry yet. */
  def noteAppend(dir: Path, df: DataFrame): Unit =
    Option(schemaCache.get(dir.toString)).foreach { s =>
      def cols(t: org.apache.spark.sql.types.StructType) =
        t.fields.map(f => f.name -> f.dataType.catalogString)
      if (!cols(df.schema).forall(cols(s).toSet.contains))
        { schemaCache.remove(dir.toString); () }
    }

  /** The per-JVM temp variant returning the DIRECTORY — for consumers
    * that need the path itself (a streaming file source reading a
    * staged artifact as its topic). */
  def tempDir(sfDir: String,
      memo: StampedMemo[java.nio.file.Path], prefix: String,
      builds: java.util.concurrent.atomic.AtomicLong,
      partitionCols: Seq[String] = Nil)
      (build: => DataFrame): java.nio.file.Path =
    memo.get(sfDir)({
      builds.incrementAndGet()
      val d = java.nio.file.Files.createTempDirectory(prefix)
      TempDirs.track(d)
      val w = build.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(d.toString)
      d
    })

  // ---------------------------------------------------------------------
  // Append-target indexes: durable corpus-keyed dirs
  // ---------------------------------------------------------------------

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
  private def baseRowsFamily(memo: StampedMemo[Path]): String =
    "staged_base_" + memo.tableNames.mkString("_")

  /** The durable root. Sections under its [[Durable.withDirLock]] are
    * SHORT — resolution and the publish rename only; builds run
    * outside. */
  private def rootDir: Path = Durable.sidecarRoot("graft_staged")

  /** Stamp rendered unsigned so the dir name never carries a '-'. */
  private def keyOf(sfDir: String, memo: StampedMemo[Path], name: String): String =
    s"${Durable.md5Hex(sfDir)}_${name}_s${java.lang.Long.toHexString(memo.stamp(sfDir))}"

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

  /** The CURRENT durable dir for (corpus, artifact) if one is staged —
    * the in-JVM memo, else pure filesystem resolution, NEVER a build:
    * gauges use this so a restarted JVM's monitoring reads see the
    * surviving index (and its appends) without paying a staging build. */
  def resolveExisting(sfDir: String, memo: StampedMemo[Path],
      name: String): Option[Path] =
    memo.peek(sfDir).orElse(
      Durable.withDirLock(rootDir) { resolveUnlocked(keyOf(sfDir, memo, name)) })

  /** Build-or-resolve the durable staged dir for (corpus, artifact).
    * `freshGen = true` is the RE-STAGE path: skip resolution, rebuild
    * from the corpus into a new generation (the append counter, keyed
    * by dir, correctly restarts at zero), and sweep prior generations.
    * `baseCount` measures the staged artifact's base size for the
    * arithmetic staleness gauges (row count by default; e.g. distinct
    * assets for the media index). */
  def parquetDir(sfDir: String, memo: StampedMemo[Path], name: String,
      builds: java.util.concurrent.atomic.AtomicLong,
      partitionCols: Seq[String] = Nil,
      freshGen: Boolean = false,
      baseCount: DataFrame => Long = _.count())
      (build: => DataFrame): Path = {
    initSweep
    if (freshGen) memo.invalidate(sfDir)
    memo.get(sfDir)({
      val key = keyOf(sfDir, memo, name)
      val existing =
        if (freshGen) None else Durable.withDirLock(rootDir) { resolveUnlocked(key) }
      existing.getOrElse {
        builds.incrementAndGet()
        val df = build
        val tmp = Files.createTempDirectory(rootDir, ".build_")
        val w = df.write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(tmp.toString)
        // base size measured from the written files (footer metadata),
        // not the build plan — appends never touch this value
        val baseRows = baseCount(df.sparkSession.read.parquet(tmp.toString))
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
              ServingManifest.set(sfDir, baseRowsFamily(memo),
                memo.tableNames, target.toString, baseRows.toString)
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
  def stagedBaseRows(sfDir: String, memo: StampedMemo[Path], dir: Path): Long =
    ServingManifest.getCounter(sfDir, baseRowsFamily(memo), memo.tableNames,
      dir.toString)

  /** TEST-ONLY isolation drop: delete EVERY corpus's durable dirs for
    * artifact `name`, host-wide. The explicit counterpart of the old
    * per-JVM temp-dir semantics (a drop used to guarantee the next
    * access rebuilds) — never called from a serving path. */
  private[graft] def dropDurable(name: String): Unit = Durable.withDirLock(rootDir) {
    val re = ("^[0-9a-f]{32}_" +
      java.util.regex.Pattern.quote(name) + "_s[0-9a-f]+_g\\d+$").r
    listRootUnlocked().foreach { p =>
      if (re.findFirstIn(p.getFileName.toString).isDefined)
        TempDirs.deleteNow(p)
    }
  }
}
