package graft.util

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}
import org.apache.spark.sql.types.StructType

/** One durable, partitioned, APPEND-TARGET probe index — the dedup
  * gate's admit → append → tombstone → re-stage lifecycle, written once
  * for every index family that serves a streaming gate's base side (the
  * text band and shingle indexes, one media fingerprint index per
  * modality). A family supplies only what really differs: the staged
  * [[build]] body, the row builders ([[prepare]] signs or decodes an
  * admitted batch once, [[rowsOf]] projects it to this index's rows),
  * and its gauge names.
  *
  * Lifecycle rules (the Structured Streaming replay/idempotent-sink
  * argument applied to a served index):
  *
  *  - STAGE: the base lands in a durable corpus-keyed dir
  *    ([[Staged.durable]]), so a restarted JVM resolves the
  *    same dir — with its appends — instead of rebuilding, and the
  *    staged base size is recorded in the manifest once.
  *  - APPEND: an admitted batch is prepared ONCE (persisted), its rows
  *    append into only the touched partition dirs of this index and of
  *    every [[companions]] index, and the batch size lands in the
  *    persisted `appendsFamily` counter keyed by THIS index's dir (a
  *    fresh generation correctly reads zero). Appending declares the
  *    batch base regardless of its ids' increment membership
  *    (admission is the caller's statement); appended rows bypass the
  *    staging cap, which re-asserts at the next re-stage.
  *  - STALENESS: appended / (staged base of [[baseIndex]] + appended) —
  *    pure manifest arithmetic, never an index scan, and RESOLVE-never-
  *    build: an un-staged index serves nothing and is 0% stale.
  *  - RE-STAGE: past the threshold every index of the family rebuilds
  *    eagerly into a FRESH GENERATION from the corpus snapshot alone —
  *    the COMPACTION CONTRACT: appended rows never landed in the corpus
  *    DROP, so the ingestion tier commits admitted batches to corpus
  *    storage before the threshold trips; tombstones are absorbed.
  *  - TAKEDOWN: retracted ids land as tombstone rows in partition
  *    [[ProbeIndex.TombstonePart]] of every index — a real partition
  *    value no probe ever computes, so a pruned probe scan never lists
  *    it (the ANN overlay's `cell = -1` discipline) and the hot reads
  *    pay no mergeSchema. Exclusion sites read the marker dir DIRECTLY
  *    ([[tombstoneIds]]) — a root read would pay partition discovery of
  *    the whole index tree per serve call.
  */
abstract class ProbeIndex[B](name: String, private val partCol: String,
    private val idCol: String, appendsFamily: String, builds: AtomicLong) {

  /** The fixture tables every probe index derives from (media assets
    * are synthesized from documents) — the corpus stamp's scope. */
  private val tables = Seq("documents")

  /** The staged base rows (before partitioning by `partCol`). */
  protected def build(spark: SparkSession, sfDir: String): DataFrame

  /** An admitted batch signed/decoded ONCE for every index it feeds —
    * the same stateless projection the staging build applies to the
    * corpus, so appended and base rows are comparable by construction. */
  protected def prepare(spark: SparkSession, batch: B): DataFrame

  /** This index's rows of a [[prepare]]d batch. */
  protected def rowsOf(prepared: DataFrame): DataFrame

  /** The staleness denominator's unit, measured once on the staged files. */
  protected def baseCount(staged: DataFrame): Long = staged.count()

  /** Indexes fed by the same admitted batch and re-staged, tombstoned
    * and dropped together with this one. */
  protected def companions: Seq[ProbeIndex[_]] = Nil

  /** The index whose staged base size is the staleness denominator. */
  protected def baseIndex: ProbeIndex[_] = this

  protected def staleGauge: String

  /** Gauge receiving the tombstoned-id count of each retraction, if any. */
  protected def tombstoneGauge: Option[String] = None

  /** Runs before a threshold re-stage (e.g. re-derive an upstream memo). */
  protected def beforeRestage(sfDir: String): Unit = ()

  private val staged = new Staged(name, tables, Seq(partCol), builds)

  private def family: Seq[ProbeIndex[_]] = this +: companions

  /** Build-or-resolve the durable dir; `fresh` forces a new generation. */
  def dir(spark: SparkSession, sfDir: String, fresh: Boolean = false): Path =
    staged.durable(sfDir, fresh, baseCount)(build(spark, sfDir))

  /** The served index, its schema from the per-dir cache. */
  def read(spark: SparkSession, sfDir: String): DataFrame =
    StagedArtifacts.readStaged(spark, dir(spark, sfDir))

  /** The current dir WITHOUT building: the in-JVM memo, else the
    * durable root (a restarted JVM's surviving index). */
  private def resolved(sfDir: String): Option[Path] = staged.resolved(sfDir)

  private def write(d: Path, rows: DataFrame): Unit = {
    StagedArtifacts.noteAppend(d, rows)
    rows.write.mode("append").partitionBy(partCol).parquet(d.toString)
  }

  /** Fold an admitted batch into the served indexes; returns the
    * prepared rows appended (the counter's unit). */
  def append(spark: SparkSession, sfDir: String, batch: B): Long = {
    val dirs = family.map(_.dir(spark, sfDir))
    val prepared = prepare(spark, batch).persist()
    try {
      val n = prepared.count()
      family.zip(dirs).foreach { case (i, d) => i.write(d, i.rowsOf(prepared)) }
      ServingManifest.addCounter(sfDir, appendsFamily, tables, dirs.head.toString, n)
      n
    } finally { prepared.unpersist(); () }
  }

  /** The share of the served index that entered via append — 0.0 for
    * an index never staged anywhere. */
  def staleFraction(spark: SparkSession, sfDir: String): Double =
    (resolved(sfDir), baseIndex.resolved(sfDir)) match {
      case (Some(d), Some(b)) => ProbeIndex.staleShare(
        ServingManifest.getCounter(sfDir, appendsFamily, tables, d.toString),
        baseIndex.staged.baseRows(sfDir, b))
      case _ => 0.0
    }

  /** Record the stale gauge and re-stage past `threshold`; returns
    * whether a re-stage ran. Eager: serving never races a half-build. */
  def maybeRestage(spark: SparkSession, sfDir: String, threshold: Double): Boolean = {
    val stale = staleFraction(spark, sfDir)
    graft.ObservedMetrics.recordGauge(staleGauge, stale)
    if (stale <= threshold) false
    else {
      beforeRestage(sfDir)
      family.foreach(_.dir(spark, sfDir, fresh = true))
      true
    }
  }

  /** Retract `ids` (an `idCol` frame) from every index of the family —
    * O(retracted ids): one bounded write per index, no read of the live
    * index. Payload columns are typed NULLs; no reader dereferences them. */
  def tombstone(spark: SparkSession, sfDir: String, ids: DataFrame): Unit = {
    val dirs = family.map(_.dir(spark, sfDir))
    val obs = Observation()
    family.zip(dirs).foreach { case (i, d) =>
      // per-dir cached schema: a bare read re-ran footer inference
      val ts = ids.select(StagedArtifacts.readStaged(spark, d).schema.fields.toSeq.map { f =>
        (if (f.name == i.idCol) col(f.name)
          else if (f.name == i.partCol) lit(ProbeIndex.TombstonePart)
          else lit(null)).cast(f.dataType).as(f.name)
      }: _*)
      i.write(d, if ((i eq this) && tombstoneGauge.isDefined)
        ts.observe(obs, count(lit(1)).as("n")) else ts)
    }
    tombstoneGauge.foreach(g =>
      graft.ObservedMetrics.recordGauge(g, obs.get("n").asInstanceOf[Long].toDouble))
  }

  private def tombstoneDir(sfDir: String): Option[Path] =
    resolved(sfDir).map(_.resolve(s"$partCol=${ProbeIndex.TombstonePart}"))

  /** The ids currently tombstoned here — None (zero plan change) when
    * no tombstone partition holds data; resolve, never build. */
  def tombstoneIds(spark: SparkSession, sfDir: String): Option[DataFrame] =
    tombstoneDir(sfDir).filter(d => EpochDirs.dataFilesIn(d).nonEmpty)
      .map(d => spark.read.schema(StructType.fromDDL(s"$idCol BIGINT"))
        .parquet(d.toString).select(idCol).distinct())

  /** Drop rows of `df` whose id in any of `cols` is tombstoned here —
    * the exclusion every takedown-aware serve rides: one bounded
    * BROADCAST left-anti join per column when tombstones exist, the
    * untouched frame when none do. Applied at the OUTPUT (pair/row)
    * level, not before bucketing: a pre-bucketing filter would shift
    * the capped bucket RANKING, so the surviving pairs could differ
    * from "the no-tombstone chain minus retracted pairs" (the oracle's
    * formulation); the post-filter costs dup density × deleted
    * fraction. */
  def excludeTombstoned(spark: SparkSession, sfDir: String, df: DataFrame,
      cols: Seq[String]): DataFrame =
    tombstoneIds(spark, sfDir).fold(df)(t => cols.foldLeft(df)((d, c) =>
      d.join(broadcast(t.select(col(idCol).as(c))), Seq(c), "left_anti")))

  /** Delete the family's tombstone partitions — a takedown key's
    * cleanup; resolve, never build. */
  def dropTombstones(spark: SparkSession, sfDir: String): Unit =
    family.flatMap(_.tombstoneDir(sfDir)).filter(Files.isDirectory(_))
      .foreach(TempDirs.deleteNow)

  /** TEST-ONLY isolation drop: delete the family's durable dirs
    * host-wide (the next access rebuilds) and exactly their append
    * counters, scoped per staged dir — never another corpus's. */
  private[graft] def drop(): Unit = family.foreach { i =>
    for (sf <- i.staged.keys; d <- i.staged.peek(sf))
      ServingManifest.removeCounter(sf, appendsFamily, tables, d.toString)
    i.staged.drop()
  }

  /** TEST-ONLY simulated restart: forget the in-JVM memos, keep the
    * durable dirs and the manifest. */
  private[graft] def forget(): Unit = family.foreach(_.staged.forget())
}

object ProbeIndex {
  /** The tombstone partition value — outside every probe's [0, parts). */
  val TombstonePart = -1

  /** The staleness gauges' arithmetic: the share of a served artifact
    * that entered outside its staging, `appended / (base + appended)`;
    * 0 without appends, and `base` (a manifest read) is then skipped. */
  def staleShare(appended: Long, base: => Long): Double =
    if (appended == 0) 0.0 else appended.toDouble / (base + appended).toDouble
}
