package graft.util

import java.nio.file.{Files, Path, Paths}

/** Epoch-keyed trees (`root/epoch=N/…`) and the ONE fold that compacts
  * them — the stream result sinks, the ANN segment overlay and the
  * cluster-delta overlay all fold through [[fold]], and every rename
  * inside an epoch root lives in this file. LOCAL-FILESYSTEM
  * precondition throughout (the [[ServingManifest]] sidecar
  * discipline): listings and renames are `java.nio` calls; an
  * object-store tree would swap this layer, not its callers.
  */
object EpochDirs {

  /** Epoch ids currently materialized under `root`, ascending — one
    * local listing, never a Spark job. Non-numeric `epoch=` dirs (none
    * are ever written) are ignored rather than thrown on. */
  def list(root: String): Seq[Long] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .flatMap(f =>
        scala.util.Try(f.getName.stripPrefix("epoch=").toLong).toOption)
      .sorted

  /** The DATA files directly under `dir` — the part files a Spark
    * parquet write produced, skipping `_SUCCESS`/checksum/hidden
    * entries (exactly the files a Spark read would list). */
  def dataFilesIn(dir: Path): Seq[Path] =
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.toPath)

  /** How a fold publishes its collapse — fixed by how the tree is READ,
    * never by an option. */
  sealed trait Swap

  /** For PLAIN-UNION readers (result sinks, ANN segments): a read that
    * saw both the sources and the collapse would serve every folded row
    * twice, so the sources HIDE as `.folded_<id>` (invisible but
    * intact), the scratch renames in as `epoch=<highest folded id>`,
    * and only then do the hidden dirs delete. Every datum exists in at
    * least one (visible or hidden) place at every instant, so
    * [[recover]] can always finish or roll back — no journal. */
  case object Hide extends Swap

  /** For the NEWEST-WINS reader (cluster deltas): the scratch's data
    * files MOVE one by one into `epoch=<highest folded id>`, then the
    * shadowed originals and the older epoch dirs delete. Each collapsed
    * row dominates every folded row it summarizes (it carries the
    * highest folded epoch) or ties value-equal with that epoch's own
    * row, so any prefix of the moves leaves the served view unchanged —
    * no missing-rows window, which [[Hide]] would open for a concurrent
    * newest-wins read. */
  case object Move extends Swap

  /** THE epoch fold. Past `maxEpochs` epoch dirs (and at least 3), every
    * epoch EXCEPT THE NEWEST — the only one a foreachBatch replay can
    * rewrite; folding its rows under another id would leak them past
    * the replay's overwrite — collapses into ONE dir at the highest
    * folded id. The caller supplies only its collapse: `collapse(newest,
    * scratch)` writes the collapsed rows of every epoch but `newest`
    * into the hidden `scratch` dir (Spark listings skip dot-dirs, so no
    * reader sees a half-written fold). `observe` sees every listing,
    * fold or not (the overlays' epoch gauges).
    *
    * Owns the crash story for all three trees: [[recover]] runs ONCE
    * per root per JVM (the steady-state turn takes one listing, no
    * lock), and a fold that throws re-arms it, so the next entry repairs
    * what it left before listing. Single-writer precondition: the
    * caller is the stream's own foreachBatch maintenance turn,
    * serialized with its epoch writes. Returns whether a fold ran. */
  def fold(root: String, maxEpochs: Int, swap: Swap,
      observe: Seq[Long] => Unit = _ => ())(
      collapse: (Long, String) => Unit): Boolean = {
    if (recoveryChecked.add(root)) repair(root)
    val epochs = list(root)
    observe(epochs)
    if (epochs.size <= maxEpochs || epochs.size < 3) false
    else try {
      val scratch = Paths.get(root, s".compact_${System.nanoTime()}")
      collapse(epochs.last, scratch.toString)
      val folded = epochs.dropRight(1)
      val target = epochDir(root, folded.last)
      swap match {
        case Hide =>
          folded.foreach(e => Durable.rename(epochDir(root, e), hidden(root, e)))
          crashpoint("afterHide")
          Durable.rename(scratch, target)
          crashpoint("afterPublish")
          folded.foreach(e => TempDirs.deleteNow(hidden(root, e)))
        case Move =>
          val shadowed = dataFilesIn(target)
          dataFilesIn(scratch).foreach(f =>
            Durable.rename(f, target.resolve(f.getFileName)))
          shadowed.foreach(f => Files.deleteIfExists(f))
          folded.dropRight(1).foreach(e => TempDirs.deleteNow(epochDir(root, e)))
          TempDirs.deleteNow(scratch)
      }
      true
    } catch { case t: Throwable =>
      recoveryChecked.remove(root)
      throw t
    }
  }

  /** RESULT-SINK retention (r17 verdict #4): the epoch-keyed stream
    * sinks (`data/epoch=N` per trigger, unioned by the sink read) fold
    * through [[fold]] with the [[Hide]] swap. Shape is the caller's
    * declaration: `newestWinsKeys` empty = APPEND-shaped sink (each key
    * row emitted once — dedup gates, decontamination verdicts) folds by
    * plain concatenation; non-empty = UPDATE-shaped sink (one emission
    * per key per trigger, later supersedes earlier — trackers, top-k
    * serves) keeps only each key's newest-epoch rows, which preserves
    * every consumer that post-aggregates by latest/max per key. */
  def foldEpochSink(spark: org.apache.spark.sql.SparkSession, root: String,
      maxEpochs: Int, newestWinsKeys: Seq[String] = Nil): Boolean = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val ran = fold(root, maxEpochs, Hide) { (newest, scratch) =>
      val df = spark.read.parquet(root)
      // cast the exclusion literal to the INFERRED partition type (the
      // overlay compactors' pruning lesson)
      val folded = df.filter(
        col("epoch") =!= lit(newest).cast(df.schema("epoch").dataType))
      val out =
        if (newestWinsKeys.isEmpty) folded.drop("epoch")
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(newestWinsKeys.map(col): _*)
          folded.withColumn("__maxep", max(col("epoch")).over(w))
            .filter(col("epoch") === col("__maxep"))
            .drop("__maxep", "epoch")
        }
      out.write.parquet(scratch)
    }
    if (ran) graft.ObservedMetrics.bumpGauge("sink.epoch_folds")
    ran
  }

  /** Roots whose [[recover]] check already ran in this JVM — folds are
    * the only writer of the hidden state it repairs, so one check per
    * root per process suffices in the steady state. */
  private val recoveryChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Repair whatever a dead or failed [[fold]] left under `root`, and
    * count the root as checked — for an entry that reads the tree
    * before its first fold call (a re-registration counting rows). */
  def recover(root: String): Unit = {
    repair(root)
    recoveryChecked.add(root)
  }

  /** Finish or roll back an interrupted fold. A scratch with no hidden
    * dirs is garbage (a crash before the first hide, or mid-[[Move]]:
    * the moved prefix is already dominance-safe). Hidden dirs WITH a
    * scratch mean the publish never happened: roll back — every hidden
    * dir restores, THEN the scratch drops, so a crash mid-rollback just
    * re-enters here (the next turn folds again). Hidden dirs without a
    * scratch mean only the cleanup died: the published dir dominates
    * them. No hidden entry at all (the common case) = one listing. */
  private def repair(root: String): Unit = {
    val entries = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
    val hiddenDirs = entries.filter(_.getName.startsWith(".folded_"))
    val scratches = entries.filter(_.getName.startsWith(".compact_"))
    if (scratches.nonEmpty) hiddenDirs.foreach { d =>
      // a hidden dir whose epoch target ALREADY exists was superseded by
      // a replayed micro-batch that re-wrote the epoch after the crash —
      // restoring would shadow newer rows, keeping it would leak an
      // invisible dir forever (ADVICE r18): delete it, logged
      val target = Paths.get(root, "epoch=" + d.getName.stripPrefix(".folded_"))
      if (!Files.exists(target)) Durable.rename(d.toPath, target)
      else {
        System.err.println(s"[epochfold] ${d.getName}: target $target " +
          "already re-written by a replayed epoch — dropping the " +
          "superseded hidden dir")
        TempDirs.deleteNow(d.toPath)
      }
    }
    else hiddenDirs.foreach(d => TempDirs.deleteNow(d.toPath))
    scratches.foreach(s => TempDirs.deleteNow(s.toPath))
  }

  /** TEST-ONLY failpoint inside the [[Hide]] swap, invoked with the
    * stage just completed ("afterHide" = sources hidden, collapse not
    * yet published; "afterPublish" = published, hidden dirs not yet
    * deleted). Crash specs throw from here to reach the exact states a
    * killed writer leaves; production never reassigns it. */
  private[graft] var crashpoint: String => Unit = _ => ()

  private def epochDir(root: String, e: Long): Path = Paths.get(root, s"epoch=$e")
  private def hidden(root: String, e: Long): Path = Paths.get(root, s".folded_$e")
}
