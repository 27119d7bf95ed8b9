package graft.util

import java.nio.file.{Files, Path, Paths}

/** Epoch-keyed overlay layout helpers (`root/epoch=N/…`) — shared by the
  * two delta-overlay families (cluster deltas, ANN segments) and their
  * intra-overlay compactors. LOCAL-FILESYSTEM precondition throughout
  * (the [[ServingManifest]] sidecar discipline): listings and the
  * publish rename are `java.nio` calls; an object-store overlay would
  * swap the layout layer, not its callers.
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

  /** A hidden scratch dir under `root` for a compaction write in
    * flight: the leading dot keeps every Spark listing (partition
    * discovery, file-stream sources) from seeing the half-written
    * collapse, so the serve path reads only published epochs. */
  def scratch(root: String): Path =
    Paths.get(root, s".compact_${System.nanoTime()}")

  /** Publish `tmp` as `root/epoch=<epoch>` — one local directory
    * rename. The target must not exist (callers drop it first). */
  def publish(tmp: Path, root: String, epoch: Long): Unit =
    Durable.rename(tmp, Paths.get(root, s"epoch=$epoch"))

  /** Remove any `.compact_*` scratch a dead compactor left under
    * `root` — invisible to readers the whole time, so the sweep is pure
    * housekeeping, safe at every compaction entry. */
  def sweepScratch(root: String): Unit =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(".compact_"))
      .foreach(f => TempDirs.deleteNow(f.toPath))

  /** The DATA files directly under `dir` — the part files a Spark
    * parquet write produced, skipping `_SUCCESS`/checksum/hidden
    * entries (exactly the files a Spark read would list). */
  def dataFilesIn(dir: Path): Seq[Path] =
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.toPath)

  /** RESULT-SINK MINOR COMPACTION (r17 verdict #4): the epoch-keyed
    * stream sinks (`data/epoch=N` per trigger, unioned by the sink
    * read) get the retention contract the delta overlays have — past
    * `maxEpochs` accumulated epoch dirs, every epoch EXCEPT the newest
    * (the only replayable one — a retried micro-batch overwrites its
    * own dir, and folding its rows under another id would leak them
    * past the overwrite) folds into ONE consolidated dir at the highest
    * folded id. Shape is the caller's declaration: `newestWinsKeys`
    * empty = APPEND-shaped sink (each key row emitted once — dedup
    * gates, decontamination verdicts) folds by plain concatenation;
    * non-empty = UPDATE-shaped sink (one emission per key per trigger,
    * later supersedes earlier — trackers, top-k serves) keeps only each
    * key's newest-epoch rows, which preserves every consumer that
    * post-aggregates by latest/max per key.
    *
    * CRASH-SAFE AT EVERY STEP without a journal, by hide-don't-delete:
    * (1) the folded rows write to a hidden `.sinkfold_*` scratch;
    * (2) the source epoch dirs RENAME to hidden `.folded_<id>` names
    * (data now invisible but intact); (3) the scratch renames in as
    * `epoch=<foldMax>`; (4) only then do the hidden sources delete.
    * Every datum exists in at least one (visible or hidden) place at
    * every instant, so [[recoverSinkFold]] — run at every fold entry —
    * can always finish or roll back: scratch still present means the
    * publish never happened (restore the hidden dirs, drop the
    * scratch); scratch gone with hidden dirs present means only the
    * cleanup died (delete them). Single-writer precondition as the
    * overlay compactors: the caller is the stream's own foreachBatch
    * maintenance turn. */
  def foldEpochSink(spark: org.apache.spark.sql.SparkSession, root: String,
      maxEpochs: Int, newestWinsKeys: Seq[String] = Nil): Boolean = {
    import org.apache.spark.sql.functions.{col, lit, max}
    // recovery check ONCE per root per JVM (r18 verdict: the per-batch
    // directory listing is cheap on local fs but a LIST-per-sink-per-
    // trigger on an object store) — the segment compactor's
    // foldRecoveryChecked discipline: a mid-fold crash in THIS JVM
    // re-arms through the catch below, and a restarted JVM re-checks on
    // its first fold call
    if (sinkRecoveryChecked.add(root)) recoverSinkFold(root)
    val epochs = list(root)
    if (epochs.size <= maxEpochs || epochs.size < 3) false
    else try {
      val newest = epochs.last
      val foldMax = epochs(epochs.size - 2)
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
      val scratch = Paths.get(root, s".sinkfold_${System.nanoTime()}")
      out.write.parquet(scratch.toString)
      val toFold = epochs.dropRight(1)
      toFold.foreach { e =>
        Durable.rename(Paths.get(root, s"epoch=$e"), Paths.get(root, s".folded_$e"))
      }
      Durable.rename(scratch, Paths.get(root, s"epoch=$foldMax"))
      toFold.foreach(e => TempDirs.deleteNow(Paths.get(root, s".folded_$e")))
      graft.ObservedMetrics.bumpGauge("sink.epoch_folds")
      true
    } catch { case e: Throwable =>
      // a fold that died mid-swap left hidden state only recoverSinkFold
      // can repair — re-arm the once-per-JVM check so the next fold call
      // on this root recovers before proceeding
      sinkRecoveryChecked.remove(root)
      throw e
    }
  }

  /** Sink roots whose [[recoverSinkFold]] check already ran in this JVM
    * — folds are the only writer of the hidden state the check repairs,
    * so one check per root per process suffices in the steady state. */
  private val sinkRecoveryChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Complete or roll back a [[foldEpochSink]] a dead writer left
    * mid-swap — see its crash-safety contract. No hidden `.folded_*`
    * dirs (the overwhelmingly common case) = one local listing, no-op. */
  def recoverSinkFold(root: String): Unit = {
    val entries = Option(new java.io.File(root).listFiles()).toSeq.flatten
    val dotted = entries.filter(f => f.isDirectory && f.getName.startsWith(".folded_"))
    if (dotted.isEmpty) {
      // a crash between the scratch write and the first hide leaves an
      // orphan scratch with every source dir intact — pure garbage
      entries.filter(f => f.isDirectory && f.getName.startsWith(".sinkfold_"))
        .foreach(s => TempDirs.deleteNow(s.toPath))
    } else {
      val scratches = entries.filter(f =>
        f.isDirectory && f.getName.startsWith(".sinkfold_"))
      if (scratches.nonEmpty) {
        // publish never happened: roll back — every hidden dir restores
        // (its rows were never deleted), THEN the scratch drops, so a
        // crash mid-rollback just re-enters here. A hidden dir whose
        // epoch target ALREADY exists (a replayed micro-batch re-wrote
        // the epoch after the crash) is superseded by the replay —
        // restoring would shadow newer rows, keeping it would leak an
        // invisible dir forever and pin recovery in the non-empty path
        // (ADVICE r18): delete it, with a warning for the operator log.
        dotted.foreach { d =>
          val target = Paths.get(root, "epoch=" + d.getName.stripPrefix(".folded_"))
          if (!Files.exists(target)) Durable.rename(d.toPath, target)
          else {
            System.err.println(s"[sinkfold] ${d.getName}: target $target " +
              "already re-written by a replayed epoch — dropping the " +
              "superseded hidden dir")
            TempDirs.deleteNow(d.toPath)
          }
        }
        scratches.foreach(s => TempDirs.deleteNow(s.toPath))
      } else {
        // published; only the cleanup died — the hidden rows are all
        // dominated by the collapsed dir
        dotted.foreach(d => TempDirs.deleteNow(d.toPath))
      }
    }
  }

  /** Drop `root/epoch=<epoch>` recursively, best-effort per file (the
    * [[TempDirs]] deletion stance). */
  def drop(root: String, epoch: Long): Unit =
    TempDirs.deleteNow(Paths.get(root, s"epoch=$epoch"))
}
