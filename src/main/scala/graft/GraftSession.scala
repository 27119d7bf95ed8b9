package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Single place for the session shape every entry point needs: UTC
  * timestamps, ns-as-long parquet reads (the r1-r7 events fixture was
  * timestamp[ns]; the loader adapts either way — `Fixtures
  * .normalizeEventTs`), a per-JVM temp warehouse (bucketed tables must
  * not land in the working directory), right-sized shuffle parallelism,
  * and the fork-free local filesystem ([[graft.util.LocalFs]]: without
  * `libhadoop`, Hadoop's stock `file:` FS starts a `chmod` or `readlink`
  * process per checkpoint-log, state-store and parquet file), and the
  * engine's native SQL kernels ([[GraftExtensions]]). One builder so a
  * new main cannot forget an invariant.
  */
object GraftSession {

  private lazy val warehouseDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_wh_")
    graft.util.TempDirs.track(d)
    d.toString
  }

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
      // every kernel of GraftFunctions.all, in this session's registry
      // from construction; newSession() children and the clone each
      // streaming query runs on inherit it, so no operator registers
      .withExtensions(new GraftExtensions)
      // `file:` through graft.util.LocalFs: no chmod/readlink child
      // process per checkpoint-log, state-store or parquet file write
      .config(graft.util.LocalFs.conf)
      // Partition discovery of every staged artifact here lists a
      // BOUNDED dir count — the partition keys are index constants
      // (SigPrefixParts/DocBucketParts/MediaBandParts/XmClusterParts
      // ≤ 64+1 dirs; IVF cells ≤ MaxCentroids) — but Spark's default
      // threshold (32 paths) routed those listings through a
      // DISTRIBUTED job: measured 0.14–0.26 s and 8×dirs near-empty
      // tasks PER staged-index read at sf0.1 (e.g. stream_lsh spent
      // ~1.9 s/run across its five staged reads; 4.4 s → 2.5 s after).
      // A driver-side listing of ≤ a few hundred dirs is O(dirs)
      // syscalls at any corpus size; artifacts with genuinely huge
      // partition counts (an object-store lake) still go distributed
      // past the threshold, which a deployment retunes with
      // `spark.conf.set` (a runtime SQL conf; opt r19; guide §6
      // file-listing).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      // Every streaming query here is a DRAIN-AND-STOP AvailableNow run
      // (the bench/verify contract; production analog: the periodic-
      // drain ingestion pattern AvailableNow exists for). After the last
      // data batch the engine runs ONE extra no-data micro-batch purely
      // to advance the watermark for state eviction/timeouts — a full
      // batch cycle (offset+commit log writes, per-partition state-store
      // load/commit: 32 store instances for the stream-stream join) that
      // cannot change any result this engine declares: no key uses
      // append-mode watermark-held aggregate finals (tumbling/session
      // are complete-mode for exactly that reason), the dedup/tracker
      // state evictions only drop state that the stop discards anyway,
      // and data batches run back-to-back under AvailableNow so no
      // no-data batch can interleave mid-stream. Measured ~0.5-0.7 s per
      // stateful drain at sf0.1 (opt r20). A continuous deployment that
      // wants prompt timeout firing between sparse data batches sets the
      // conf back to true with `spark.conf.set` (a runtime SQL conf).
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")

  /** Add every kernel of [[graft.functions.GraftFunctions.all]] to the
    * registry of a session someone else already built (one call per
    * session). Sessions from [[builder]] carry them from construction
    * and need no call; so does any session built with
    * `spark.sql.extensions=graft.GraftExtensions`. Registers the same
    * name, expression info and builder the extension injects.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    graft.functions.GraftFunctions.all.foreach { case (name, clazz, builder) =>
      registry.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), builder)
    }
  }

  /** Measurement hermeticity for the measuring mains (Bench, Verify): a
    * measurement JVM must reflect only its own run's work. A prior JVM
    * killed between publishing an overlay (ANN segments, cross-modal
    * cluster deltas) and retiring it leaves a live persisted
    * registration — durability working as designed for a serving tier —
    * so both registrations drop and serving starts from the base view.
    * Likewise appends a dead prior JVM admitted survive in the DURABLE
    * staged indexes by design, so any index carrying appends re-stages
    * (threshold 0.0 trips exactly when the persisted append counter is
    * non-zero; a clean index is a no-op and keeps its warm staging).
    * Restart durability itself stays spec-locked. A failed re-stage is
    * named on stderr under `tag` and never aborts the run. */
  def hermeticReset(spark: SparkSession, sfDir: String, tag: String): Unit = {
    graft.operators.SimilarityOps.Segments.drop(sfDir)
    graft.operators.DedupOps.ClusterDeltas.drop(sfDir)
    try {
      graft.operators.DedupOps.TextIndex.maybeRestage(spark, sfDir, 0.0)
      graft.operators.DedupOps.MediaModalities.foreach(m =>
        m.index.maybeRestage(spark, sfDir, 0.0))
      graft.operators.SimilarityOps.maybeRetrainStagedIndex(spark, sfDir, 0.0)
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[$tag] staged-index hermetic reset failed: ${e.getMessage}")
    }
  }
}
