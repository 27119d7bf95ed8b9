package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` holds the end-to-end metrics,
  * `layer` the per-layer ones (traced runs), `samples` the raw values the
  * steadiness report summarises. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  /** Count one operation; a thrown operation counts as failed and is
    * recorded, and the run goes on. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        record(s"$kind-error", ok = false, e.toString.take(300))
        None
    }
  }

  /** A correctness check: one operation, failed when `ok` is false. */
  def check(name: String, ok: Boolean, detail: Any = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    record(name, ok, detail)
  }

  private def record(name: String, ok: Boolean, detail: Any): Unit = {
    if (!ok) System.err.println(s"[perfbench] $name FAILED: $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
  }

  def sample(name: String, xs: Seq[Double]): Unit = samples(name) = xs

  /** JVM uptime (s) at each phase boundary of the run. */
  val timeline = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit =
    timeline(phase) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

/** A run's settings: `input` is the generated-input dir, `genS` the time
  * its generation took and `sessionS` the JVM and Spark session start. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    input: Path, work: Path, cores: Int, genS: Double, sessionS: Double)

object Dirs {
  /** Total bytes of the regular files under `p` that satisfy `pred`. */
  def bytes(p: Path, pred: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x) && pred(x)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** Benchmark entry point: one workload per JVM.
  *
  * {{{
  * perfbench.Main --workload ingest|curate --seed N --seconds S
  *   --trace 0|1 --input GEN_DIR --gen-s SECONDS --work DIR --out FILE
  *   --launch-ms EPOCH_MS
  * }}}
  * `--launch-ms` is when the launcher started the JVM: session start is
  * measured from it.
  * Writes the run's record (metrics, steadiness samples, checks, input
  * properties and, when traced, the spans) as JSON to FILE.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val input = Paths.get(opts("input")).toAbsolutePath
    val genS = opts.getOrElse("gen-s", "0").toDouble
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val launchMs = opts("launch-ms").toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()

    Heap.install()
    Tracer.enabled = trace
    val spark = graft.GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.registerFunctions(spark)
    Tracer.install(spark)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0

    val ctx = Ctx(spark, seed, seconds, input, work, cores, genS, sessionS)
    val res = new Result
    val w: Workload = workload match {
      case "ingest" => new Ingest(ctx, res)
      case "curate" => new Curate(ctx, res)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    res.mark("session")
    w.run()
    res.mark("run")
    Tracer.quiesce()
    val heap = Heap.samplesMb
    res.extra("heap_peak_after_gc_mb") = heap.max
    res.sample("heap_after_gc_mb", heap)
    if (trace) {
      w.layerMetrics()
      res.layer("failed_ops_ratio") = res.failed.toDouble / math.max(1L, res.attempted)
      res.layer("heap.peak_after_gc_mb") = heap.max
      res.layer("trace.spans") = Tracer.allSpans.size.toDouble
      res.layer("trace.listener_ms") = Tracer.listenerMs
      Seq("latency_p50_ms", "latency_p95_ms", "write_p50_ms", "throughput_per_s").foreach(m =>
        res.layer(s"trace.$m") = res.e2e.getOrElse(m, 0.0))
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "run_id" -> Tracer.runId,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "e2e" -> res.e2e.toMap, "layer" -> res.layer.toMap,
      "inputs" -> res.inputs.toMap, "checks" -> res.checks.toSeq,
      "extra" -> res.extra.toMap, "timeline_s" -> res.timeline.toMap,
      "steadiness" -> Map(
        "nproc" -> cores, "load1_start" -> loadStart, "load1_end" -> loadAvg(),
        "metrics" -> res.samples.map { case (k, v) => k -> Stats.summary(v) }.toMap),
      "spans" -> (if (!trace) Nil else Tracer.allSpans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start" -> s.start,
        "end" -> s.end, "run_id" -> Tracer.runId, "self_ms" -> Tracer.selfMs(s)))),
      "layer_self_ms" -> (if (!trace) Map.empty else Tracer.layerSelfMs),
      "span_accounting_gap_ms" -> (if (!trace) 0.0 else Tracer.accountingGapMs))
    Files.write(out, Stats.json(record).getBytes(StandardCharsets.UTF_8))
    // the record is written; the launcher removes the run's directory, so
    // skip Spark's and the engine's shutdown clean-up
    Runtime.getRuntime.halt(0)
  }

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }
}

/** Heap use right after each collection of the run: a listener on every
  * collector's notifications, plus forced full collections at the end of
  * set-up and of the measured window (outside any timed region). Heap use
  * between collections depends on when the collector happens to run; use
  * right after one is what the program holds, plus the old-generation
  * garbage that collection left. */
object Heap {
  private val afterGc = mutable.ArrayBuffer.empty[Double]
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private def note(used: Long): Unit = synchronized { afterGc += used / 1048576.0 }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          note(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }, null, null)
    case _ =>
  }

  /** A forced sample. The second collection frees what Spark's cleaner
    * released after the first one made its weak references due. */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    note(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Heap use (MB) right after each collection so far, in order. */
  def samplesMb: Seq[Double] = synchronized(afterGc.toList)

  /** Where a measured window starts, for [[p75Since]]. */
  def mark(): Int = samplesMb.size

  /** The 75th percentile of heap use after the collections since `from`
    * (after a forced one when there were none). */
  def p75Since(from: Int): Double = {
    if (samplesMb.size == from) sample()
    Stats.quantile(samplesMb.drop(from), 0.75)
  }
}

/** A workload: set up, measure for the run's seconds, check. */
trait Workload {
  def run(): Unit
  /** Fill the per-layer metrics from the traced run's spans and listeners. */
  def layerMetrics(): Unit

  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Time one call (ms). */
  protected def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    ms(t0)
  }
}
