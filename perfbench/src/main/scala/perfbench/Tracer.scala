package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds (fractional). */
final case class Span(id: Long, name: String, parent: Long, start: Double, end: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def wall: Double = end - start
}

/** Spark's view of one job, accumulated from the listener bus. */
final class JobRec(val jobId: Int, val span: Long, val batchId: Long, val start: Double) {
  @volatile var end: Double = Double.NaN
  var runMs = 0.0
  var cpuMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
}

/** Spark's view of a set of spans: jobs, executor time, shuffle bytes,
  * Catalyst phases, and the driver time outside jobs and Catalyst. */
final case class SparkView(jobs: Int, runMs: Double, cpuMs: Double,
    shuffleWrite: Long, shuffleRead: Long, jobWallMs: Double, catalystMs: Double, wallMs: Double) {
  def driverResidualMs: Double = math.max(0.0, wallMs - jobWallMs - catalystMs)
}

/** Span recorder plus the three Spark listeners. When disabled (the
  * untraced run) `span` is a plain call and no listener is registered. */
object Tracer {
  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"

  private val t0Epoch = System.currentTimeMillis().toDouble
  private val t0Nano = System.nanoTime()
  def nowMs(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var spark: SparkSession = _

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Catalyst phases (analysis, optimisation, planning) of every executed
    * query, as (start, end) epoch ms. */
  val catalyst = new ConcurrentLinkedQueue[(Double, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val listenerNs = new AtomicLong(0)
  def listenerMs: Double = listenerNs.get() / 1e6

  /** Time `body` as a span named `layer.call`; nests under the caller's
    * open span, and tags the Spark jobs the body starts with its id. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanKey)
      stack.set(id :: outer)
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowMs()
      try body
      finally {
        spans.add(Span(id, name, parent, start, nowMs()))
        sc.setLocalProperty(SpanKey, prevProp)
        stack.set(outer)
      }
    }

  /** A span whose timing was measured elsewhere (a streaming trigger's
    * phases, reported by the progress event). */
  def synthetic(name: String, parent: Long, start: Double, end: Double): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, parent, start, end))
    id
  }

  def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t)
  }

  def install(s: SparkSession): Unit = {
    spark = s
    if (!enabled) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val p = Option(e.properties)
        def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
        val rec = new JobRec(e.jobId,
          prop(SpanKey).map(_.toLong).getOrElse(0L),
          prop(BatchKey).map(_.toLong).getOrElse(-1L),
          e.time.toDouble)
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        val m = e.taskMetrics
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
          r.synchronized {
            if (m != null) {
              r.runMs += m.executorRunTime
              r.cpuMs += m.executorCpuTime / 1e6
              r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            }
          }
        }
      }
    })
    // a query's execution id is not visible here, so its phases are
    // attributed to spans by time
    def phases(qe: QueryExecution): Unit = timed {
      qe.tracker.phases.values.foreach(p =>
        catalyst.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
    }
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        phases(qe)
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        timed { progress.add(e) }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Wait until the listener bus has delivered every job end: the bus is
    * asynchronous, and the aggregation below reads what it recorded. */
  def quiesce(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    def pending = jobs.values.asScala.count(_.end.isNaN)
    var stable = 0
    var last = -1
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(100)
      val n = jobs.size + catalyst.size + pending * 1000
      if (pending == 0 && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  // ---- aggregation (after the run) --------------------------------------

  lazy val allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  private lazy val children: Map[Long, Seq[Span]] = allSpans.groupBy(_.parent)

  /** Ids of a span and every span below it. */
  def subtree(id: Long): Set[Long] = {
    val out = mutable.Set(id)
    var frontier = Seq(id)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(i => children.getOrElse(i, Nil).map(_.id))
      out ++= frontier
    }
    out.toSet
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its wall minus the time its child spans cover. */
  def selfMs(s: Span): Double =
    s.wall - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

  /** Self time summed per layer, over every span. */
  def layerSelfMs: Map[String, Double] =
    allSpans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum }

  /** Worst gap, over all spans with children, between a span's wall and
    * its children's covered time plus its self time (0 by construction;
    * reported so a reader can check the accounting). */
  def accountingGapMs: Double =
    allSpans.filter(s => children.contains(s.id)).map { s =>
      val kids = covered(children(s.id).map(c => (c.start, c.end)), s.start, s.end)
      math.abs(s.wall - kids - selfMs(s))
    }.foldLeft(0.0)(math.max)

  private def jobsOf(pred: JobRec => Boolean): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(pred)

  private def view(js: Seq[JobRec], wall: Double, lo: Double, hi: Double,
      cat: Double): SparkView =
    SparkView(js.size, js.map(_.runMs).sum, js.map(_.cpuMs).sum,
      js.map(_.shuffleWrite).sum, js.map(_.shuffleRead).sum,
      covered(js.map(j => (j.start, if (j.end.isNaN) hi else j.end)), lo, hi), cat, wall)

  private lazy val phaseList = catalyst.asScala.toSeq

  /** Catalyst time of the queries whose phases fall inside [lo, hi]. */
  def catalystMs(lo: Double, hi: Double): Double =
    phaseList.filter { case (a, b) => (a + b) / 2 >= lo && (a + b) / 2 <= hi }
      .map { case (a, b) => b - a }.sum

  /** Spark's view of one span, including every span below it. */
  def viewOf(s: Span): SparkView = {
    val ids = subtree(s.id)
    view(jobsOf(j => ids.contains(j.span)), s.wall, s.start, s.end, catalystMs(s.start, s.end))
  }

  /** Spark's view of one streaming trigger: the jobs tagged with its batch
    * id under the consumer span that started the query, and the trigger's
    * own planning time (the generator's queries overlap it in time). */
  def viewOfTrigger(consumeSpan: Long, batchId: Long, start: Double, end: Double,
      planningMs: Double): SparkView =
    view(jobsOf(j => j.batchId == batchId && j.span == consumeSpan), end - start, start, end,
      planningMs)

  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)
}
