package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** `ingest`: produce and consume over one graft-msglog topic.
  *
  * Catch-up: a backlog produced at set-up is drained by the consumer.
  * Live (open loop): one generator thread produces a batch every
  * `IntervalMs` on a fixed schedule while the same consumer keeps up. The
  * consumer is a continuous `readStream.format("graft-msglog")` with
  * `maxRowsPerTrigger`: a watermarked dedup on (producer, sequence), then
  * a dead-letter split committed through an epoch-keyed `foreachBatch`
  * parquet sink. Messages carry their due time, so latency is measured
  * from the schedule, not from when the generator got round to them. */
final class Ingest(ctx: Ctx, res: Result) extends Workload {
  import ctx.spark

  val Backlog = 4000
  val MaxRowsPerTrigger = 800
  val IntervalMs = 200
  val BatchMsgs = 30
  // The events table is a log of distinct, time-ordered events; resends
  // and late event times are not in it. They are planted here so that the
  // consumer's dedup state and watermark have work: shares chosen, not
  // measured (perfbench/README.md, "Input shapes").
  val DupShare = 0.05
  val LateShare = 0.1
  val MaxLateMs = 30000
  val Producers = 4
  /** Values above this are poison: the consumer's dead-letter predicate. */
  val PoisonAbove = 250.0
  val DrainTimeoutMs = 60000L

  private val rnd = new SplittableRandom(ctx.seed * 31 + 5)

  private val Envelope = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, " +
      "props STRING, producer_name STRING, sequence_id BIGINT, event_time TIMESTAMP, " +
      "properties MAP<STRING, STRING>")
  private val poison = col("value").isNull || col("props").isNull || col("value") > PoisonAbove

  /** One message send: the source row, its due time and event-time lag. */
  private final case class Send(row: Row, dueMs: Long, lateMs: Long)

  private var eventsDir: Path = _
  private var topic: Path = _
  private var sinkRoot: Path = _
  private var events: IndexedSeq[Row] = _
  private val sentIds = mutable.Set.empty[Long]
  private var sentMsgs = 0L
  private var dups = 0L
  private var lates = 0L
  private val visible = new ConcurrentHashMap[Long, Double]()
  private val produced = new AtomicLong(0)
  private val produceMs = mutable.ArrayBuffer.empty[Double]
  private val generatorLateMs = mutable.ArrayBuffer.empty[Double]
  private var produceFailed = 0
  private var backlogMax = 0L
  private var liveStartMs = 0.0
  private var catchupBatches = Set.empty[Long]
  private var liveBatches = Set.empty[Long]
  private var consumeSpan = 0L

  private def envelope(s: Send): Row = {
    val r = s.row
    val id = r.getLong(0)
    Row(id, new Timestamp(System.currentTimeMillis()), r.getLong(2), r.getString(3),
      r.getDouble(4), r.getString(5), s"gen-${id % Producers}", id,
      new Timestamp(s.dueMs - s.lateMs), Map("due_ms" -> s.dueMs.toString))
  }

  /** Produce one batch of sends through the connector's batch writer. */
  private def produce(sends: Seq[Send], ledgers: Int): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sends.map(envelope), ledgers), Envelope)
    Tracer.span("sources.produce") {
      df.write.format("graft-msglog").mode("append").save(topic.toString)
    }
  }

  /** The sends for rows `from until to`: each message once, a `DupShare`
    * of them sent again a few batches later, a `LateShare` stamped with an
    * event time up to `MaxLateMs` before its due time. */
  private def plan(from: Int, to: Int, dueOf: Int => Long): Seq[(Int, Send)] = {
    val out = mutable.ArrayBuffer.empty[(Int, Send)]
    (from until to).foreach { i =>
      val slot = i - from
      val late = if (rnd.nextDouble() < LateShare) 1L + rnd.nextInt(MaxLateMs) else 0L
      if (late > 0) lates += 1
      out += slot -> Send(events(i), dueOf(slot), late)
      if (rnd.nextDouble() < DupShare) {
        val again = slot + BatchMsgs * (1 + rnd.nextInt(3))
        out += again -> Send(events(i), dueOf(again), late)
        dups += 1
      }
    }
    out.toSeq
  }

  def run(): Unit = {
    res.inputs ++= Map("backlog_msgs" -> Backlog, "max_rows_per_trigger" -> MaxRowsPerTrigger,
      "live_interval_ms" -> IntervalMs, "live_batch_msgs" -> BatchMsgs,
      "offered_msgs_per_s" -> BatchMsgs * 1000.0 / IntervalMs,
      "live_seconds" -> ctx.seconds, "dup_share" -> DupShare,
      "late_share" -> LateShare, "max_late_ms" -> MaxLateMs, "producers" -> Producers)
    // set-up, once per generated copy of the input: read the events table
    // through the engine's loader, produce the backlog into a fresh topic
    val inputs = Files.list(ctx.input).iterator().asScala
      .filter(_.getFileName.toString.startsWith("ingest-")).toSeq.sortBy(_.toString)
    val preps = inputs.map { d =>
      val t0 = System.nanoTime()
      eventsDir = d
      events = graft.model.Fixtures.events(spark, d.toString).collect().toIndexedSeq
      val run = ctx.work.resolve(d.getFileName.toString)
      topic = run.resolve("topic")
      sinkRoot = run.resolve("sink")
      sentIds.clear(); sentMsgs = 0; dups = 0; lates = 0
      val now = System.currentTimeMillis()
      val sends = plan(0, Backlog, _ => now).map(_._2)
      sends.grouped(Backlog / 4).foreach(g => res.op("produce")(produce(g, 4)))
      sends.foreach(s => sentIds += s.row.getLong(0))
      sentMsgs = sends.size
      ms(t0) / 1000
    }
    res.mark("setup")
    res.e2e("setup_s") = ctx.genS + ctx.sessionS + Stats.median(preps)
    res.sample("setup_prep_s", preps)
    Heap.sample()
    val heapFrom = Heap.mark()

    var q: StreamingQuery = null
    val progress = mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]
    def poll(): Long = {
      if (q.exception.isDefined) throw q.exception.get
      q.recentProgress.foreach(p => if (p.numInputRows > 0 || !progress.contains(p.batchId))
        progress(p.batchId) = p)
      progress.values.map(_.numInputRows).sum
    }
    def drain(target: Long, trackBacklog: Boolean): Unit = {
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      var consumed = poll()
      while (consumed < target && System.currentTimeMillis() < deadline) {
        Thread.sleep(10)
        consumed = poll()
        if (trackBacklog) backlogMax = math.max(backlogMax, produced.get() - consumed)
      }
      res.check("drained", consumed >= target, s"consumed $consumed of $target")
    }

    Tracer.span("streaming.consume") {
      consumeSpan = Tracer.currentSpan
      q = startConsumer()
    }
    // catch-up: from the first trigger's start to the end of the trigger
    // that consumed the last backlog message
    drain(sentMsgs, trackBacklog = false)
    res.mark("catchup")
    catchupBatches = progress.keySet.toSet
    val cps = progress.values.filter(_.numInputRows > 0).toSeq
    val catchupMs = cps.map(endMs).max - cps.map(startMs).min
    res.e2e("throughput_per_s") = sentMsgs / (catchupMs / 1000)
    res.sample("catchup_rows_per_trigger", cps.map(_.numInputRows.toDouble))

    // live: the generator thread produces on schedule for the run's seconds
    val nBatches = ctx.seconds * 1000 / IntervalMs
    liveStartMs = System.currentTimeMillis() + 50.0
    val from = Backlog
    val sends = plan(from, math.min(events.size, from + nBatches * BatchMsgs),
      slot => liveStartMs.toLong + (slot / BatchMsgs) * IntervalMs.toLong)
    val byBatch = sends.groupBy(_._1 / BatchMsgs).toSeq.sortBy(_._1)
      .filter(_._1 < nBatches + 3).map(_._2.map(_._2))
    produced.set(sentMsgs)
    val generator = new Thread(() => byBatch.foreach { batch =>
      val due = batch.head.dueMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val t0 = System.nanoTime()
      generatorLateMs.synchronized { generatorLateMs += System.currentTimeMillis() - due }
      res.synchronized(res.op("produce")(produce(batch, 1))) match {
        case Some(_) =>
          produceMs.synchronized { produceMs += ms(t0) }
          produced.addAndGet(batch.size)
        case None => produceFailed += 1
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    val liveSent = byBatch.flatten
    liveSent.foreach(s => sentIds += s.row.getLong(0))
    sentMsgs += liveSent.size
    while (generator.isAlive) {
      val c = poll()
      backlogMax = math.max(backlogMax, produced.get() - c)
      Thread.sleep(10)
    }
    generator.join()
    res.mark("live")
    drain(produced.get(), trackBacklog = true)
    res.e2e("heap_after_gc_p75_mb") = Heap.p75Since(heapFrom)
    Heap.sample()
    liveBatches = progress.keySet.toSet -- catchupBatches
    def phase(b: Set[Long], k: String) = progress.values.filter(p =>
      b.contains(p.batchId) && p.numInputRows > 0).map(_.durationMs.getOrDefault(k, 0L).toDouble).toSeq
    Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets", "latestOffset")
      .foreach { k =>
        res.sample(s"live_${k}_ms", phase(liveBatches, k))
        res.sample(s"catchup_${k}_ms", phase(catchupBatches, k))
      }
    res.sample("live_rows_per_trigger", progress.values.filter(p =>
      liveBatches.contains(p.batchId)).map(_.numInputRows.toDouble).toSeq)
    q.stop()
    q.awaitTermination()
    res.mark("stopped")
    progress.values.foreach(_ => res.synchronized(res.op("trigger")(())))

    res.e2e("write_p50_ms") = Stats.median(produceMs.toSeq)
    res.sample("produce_ms", produceMs.toSeq)
    res.sample("generator_late_ms", generatorLateMs.toSeq)
    res.inputs ++= Map("sent_msgs" -> sentMsgs, "distinct_ids" -> sentIds.size,
      "dup_sends" -> dups, "late_msgs" -> lates, "live_batches" -> byBatch.size)
    checkSink()
  }

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue

  private def startConsumer(): StreamingQuery = {
    val data = sinkRoot.resolve("data").toString
    spark.readStream.format("graft-msglog")
      .option("maxRowsPerTrigger", MaxRowsPerTrigger.toString)
      .load(topic.toString)
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("producer_name", "sequence_id")
      .select(col("event_id"),
        col("properties").getItem("due_ms").cast("long").as("due_ms"),
        when(poison, lit("dlq")).otherwise(lit("main")).as("topic"))
      .writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // the dead-letter split is one write into two topic partitions;
        // idempotent per epoch (a replay overwrites its own epoch dir)
        batch.write.mode("overwrite").partitionBy("topic")
          .parquet(s"$data/epoch=$epochId")
        visible.put(epochId, Tracer.nowMs())
        ()
      }
      .option("checkpointLocation", sinkRoot.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  /** Every produced id lands exactly once in main ∪ DLQ (planted duplicate
    * sends removed), and the DLQ holds exactly the poison messages. Also
    * derives the live-phase latencies from the sink's epochs. */
  private def checkSink(): Unit = {
    val schema = StructType.fromDDL(
      "event_id BIGINT, due_ms BIGINT, epoch BIGINT, topic STRING")
    val data = sinkRoot.resolve("data")
    val all =
      if (!Files.isDirectory(data)) Seq.empty[Row]
      else spark.read.schema(schema).parquet(data.toString)
        .select("event_id", "due_ms", "epoch", "topic").collect().toSeq
    val dlq = all.filter(_.getString(3) == "dlq")
    val counts = all.groupBy(_.getLong(0)).map { case (k, v) => k -> v.size }
    val twice = counts.count(_._2 > 1)
    val missing = sentIds.count(id => !counts.contains(id))
    val extra = counts.keys.count(id => !sentIds.contains(id))
    res.check("exactly-once-main-dlq", twice == 0 && missing == 0 && extra == 0,
      s"duplicated $twice missing $missing unexpected $extra")
    val poisonIds = events.filter(_.getDouble(4) > PoisonAbove).map(_.getLong(0))
      .filter(sentIds.contains).toSet
    val dlqIds = dlq.map(_.getLong(0)).toSet
    res.check("dlq-is-poison", dlqIds == poisonIds,
      s"dlq ${dlqIds.size} poison ${poisonIds.size}")
    res.inputs("poison_msgs") = poisonIds.size

    val lat = all.filter(_.getLong(1) >= liveStartMs.toLong).flatMap { r =>
      Option(visible.get(r.getLong(2))).map(v => v - r.getLong(1))
    }
    res.e2e("latency_p50_ms") = Stats.median(lat)
    res.e2e("latency_p95_ms") = Stats.quantile(lat, 0.95)
    res.sample("latency_ms", lat)
  }

  def layerMetrics(): Unit = {
    val L = res.layer
    val ps = Tracer.progress.asScala.toSeq.map(_.progress)
      .groupBy(_.batchId).map(_._2.maxBy(_.numInputRows)).toSeq.sortBy(_.batchId)
    val live = ps.filter(p => liveBatches.contains(p.batchId))
    val catchup = ps.filter(p => catchupBatches.contains(p.batchId) && p.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).doubleValue
    def med(xs: Seq[Double]) = Stats.median(xs)
    L("sources.produce_ms") = med(produceMs.toSeq)
    L("sources.latest_offset_ms") = med(live.map(d(_, "latestOffset")))
    L("sources.rows_per_trigger") = med(catchup.map(_.numInputRows.toDouble))
    L("sources.produce_bytes_per_msg") =
      Dirs.bytes(topic, _.toString.endsWith(".glog")).toDouble / math.max(1L, sentMsgs)
    L("sources.produce_failed") = produceFailed.toDouble
    L("streaming.triggers") = live.size.toDouble
    L("streaming.trigger_ms") = med(live.map(d(_, "triggerExecution")))
    L("streaming.add_batch_ms") = med(live.map(d(_, "addBatch")))
    L("streaming.wal_commit_ms") = med(live.map(d(_, "walCommit")))
    L("streaming.commit_offsets_ms") = med(live.map(d(_, "commitOffsets")))
    L("streaming.query_planning_ms") = med(live.map(d(_, "queryPlanning")))
    L("streaming.useful_trigger_share") =
      live.count(_.numInputRows > 0).toDouble / math.max(1, live.size)
    L("streaming.backlog_max_msgs") = backlogMax.toDouble
    L("streaming.generator_late_ms") = Stats.quantile(generatorLateMs.toSeq, 0.95)
    val state = catchup.flatMap(_.stateOperators.headOption)
    L("streaming.state_rows") = ps.flatMap(_.stateOperators.headOption)
      .lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    L("streaming.state_commit_ms") = med(state.map(_.commitTimeMs.toDouble))

    // each trigger as a span under the consumer, its phases as children
    // laid out in execution order
    val phases = Seq("latestOffset" -> "sources.latest_offset",
      "walCommit" -> "streaming.wal_commit",
      "queryPlanning" -> "streaming.query_planning", "addBatch" -> "streaming.add_batch",
      "commitOffsets" -> "streaming.commit_offsets")
    val views = live.map { p =>
      val s = startMs(p)
      val id = Tracer.synthetic("streaming.trigger", consumeSpan, s, endMs(p))
      var at = s
      phases.foreach { case (k, name) =>
        val len = d(p, k)
        if (len > 0) { Tracer.synthetic(name, id, at, at + len); at += len }
      }
      Tracer.viewOfTrigger(consumeSpan, p.batchId, s, endMs(p), d(p, "queryPlanning"))
    }
    L("ingest.trigger.jobs") = med(views.map(_.jobs.toDouble))
    L("ingest.trigger.driver_residual_ms") = med(views.map(_.driverResidualMs))

    val ev = graft.model.Fixtures.events(spark, eventsDir.toString)
    L("functions.crc32c_ms") = Stats.median((0 until 3).map(_ => timeMs(
      Tracer.span("functions.crc32c") {
        ev.select(call_function("crc32c", col("props").cast("binary"))).write.format("noop")
          .mode("overwrite").save()
      })))
  }
}
