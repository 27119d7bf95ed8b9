package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide capture of the engine's `observe`d metrics — the bucket-cap
  * overflow counters every capped candidate generator registers
  * ([[graft.operators.DedupOps.groupMembers]]'s
  * `<metric>.overflow_rows`). The counters existed since round 3 but
  * nothing READ them in the query path: a capped mega-bucket was visible
  * only to the adversarial CapSpec, never in round artifacts. A
  * `QueryExecutionListener` records the latest value per metric name;
  * `Verify` dumps the map next to the correctness parquet so a non-zero
  * truncation count on real data is VISIBLE at the gate, not silent.
  *
  * Listener callbacks arrive on the listener-bus thread after the
  * action completes — [[awaitQuiescent]] polls until the map stops
  * changing, for callers that need the post-run snapshot.
  */
object ObservedMetrics {

  private val last = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val installed = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Register the capture listener on a session (idempotent). Operators
    * call this from their observation sites, so any session running a
    * capped generator records automatically. */
  def install(spark: SparkSession): Unit =
    if (installed.add(spark))
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.endsWith("_overflow")) {
              // sum() over an empty relation observes NULL, which still
              // means "zero rows overflowed"
              val v = Option(row.getAs[Any]("overflow_rows"))
                .map(_.asInstanceOf[Long]).getOrElse(0L)
              last.put(name, v)
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
      })

  def snapshot: Map[String, Long] = last.toMap

  // Driver-recorded GAUGES (e.g. ANN serving recall@k): quality metrics
  // computed over bounded driver artifacts, surfaced next to the
  // overflow counters in Verify's observed_metrics.json.
  private val gauges = scala.collection.concurrent.TrieMap.empty[String, Double]

  def recordGauge(name: String, value: Double): Unit = gauges.put(name, value)

  /** Increment a gauge used as a monotonic event COUNTER (e.g. overlay
    * folds completed). Last-value gauges can't prove an event HAPPENED
    * — a per-call pre-fold reading is overwritten by the next call, so
    * a spec asserting on the snapshot could pass without the event
    * (ADVICE r17); a counter's before/after delta can't. */
  def bumpGauge(name: String): Unit =
    gauges.updateWith(name) { v => Some(v.getOrElse(0.0) + 1.0) }

  def gaugeSnapshot: Map[String, Double] = gauges.toMap

  /** Wait (bounded) until the listener bus has drained: the snapshot is
    * considered settled once it stops changing for `quietMs`. */
  def awaitQuiescent(quietMs: Long = 500, timeoutMs: Long = 10000): Map[String, Long] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var prev = snapshot
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (System.nanoTime() - quietSince) < quietMs * 1000000L) {
      Thread.sleep(50)
      val cur = snapshot
      if (cur != prev) { prev = cur; quietSince = System.nanoTime() }
    }
    prev
  }
}
