package graft.sources

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Producer-side retry with backoff — SURVEY §2.1 row 21.
  *
  * Reference semantics, re-expressed:
  *
  *  - `RetrySend` (`src/entity/producer.rs:350-354`): `Never` /
  *    `Forever` / `LimitTo { max_retry_count, back_off_sec }`. The send
  *    loop (`producer.rs:185-223`) reuses the SAME sequence id on every
  *    attempt — which is what makes retrying safe: the broker dedups on
  *    `(producer, sequence_id)`, so an attempt that actually landed
  *    before its acknowledgement was lost is dropped as a replay, never
  *    duplicated. This engine has the same guarantee through
  *    [[MsgLogSeqFrontier]] (`dedupOnAppend`).
  *  - the connection retry loop (`src/netflow/connection.rs:122-160`):
  *    retry only while `can_retry_from_error(err)` holds, a max of 0
  *    means unbounded, fixed-backoff sleep between attempts, and the
  *    LAST error is rethrown when retries exhaust.
  *
  * Spark-first division of labor: TASK retry is Spark's own layer — a
  * failed writer task reruns whole, and the epoch-keyed/write-id'd
  * ledger names make that idempotent. This utility is the layer BENEATH
  * a task: a transient per-operation failure (an NFS hiccup on the
  * publish rename, a racing registry append) where failing and
  * rescheduling the whole task is the wrong granularity — exactly the
  * reference's producer loop, which retries the send without tearing
  * down the producer. Deterministic errors (checksum, schema,
  * busy/not-found verb misuse) never retry, mirroring
  * `can_retry_from_error`.
  */
object MsgLogRetry {

  sealed trait RetrySend
  object RetrySend {
    /** One attempt, failures surface immediately (`producer.rs:203`). */
    case object Never extends RetrySend
    /** Unbounded retries at [[DefaultBackOffMs]] — the connection
      * loop's `max = 0` convention (`connection.rs:149-150`). */
    case object Forever extends RetrySend
    /** At most `maxRetryCount` retries, `backOffMs` sleep between
      * attempts (`producer.rs:206-213`). */
    final case class LimitTo(maxRetryCount: Int, backOffMs: Long) extends RetrySend

    /** Parse the writer-option form: `never` / `forever` / `limitTo`
      * (the latter reads `retryMax` / `retryBackoffMs`, each named when
      * malformed or negative — the [[MsgLogScan.longOption]] discipline). */
    def parse(name: String, options: CaseInsensitiveStringMap): RetrySend = name match {
      case "never" => Never
      case "forever" => Forever
      case "limitTo" =>
        val m = MsgLogScan.longOption(options, "retryMax", min = 0L)
          .getOrElse(throw new IllegalArgumentException(
            "graft-msglog: retrySend=limitTo requires retryMax"))
        if (m > Int.MaxValue) throw new IllegalArgumentException(
          s"graft-msglog: retryMax $m must be <= ${Int.MaxValue}")
        LimitTo(m.toInt,
          MsgLogScan.longOption(options, "retryBackoffMs", min = 0L).getOrElse(DefaultBackOffMs))
      case other => throw new IllegalArgumentException(
        s"graft-msglog: unknown retrySend '$other' (never|forever|limitTo)")
    }
  }

  /** The connection config's `default_retry_backoff_sec = 5`
    * (`src/main.rs:19-24`), in ms. */
  val DefaultBackOffMs = 5000L

  /** The retryable slice of the error taxonomy — the file-backed analog
    * of `can_retry_from_error`: transient IO is retryable; every coded
    * wire error this engine raises ([[MsgLogServerError]]) is
    * deterministic (checksum, schema, busy, not-found — a retry cannot
    * change the outcome) and fails fast, as does a structurally missing
    * file. The protocol's transient codes (ServiceNotReady 6,
    * TooManyRequests 14, PersistenceError 1) are broker-runtime
    * conditions with no file analog in this scope (SURVEY §7.0). */
  def canRetry(e: Throwable): Boolean = e match {
    case _: MsgLogServerError => false
    case _: java.nio.file.NoSuchFileException => false
    case _: java.io.IOException => true
    case _ => false
  }

  /** Operations started under [[retry]] (attempts, not calls) —
    * observability that a wired path actually routes through here. */
  val attempts = new java.util.concurrent.atomic.AtomicLong(0)

  /** Backoffs actually taken — attempts minus first tries. Nonzero here
    * means some operation FAILED transiently and was silently re-run:
    * the signal `Verify` surfaces as the `msglog.retry_backoffs` gauge
    * so a round that limped through on retries is visible in its
    * artifacts, not just in stderr noise. */
  val backoffs = new java.util.concurrent.atomic.AtomicLong(0)

  /** The reference loop verbatim: run `op`; on a retryable failure
    * within budget, sleep the backoff and go again — the LAST error is
    * rethrown when the budget exhausts or the error is deterministic.
    * `sleep` is an injected parameter (tests assert the backoff
    * schedule instead of sleeping through it — no mutable global
    * seam); production callers take the real-sleep default. */
  def retry[T](policy: RetrySend,
      isRetryable: Throwable => Boolean = canRetry,
      sleep: Long => Unit = Thread.sleep)(op: => T): T = {
    var count = 0
    while (true) {
      attempts.incrementAndGet()
      try return op
      catch {
        case scala.util.control.NonFatal(e) =>
          val (allowed, backOff) = policy match {
            case RetrySend.Never => (false, 0L)
            case RetrySend.Forever => (isRetryable(e), DefaultBackOffMs)
            case RetrySend.LimitTo(max, b) =>
              (isRetryable(e) && count < max, b)
          }
          if (!allowed) throw e
          count += 1
          backoffs.incrementAndGet()
          sleep(backOff)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
