package graft.sources.loki

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxRows, ReadMinRows, SupportsTriggerAvailableNow}

/** Micro-batch TAILING over Loki — beyond-parity: the reference's scan is
  * `Boundedness::Bounded` (scan.rs:48), but Spark's micro-batch model
  * makes a log tail natural, and it composes with everything the batch
  * scan already has (label/line pushdown via the assembled LogQL,
  * columnar or row decode, paging under `query_limit`/`server_max_entries`,
  * width slicing under `partitions=N`).
  *
  * OFFSETS are event-time nanoseconds: batch k reads the half-open window
  * [offset(k−1), offset(k)) via the same `query_range` readers the batch
  * scan uses — start inclusive, end exclusive, so consecutive batches are
  * DISJOINT and their union is gap-free. Against an immutable ingested
  * history that is exactly-once by construction (the offset log replays
  * the same windows on recovery). The one caveat of event-time tailing:
  * a row whose timestamp is inside an already-committed window but which
  * REACHES Loki later (ingest lag) is missed — `stream_lag_ms` trails the
  * latest offset behind wall-clock so late arrivals land in a future
  * batch's window; size it to the ingest pipeline's p99 delay.
  *
  * The initial offset is `stream_start_ns` (or a pushed lower timestamp
  * bound, or the scan's default now−30 d); `stream_end_ns` (or a pushed
  * upper bound) caps the tail so `Trigger.AvailableNow` drains to the cap
  * and terminates — the bounded-replay shape the gate exercises.
  */
class LokiMicroBatchStream(scan: LokiScan)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val opts = scan.options

  /** Upper cap of the tail: a pushed `timestamp <` bound wins (tightest
    * contract, like the batch window), else `stream_end_ns`, else
    * unbounded (tail forever).
    */
  private def capNs: Long =
    (scan.endNs.toSeq ++ opts.streamEndNs.toSeq)
      .reduceOption((a, b) => math.min(a, b))
      .getOrElse(Long.MaxValue)

  private def latestNs: Long =
    math.min(LokiHttp.nowNs - opts.streamLagMs * 1000000L, capNs)

  /** Trigger.AvailableNow contract: pin "now" once, drain to it, stop —
    * without the pin a slow drain against a live endpoint would chase a
    * moving latest offset and never terminate.
    */
  @volatile private var availableEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(latestNs)

  /** Start of the tail: TIGHTEST bound wins — max over a pushed lower
    * timestamp bound and `stream_start_ns` — mirroring [[capNs]]'s min
    * (an `orElse` priority would let a stale pushed bound widen the tail
    * past what stream_start_ns asked for). LokiPushdownRule does not
    * match streaming relations, so scan.startNs is populated only when a
    * scan is built from a table carrying pushed bounds;
    * stream_start_ns is the live control. Label/line pushdown for the
    * tail has its own explicit channel instead: the `selector` option
    * ([[LokiOptions.selector]]) puts raw LogQL matchers + line stages in
    * scan.logql, so every batch's query_range reads only matching
    * streams — without it a filtered tail pulls the full firehose and
    * filters host-side.
    */
  override def initialOffset(): Offset = LokiOffset(
    (scan.startNs.toSeq ++ opts.streamStartNs.toSeq)
      .reduceOption((a, b) => math.max(a, b))
      .getOrElse(LokiHttp.thirtyDaysAgoNs))

  override def latestOffset(): Offset =
    LokiOffset(availableEnd.getOrElse(latestNs))

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow):
  // `max_rows_per_batch` / `max_bytes_per_batch` cap each trigger's
  // window — the backfill-shaping controls. A tail recovering from a
  // long outage otherwise reads the whole missed window in ONE batch;
  // with a cap, Trigger.AvailableNow drains it in bounded batches and a
  // live tail never admits more than a batch's worth. Both caps are
  // placed by ONE `index/stats` bisection (the response carries entries
  // AND bytes); each is approximate — stats granularity, and a burst
  // inside one minimal step can overshoot — but progress is guaranteed
  // (the returned offset always advances when rows exist).
  // `min_rows_per_batch` is the other direction: a LIVE tail holds the
  // offset until enough rows accumulate (or min_batch_delay_ms passes),
  // coalescing trickle arrivals instead of emitting thousands of tiny
  // windows — each one a checkpoint commit and a task round.
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq.empty[ReadLimit] ++
      (if (opts.maxRowsPerBatch > 0) Seq(ReadLimit.maxRows(opts.maxRowsPerBatch)) else Nil) ++
      (if (opts.maxBytesPerBatch > 0) Seq(ReadLimit.maxBytes(opts.maxBytesPerBatch)) else Nil) ++
      (if (opts.minRowsPerBatch > 0)
        Seq(ReadLimit.minRows(opts.minRowsPerBatch, opts.minBatchDelayMs)) else Nil)
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Wall-clock of the last non-held trigger decision, for ReadMinRows'
    * staleness bound. Driver-side state only (admission control runs on
    * the driver); not checkpointed — a restart resets the delay window,
    * which merely triggers one possibly-small batch early.
    */
  @volatile private var lastAdvanceMs: Long = -1L

  private def flatten(limit: ReadLimit): Seq[ReadLimit] = limit match {
    case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
    case other => Seq(other)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LokiOffset].ns
    // clamped at the committed position: a backwards wall-clock step
    // (NTP) must never move the offset BACKWARDS — a smaller committed
    // end would re-read rows the previous batch already emitted
    val cap = math.max(s, availableEnd.getOrElse(latestNs))
    if (cap <= s) return LokiOffset(cap)
    val parts = flatten(limit)
    val maxRows = parts.collectFirst { case mr: ReadMaxRows => mr.maxRows }
    val maxBytes = parts.collectFirst { case mb: ReadMaxBytes => mb.maxBytes }
    val minRows = parts.collectFirst { case mn: ReadMinRows => mn }
    // min-rows hold applies to a LIVE tail only: under AvailableNow the
    // end is pinned and nothing new will arrive — holding the final
    // sliver would strand it (the drain treats "no new offset" as done)
    val held = minRows.exists { mn =>
      availableEnd.isEmpty && {
        val now = System.currentTimeMillis()
        if (lastAdvanceMs < 0) lastAdvanceMs = now
        val young = now - lastAdvanceMs < mn.maxTriggerDelayMs
        young && countAvailable(s, cap) < mn.minRows
      }
    }
    if (held) LokiOffset(s)
    else {
      lastAdvanceMs = System.currentTimeMillis()
      if (maxRows.isEmpty && maxBytes.isEmpty) LokiOffset(cap)
      else LokiOffset(boundedEnd(s, cap,
        maxRows.getOrElse(Long.MaxValue), maxBytes.getOrElse(Long.MaxValue)))
    }
  }

  /** Rows available in [s, cap) per index/stats, for the min-rows hold;
    * best-effort — a probe failure triggers the batch (the hold is an
    * optimization, never a correctness gate).
    */
  private def countAvailable(s: Long, cap: Long): Long =
    try LokiScan.cachedStats(opts.endpoint, scan.selector, s, cap)._1
    catch {
      case ie: InterruptedException => throw ie
      case _: java.io.IOException | _: RuntimeException => Long.MaxValue
    }

  /** Largest e ∈ (s, cap] with entries([s, e)) ≤ maxRows AND
    * bytes([s, e)) ≤ maxBytes, by ONE bisection on the time axis against
    * `index/stats` (the response carries both measures, so composing the
    * caps costs no extra probes; root probe shared with the
    * report_statistics/split=stats memo). The bisection runs to FULL ns
    * resolution (hi − lo ≤ 1, ≤ ~47 probes for a 30-day window): a
    * truncated bisection cannot resolve a µs-wide burst cluster out of a
    * day-wide range — its returned cut lands in the zero-count zone
    * below the burst on EVERY trigger and the drain admits nothing
    * forever (found by the round-12 adversarial sweep). At full
    * resolution every trigger either admits rows or lands exactly on a
    * burst start, whose next trigger admits the burst whole (overshoot —
    * ReadLimit is advisory); ≤ 2 triggers per burst. Falls back to `cap`
    * when the stats endpoint fails — shaping is best-effort, the tail's
    * completeness never depends on it.
    */
  private def boundedEnd(s: Long, cap: Long, maxRows: Long, maxBytes: Long): Long = {
    // root probe through the shared stats memo (the split=stats rule);
    // bisection mids go DIRECT — ~47 one-off sub-window entries per
    // trigger would churn the 256-entry LRU out from under the
    // report_statistics consumers
    def within(e: Long): Boolean = {
      val (entries, bytes) =
        if (e == cap) LokiScan.cachedStats(opts.endpoint, scan.selector, s, e)
        else LokiHttp.indexStats(opts.endpoint, scan.selector, s, e)
      entries <= maxRows && bytes <= maxBytes
    }
    try {
      if (within(cap)) return cap
      var lo = s + 1 // smallest admissible advance: progress guaranteed
      var hi = cap
      // invariant: [s, hi) exceeds a cap; lo is the best-known admissible
      // cut once any mid passes — the initial s+1 may overshoot on a
      // burst at s itself, accepted
      while (hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        if (within(mid)) lo = mid else hi = mid
      }
      lo
    } catch {
      case ie: InterruptedException => throw ie
      case ex @ (_: java.io.IOException | _: RuntimeException) =>
        LokiScan.log.warn(
          s"admission-control probe failed for [${scan.selector}] " +
            s"(${ex.getClass.getSimpleName}: ${ex.getMessage}); " +
            "admitting the full window")
        cap
    }
  }

  override def reportLatestOffset(): Offset = LokiOffset(latestNs)

  override def deserializeOffset(json: String): Offset =
    LokiOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LokiOffset].ns
    val e = end.asInstanceOf[LokiOffset].ns
    if (e <= s) Array.empty else scan.partitionsFor(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LokiReaderFactory()

  // offsets are self-contained event-time positions; Loki holds no
  // consumer state to release
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String =
    s"LokiMicroBatchStream(${opts.endpoint}, ${scan.logql})"
}

/** Event-time ns offset; the JSON form is the bare number. */
case class LokiOffset(ns: Long) extends Offset {
  override def json: String = ns.toString
}
