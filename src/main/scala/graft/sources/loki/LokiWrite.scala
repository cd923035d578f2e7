package graft.sources.loki

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** Write half of the connector — the rebuild of `LokiLogInsertExec`
  * (`src/insert.rs`). Rows are buffered per task and POSTed to the push
  * API in `pushBatchSize` chunks; by default each row becomes its own
  * stream object like the reference (no label-set grouping,
  * insert.rs:186-205 — `group_streams=true` collapses a batch's rows
  * with identical label sets into one stream object, the wire shape real
  * log shippers use at scale). Null handling mirrors insert.rs:167-236:
  * null timestamp is an error, null labels → {}, null line → "".
  *
  * Delivery semantics are AT-LEAST-ONCE, matching the reference: batches
  * POST during `write()` (insert.rs:104-113), so a failed or speculative
  * task's already-pushed batches are not rolled back by `abort()`; only the
  * winning attempt is counted at commit. Loki dedups identical
  * (ts, labels, line) entries on ingest, which is what makes per-batch
  * posting tolerable upstream.
  *
  * Spark DML returns no rows, so the reference's `count` result table
  * (README.md:49-53) surfaces here two ways (SURVEY.md §7.4(c)):
  *   - a DSv2 custom metric (`loki_rows_written`, summed across tasks by
  *     Spark's metric machinery — the SQL-UI-visible, concurrency-safe
  *     surface);
  *   - [[LokiWrite.lastCommittedRows]], keyed BY ENDPOINT from commit
  *     messages, for programmatic access. Two concurrent writes to
  *     different endpoints no longer race (the round-1 version was one
  *     JVM-global cell).
  */
object LokiWrite {
  private[loki] val counts = new ConcurrentHashMap[String, Long]()

  /** Row count of the most recent successful batch write to `endpoint` in
    * this JVM (driver side) — observability hook replacing the
    * count-result table. -1 if no write to that endpoint committed yet.
    */
  def lastCommittedRows(endpoint: String): Long =
    counts.getOrDefault(endpoint.stripSuffix("/"), -1L)

  /** Reference-parity INSERT: run the append through the connector and
    * return the reference's one-row `count: BIGINT` result table
    * (insert.rs:136-140; README.md:49-53 shows `| count | 1 |`) built
    * from this write's commit messages. Spark DML returns an empty
    * DataFrame, so a reference script that SELECTs the insert result has
    * nothing to read — this shim closes that last visible surface gap
    * (SURVEY §7.4(c)). The count comes from the per-endpoint commit
    * registry, read synchronously after `save()` returns; two concurrent
    * inserts to the SAME endpoint race on that cell (different endpoints
    * never do), in which case the SQL-UI `loki_rows_written` metric is
    * the per-query surface.
    */
  def insert(
      df: org.apache.spark.sql.DataFrame,
      endpoint: String,
      options: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame = {
    val writer = df.write.format("loki").option("endpoint", endpoint)
    options.foreach { case (k, v) => writer.option(k, v) }
    writer.mode("append").save()
    val spark = df.sparkSession
    import spark.implicits._
    Seq(lastCommittedRows(endpoint)).toDF("count")
  }
}

/** `rows_written` counter summed over tasks (insert.rs's count surface). */
class LokiRowsWrittenMetric extends CustomSumMetric {
  override def name(): String = "loki_rows_written"
  override def description(): String = "rows written to Loki"
}

/** One task's value of a named sum metric, for the scan's and the write's. */
case class LokiTaskMetric(name: String, value: Long) extends CustomTaskMetric

class LokiWriteBuilder(
    options: LokiOptions,
    inputSchema: StructType,
    staticRows: Option[Long] = None)
  extends WriteBuilder {

  override def build(): Write = {
    // schema identity check, mirroring insert.rs:44-46 (4-column when
    // the table opted into structured metadata)
    val expected = LokiDataSource.logSchema(options.structuredMetadata)
    val ok = inputSchema.length == expected.length &&
      inputSchema.fields.zip(expected.fields).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType
      }
    if (!ok) {
      throw new IllegalArgumentException(
        s"input schema $inputSchema does not match the Loki log table schema $expected")
    }
    LokiLogWrite(options, staticRows)
  }
}

/** The insert's Write, named (not anonymous) because the AppendData plan
  * node renders it via toString — the EXPLAIN surface of insert.rs's
  * DisplayAs (`LokiLogInsertExec: endpoint=…[, rows=n]`,
  * insert.rs:122-134). `rows` is present when the input's row count is
  * statically known (VALUES/LocalRelation — fed by
  * [[graft.plans.LokiInsertRowsRule]]); the reference's statistics() on
  * an arbitrary child plan is similarly known-or-absent.
  */
case class LokiLogWrite(options: LokiOptions, rows: Option[Long] = None)
  extends Write {
  override def toBatch: BatchWrite = LokiBatchWrite(options)
  override def toStreaming: streaming.StreamingWrite = LokiStreamingWrite(options)
  override def description(): String =
    s"LokiLogInsert: endpoint=${options.endpoint}" +
      rows.map(n => s", rows=$n").getOrElse("")
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new LokiRowsWrittenMetric)
  override def toString: String = description()
}

/** Streaming push sink — `writeStream.format("loki")` (beyond-parity:
  * the reference's insert is batch-only, insert.rs). Each micro-batch's
  * rows POST through the same buffered per-task writer as the batch
  * insert; epoch commit records the running per-endpoint total. The
  * contract is AT-LEAST-ONCE, the standard non-transactional streaming
  * sink contract: a failed epoch's retry re-pushes its rows, and Loki
  * (like the stub, and like Loki's own querier dedup of identical
  * entries) collapses exact (ts, labels, line) duplicates while
  * non-identical replays duplicate. Append output mode only — the table
  * declares no TRUNCATE capability, so Spark rejects Complete for us
  * (same append-only contract as the batch path, table.rs:164-169).
  */
case class LokiStreamingWrite(options: LokiOptions)
  extends streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    LokiStreamingWriterFactory(options)

  // THIS query's running total (the Write instance is per-query,
  // commit() runs driver-side per epoch): the shared per-endpoint cell
  // is OVERWRITTEN with it, preserving lastCommittedRows' meaning —
  // "rows committed by the most recent write" — across queries exactly
  // like the batch path's per-job put (a cross-query merge would report
  // a cumulative total no single query ever committed)
  private val queryTotal = new java.util.concurrent.atomic.AtomicLong(0L)

  // Per-epoch idempotence: if Spark fails between the sink commit and the
  // offset-log write, it replays the epoch and commit() runs again with the
  // same epochId — counting its rows twice would overstate the query total
  // (the server-side ingest dedup already collapses the re-pushed rows, so
  // only the COUNTER needs protection). Remember each epoch's contribution
  // and overwrite rather than re-add on a repeat.
  private val epochContribs =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochRows = messages.collect { case LokiCommitMessage(n) => n }.sum
    val prev = Option(epochContribs.put(epochId, epochRows)).map(_.longValue).getOrElse(0L)
    LokiWrite.counts.put(
      options.endpoint.stripSuffix("/"), queryTotal.addAndGet(epochRows - prev))
    // Only an epoch near the tail can replay (a driver restart builds a new
    // Write instance); prune so a months-long stream doesn't grow the map
    // one entry per epoch forever.
    epochContribs.keySet.removeIf(e => e < epochId - 64)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

case class LokiStreamingWriterFactory(options: LokiOptions)
  extends streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new LokiDataWriter(options)
}

case class LokiBatchWrite(options: LokiOptions) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    LokiWriterFactory(options)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val total = messages.collect { case LokiCommitMessage(n) => n }.sum
    LokiWrite.counts.put(options.endpoint.stripSuffix("/"), total)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class LokiCommitMessage(rows: Long) extends WriterCommitMessage

case class LokiWriterFactory(options: LokiOptions) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LokiDataWriter(options)
}

/** Buffers rows and flushes one JSON payload per `pushBatchSize` rows —
  * the per-RecordBatch POST of insert.rs:104-113 with a configurable batch.
  */
class LokiDataWriter(options: LokiOptions) extends DataWriter[InternalRow] {

  private val buf = ArrayBuffer.empty[String]
  // group_streams=true: per-batch (label set → value tuples), insertion
  // order preserved so the payload is deterministic in row order
  private val grouped =
    scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
  private var buffered = 0
  private var count = 0L

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(0)) {
      // insert.rs:176-179: timestamp is required
      throw new IllegalArgumentException("null timestamp in Loki insert")
    }
    // µs → ns (§7.4(b)); reject rather than wrap past the int64-ns
    // horizon: a wrapped timestamp would push a corrupted value (or fail
    // the whole batch with an opaque Loki 400) — unlike the SCAN side,
    // which saturates bounds (LogQL.usToNsSat), a write has no exact
    // clamped representation, so it errors with the offending value
    val ns =
      try math.multiplyExact(row.getLong(0), 1000L)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"timestamp ${row.getLong(0)}µs exceeds the int64 nanosecond " +
            "range Loki stores (max 2262-04-11)")
      }
    val labels =
      if (row.isNullAt(1)) "{}"
      else {
        val m = row.getMap(1)
        val keys = m.keyArray()
        val vals = m.valueArray()
        (0 until m.numElements()).map { i =>
          // a null map VALUE renders as "" — the same missing≡empty rule
          // Loki/Prometheus apply to labels and the NULL-literal
          // precedent in LogQL.StrLit (a bare NPE here was an opaque
          // executor-side task failure after earlier batches had POSTed)
          val v = if (vals.isNullAt(i)) "" else vals.getUTF8String(i).toString
          s"${jsonStr(keys.getUTF8String(i).toString)}:${jsonStr(v)}"
        }.mkString("{", ",", "}")
      }
    val line = if (row.isNullAt(2)) "" else row.getUTF8String(2).toString
    // structured metadata (round 16): the entry's third element — the
    // Loki 3.x push shape `["<ts>","<line>",{"k":"v"}]`. A null or
    // empty map omits the element (the 3-tuple is the universal form).
    val metaSuffix =
      if (!options.structuredMetadata || row.numFields < 4 || row.isNullAt(3)) ""
      else {
        val m = row.getMap(3)
        if (m.numElements() == 0) ""
        else {
          val keys = m.keyArray()
          val vals = m.valueArray()
          (0 until m.numElements()).map { i =>
            val v = if (vals.isNullAt(i)) "" else vals.getUTF8String(i).toString
            s"${jsonStr(keys.getUTF8String(i).toString)}:${jsonStr(v)}"
          }.mkString(",{", ",", "}")
        }
      }
    if (options.groupStreams) {
      // one stream object per distinct label set, many values
      grouped.getOrElseUpdate(labels, ArrayBuffer.empty) +=
        s"""["$ns",${jsonStr(line)}$metaSuffix]"""
    } else {
      // one stream object per row, like insert.rs:186-205 (parity default)
      buf += s"""{"stream":$labels,"values":[["$ns",${jsonStr(line)}$metaSuffix]]}"""
    }
    buffered += 1
    count += 1
    if (buffered >= options.pushBatchSize) flush()
  }

  private def flush(): Unit = {
    if (buffered > 0) {
      val streams =
        if (options.groupStreams)
          grouped.map { case (labels, values) =>
            s"""{"stream":$labels,"values":[${values.mkString(",")}]}"""
          }.mkString(",")
        else buf.mkString(",")
      LokiHttp.push(options.endpoint, s"""{"streams":[$streams]}""")
      buf.clear()
      grouped.clear()
      buffered = 0
    }
  }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    LokiCommitMessage(count)
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(LokiTaskMetric("loki_rows_written", count))

  // at-least-once: batches already POSTed by write() stay in Loki (see
  // class doc); only the unflushed tail is dropped
  override def abort(): Unit = { buf.clear(); grouped.clear(); buffered = 0 }

  override def close(): Unit = ()
}
