package graft.sources.loki

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{
  SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark DSv2 connector for a Grafana Loki log store — the rebuild of the
  * reference's `LokiLogTable` (`src/table.rs`). One fixed-schema table:
  *
  *   timestamp TIMESTAMP NOT NULL   (ns in Loki, µs in Spark — §7.4(b))
  *   labels    MAP<STRING,STRING> NOT NULL
  *   line      STRING NOT NULL
  *
  * Usage:
  * {{{
  *   spark.read.format("loki")
  *     .option("endpoint", "http://localhost:3100")
  *     .option("default_label", "app")
  *     .load()
  * }}}
  *
  * The reference's protobuf plan codec (`src/codec.rs`) dissolves here:
  * every connector class below is a plain `Serializable` value shipped to
  * executors by Spark's own task serialization (SURVEY.md §2.1 row 12).
  */
object LokiDataSource {
  val LOG_SCHEMA: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("labels",
      MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("line", StringType, nullable = false)))

  /** `structured_metadata=true` (round 16, Loki 3.x): the reference's
    * 3-column schema plus the per-entry structured-metadata map — the
    * non-indexed key/values (trace ids, spans) real Loki attaches to
    * entries. Opt-in: the 3-column shape stays the default so reference
    * scripts see the exact table they expect.
    */
  def logSchema(structuredMetadata: Boolean): StructType =
    if (!structuredMetadata) LOG_SCHEMA
    else StructType(LOG_SCHEMA.fields :+ StructField("metadata",
      MapType(StringType, StringType, valueContainsNull = false),
      nullable = false))
}

/** Connector options (reference table.rs:39-43 plus scale knobs). */
final case class LokiOptions(
    endpoint: String,
    defaultLabel: Option[String],
    /** Time-range split factor for the scan. 1 = reference parity (a single
      * InputPartition, scan.rs:46); N>1 slices [start, end) into N Loki
      * range queries that read in parallel — the 100 TB path.
      */
    numPartitions: Int,
    /** Rows per push-API POST on the write path. */
    pushBatchSize: Int,
    /** Escape quotes/backslashes in LogQL values (parity default: raw
      * interpolation like the reference — SURVEY.md §7.4(d)). */
    escapeLogql: Boolean,
    checkConnection: Boolean,
    /** Conjunct timestamp-bound semantics. true (default): tightest bound
      * wins — max(start), min(end) — so every pushed conjunct is honored
      * (Exact claim sound). false: REFERENCE PARITY — last bound of each
      * kind wins (table.rs:106-110), which widens the window when a query
      * repeats a bound and silently returns rows an earlier conjunct
      * excluded. Flag-selectable so the one remaining semantic divergence
      * from the reference is a user choice, not a hidden default.
      */
    strictBounds: Boolean = true,
    /** Slice-boundary placement for `partitions=N`. "width" (default,
      * reference-shaped): N equal-WIDTH time slices — zero extra round
      * trips, but a bursty corpus serializes through the spike slice
      * (a slice run measured max/mean = 4.0 with 80% of rows in one day).
      * "stats": probe Loki's `index/stats` entry counts at plan time and
      * place boundaries on cumulative ROW COUNT — balanced slices at the
      * cost of O(N·log) cheap index-only probes (BASELINE.md "Connector
      * time-range split under bursty logs"). Falls back to width when the
      * stats probe fails or reports zero entries.
      */
    split: String = "width",
    /** Plan-time wall-clock budget for the `split=stats` bisection probes.
      * Against a real endpoint each probe is an HTTP round trip; past the
      * budget the remaining bins stay coarse (balance degrades gracefully
      * toward width-split, correctness never depends on it). */
    statsBudgetMs: Long = 2000L,
    /** Concurrent `index/stats` probes per refinement level. The probes
      * are independent index-only GETs, so the frontier parallelizes —
      * plan-time latency is O(levels × RTT) instead of O(probes × RTT)
      * at ~20 ms real-endpoint RTTs. 1 = serial (the stub-test default
      * path is identical either way — placement is deterministic in the
      * counts, not the probe order). */
    statsProbeParallelism: Int = 8,
    /** Explicit per-request `limit` when the query pushes none. 0
      * (default) omits the parameter — REFERENCE PARITY
      * (scan.rs:113-115 omits it too) — but a real Loki then applies its
      * server-side query_range default (typically 100 entries) and
      * SILENTLY truncates unlimited scans; deployments should set this
      * to their server's max_entries_limit. A pushed LIMIT always wins.
      */
    queryLimit: Int = 0,
    /** The server's own `max_entries_limit` contract. 0 (default) =
      * unlimited. When set, the paged reader never REQUESTS a limit above
      * it — including the adaptive same-ns-burst doubling, which
      * otherwise grows toward 2²⁰ and past a real Loki's cap (real Loki
      * rejects oversized limits loudly, but clamping middleware would
      * silently shorten every full page and the drain test would
      * truncate the window) — and a burst larger than the cap fails
      * loudly instead of looping.
      */
    serverMaxEntries: Int = 0,
    /** Answer bare `COUNT(*)` queries from `GET index/stats` instead of
      * scanning — index-only, so a count over a month of logs costs one
      * cheap request instead of streaming every chunk (the 100 TB win).
      * Applies only when the whole aggregate can be answered by the
      * selector: no GROUP BY, no line-filter stages (index/stats is
      * selector-only), no LIMIT. OFF by default: real Loki's index stats
      * are EXACT only once chunks are compacted — on a window overlapping
      * the ingest head they can overcount duplicated un-compacted chunks
      * — so this is an opt-in for compacted ranges / accuracy-tolerant
      * dashboards; the default keeps COUNT exact via the scan.
      */
    pushCount: Boolean = false,
    /** Answer time-bucketed grouped COUNTs with a server-side LogQL
      * METRIC query — `sum by (labels…) (count_over_time({sel}[step]))`
      * via query_range — instead of streaming the log rows and
      * aggregating host-side (see [[graft.plans.LokiMetricAggRule]]).
      * Unlike `push_count` (index/stats, approximate on un-compacted
      * heads), metric queries are evaluated against the chunks
      * themselves and are EXACT, so this defaults ON: it is the
      * aggregation path real Loki deployments live on at scale — the
      * wire carries #series × #buckets samples instead of every log row.
      * Queries outside the rewrite's contract (unaligned window,
      * non-count aggregates, absent-label matcher semantics) fall back
      * to the scan untouched.
      */
    pushMetric: Boolean = true,
    /** Translate predicates over parsed-label accessors
      * (`logfmt_get(line,'k') = 'v'`, `get_json_object(line,'$.k') =
      * 'v'`) into pushed `| json` / `| logfmt` pipeline stages plus
      * label filters — the most common real-Loki idiom after plain
      * filtering (`{app="x"} | json | level="error"`), which otherwise
      * streams every raw row to the host and filters there (see
      * [[LogQL.parsedPredicate]] for the exactness contract and
      * [[LokiParsers]] for the shared value semantics). ON by default;
      * stages use the reserved `gp<N>` extraction-label namespace.
      */
    pushParsers: Boolean = true,
    /** Report scan statistics (row count + bytes from `index/stats`) to
      * Spark's optimizer, so size-based planning — broadcast-join
      * decisions above all — works for log scans like it does for files.
      * One cheap index-only request at plan time, memoized per
      * (endpoint, selector, window). The numbers are the SELECTOR's
      * (line-filter stages reduce actual rows below them), i.e. an upper
      * bound — the safe direction for a broadcast decision. OFF by
      * default: plan-time network calls are an opt-in, exactly like
      * `split=stats`.
      */
    reportStatistics: Boolean = false,
    /** Group a push batch's rows by identical label set into ONE stream
      * object with many values. false (default) = REFERENCE PARITY: one
      * stream object per row (insert.rs:186-205), byte-identical
      * payloads — but pathological at scale, where the wire cost is
      * rows × label-set size instead of rows + label-sets. Semantics are
      * identical either way (Loki associates each value with its
      * stream's labels); only the payload shape changes.
      */
    groupStreams: Boolean = false,
    /** Surface Loki 3.x per-entry STRUCTURED METADATA (trace/span ids —
      * non-indexed key/values attached to entries at ingest) as a fourth
      * `metadata map<string,string>` column, on reads AND writes (the
      * push payload gains the entry's third element). OFF by default —
      * the reference's 3-column schema is the contract its scripts
      * assume. The column decodes like `labels` (one wire shape, one
      * columnar decoder); predicates on metadata always stay host
      * residuals (Loki cannot filter on non-indexed metadata server-side
      * without a parser stage).
      */
    structuredMetadata: Boolean = false,
    /** Streaming (readStream) start of the tail, epoch ns. Unset → the
      * scan's default window start (now − 30 d). Beyond-parity: the
      * reference's scan is Boundedness::Bounded (scan.rs:48); Spark's
      * micro-batch model makes log TAILING natural — each batch reads the
      * disjoint event-time window [prev offset, latest offset).
      */
    streamStartNs: Option[Long] = None,
    /** Streaming end cap, epoch ns. Unset → tail forever (latest offset
      * tracks now − stream_lag_ms). Set → the stream drains to the cap
      * and stops advancing, so Trigger.AvailableNow terminates.
      */
    streamEndNs: Option[Long] = None,
    /** Ingest-lag allowance for the tail, ms: the latest offset trails
      * wall-clock by this much so rows that reach Loki late (ingest
      * pipeline delay) are still inside a FUTURE batch's window when
      * they land. Rows arriving later than the lag are missed — the
      * standard event-time tailing caveat; size it to the ingest
      * pipeline's p99.
      */
    streamLagMs: Long = 0L,
    /** Admission control for the tail: cap each micro-batch at roughly
      * this many rows. A tail recovering from a long outage otherwise
      * reads the WHOLE missed window in one batch — at 100 TB scale an
      * unbounded backfill batch. The per-trigger end offset is placed by
      * bisecting `index/stats` entry counts (the split=stats machinery),
      * so the cap is approximate (stats granularity; a single-ns burst
      * can overshoot — progress is guaranteed) and costs O(log) cheap
      * index-only probes per trigger. 0 (default) = unbounded batches.
      */
    maxRowsPerBatch: Long = 0L,
    /** Byte-based admission control for the tail, composing with
      * `max_rows_per_batch`: cap each micro-batch's window at roughly
      * this many ingested bytes, placed by the same `index/stats`
      * bisection (stats carries bytes AND entries, so one probe serves
      * both caps). Rows are a poor proxy for work when line sizes vary
      * 1000×; bytes bound the actual decode/transfer. 0 = off.
      */
    maxBytesPerBatch: Long = 0L,
    /** Minimum rows before a LIVE tail triggers a batch: below this the
      * latest offset holds still, so low-lag tailing coalesces trickle
      * arrivals instead of emitting thousands of tiny windows (each one
      * a checkpoint write + a task round). Forced through after
      * `min_batch_delay_ms` regardless, bounding staleness. IGNORED in a
      * Trigger.AvailableNow drain — the end is pinned, nothing new will
      * arrive, and holding the final sliver would strand it. 0 = off.
      */
    minRowsPerBatch: Long = 0L,
    /** Max staleness for `min_rows_per_batch`: a batch is triggered at
      * this age even below the row minimum (maps to Spark's
      * ReadMinRows#maxTriggerDelayMs).
      */
    minBatchDelayMs: Long = 60000L,
    /** Raw LogQL selector (plus optional line-filter stages) to push to
      * the wire, e.g. `{app="api",env!="dev"} |= "error"`. The explicit
      * pushdown channel for STREAMING reads — Spark applies no DSv2
      * filter pushdown to micro-batch scans, so without it
      * `readStream.format("loki").load().filter(labels…)` tails the FULL
      * firehose and filters host-side; with it the tail's query_range
      * carries the selector and only matching streams cross the wire.
      * Also honored on batch reads (a raw-LogQL escape hatch). Matchers
      * compose (AND) with anything the optimizer pushes; semantics are
      * Loki's verbatim — `{k!="v"}` also matches streams WITHOUT label k
      * (see [[LogQL.matchesAbsentLabel]]), unlike the SQL
      * `labels['k'] != 'v'`. Parsed and validated at option time.
      */
    selector: Option[String] = None,
    /** Explicit query direction for single-request reads. None (default)
      * omits the param — REFERENCE PARITY (scan.rs:106-121), leaving
      * Loki's own default (backward: a bare LIMIT keeps the NEWEST n).
      * Some("backward") states newest-n explicitly ("last 1000 errors");
      * Some("forward") flips a LIMIT to the OLDEST n. Paged walks
      * (query_limit / server_max_entries, never combined with a LIMIT)
      * always cursor forward — the row SET of an unlimited scan is
      * direction-independent, so a configured direction is logged and
      * ignored there rather than failing a query it cannot affect.
      */
    direction: Option[String] = None) extends Serializable {

  /** The option-map rendering of this config — the inverse of
    * [[LokiOptions.from]], so per-read options can OVERLAY a catalog
    * table's base config (`LokiOptions.from(base.toMap ++ overrides)`):
    * `spark.read(.Stream).option(...)` on a catalog table otherwise has
    * no way to reach the scan.
    */
  def toMap: Map[String, String] = Map(
    "endpoint" -> endpoint,
    "partitions" -> numPartitions.toString,
    "push_batch_size" -> pushBatchSize.toString,
    "escape_logql" -> escapeLogql.toString,
    "check_connection" -> checkConnection.toString,
    "strict_bounds" -> strictBounds.toString,
    "split" -> split,
    "stats_budget_ms" -> statsBudgetMs.toString,
    "stats_probe_parallelism" -> statsProbeParallelism.toString,
    "query_limit" -> queryLimit.toString,
    "server_max_entries" -> serverMaxEntries.toString,
    "push_count" -> pushCount.toString,
    "push_metric" -> pushMetric.toString,
    "push_parsers" -> pushParsers.toString,
    "report_statistics" -> reportStatistics.toString,
    "group_streams" -> groupStreams.toString,
    "structured_metadata" -> structuredMetadata.toString,
    "stream_lag_ms" -> streamLagMs.toString,
    "max_rows_per_batch" -> maxRowsPerBatch.toString,
    "max_bytes_per_batch" -> maxBytesPerBatch.toString,
    "min_rows_per_batch" -> minRowsPerBatch.toString,
    "min_batch_delay_ms" -> minBatchDelayMs.toString) ++
    defaultLabel.map("default_label" -> _) ++
    streamStartNs.map(v => "stream_start_ns" -> v.toString) ++
    streamEndNs.map(v => "stream_end_ns" -> v.toString) ++
    selector.map("selector" -> _) ++
    direction.map("direction" -> _)
}

object LokiOptions {
  def from(m: CaseInsensitiveStringMap): LokiOptions = from(m.asScala.toMap)
  def from(m: Map[String, String]): LokiOptions = {
    val endpoint = m.getOrElse("endpoint",
      throw new IllegalArgumentException("loki source requires an 'endpoint' option"))
    LokiOptions(
      endpoint = endpoint.stripSuffix("/"),
      defaultLabel = m.get("default_label").filter(_.nonEmpty),
      numPartitions = m.getOrElse("partitions", "1").toInt,
      pushBatchSize = m.getOrElse("push_batch_size", "4096").toInt,
      escapeLogql = m.getOrElse("escape_logql", "false").toBoolean,
      // parity default: the reference probes /status/buildinfo when the
      // table is constructed (table.rs:60-73), so a typo'd endpoint fails
      // at load time, not first-task time. Opt out with
      // check_connection=false.
      checkConnection = m.getOrElse("check_connection", "true").toBoolean,
      strictBounds = m.getOrElse("strict_bounds", "true").toBoolean,
      split = m.getOrElse("split", "width") match {
        case s @ ("width" | "stats") => s
        case other => throw new IllegalArgumentException(
          s"split must be 'width' or 'stats', got '$other'")
      },
      statsBudgetMs = m.getOrElse("stats_budget_ms", "2000").toLong,
      statsProbeParallelism =
        m.getOrElse("stats_probe_parallelism", "8").toInt,
      queryLimit = {
        val ql = m.getOrElse("query_limit", "0").toInt
        val sm = m.getOrElse("server_max_entries", "0").toInt
        require(sm == 0 || ql <= sm,
          s"query_limit ($ql) exceeds server_max_entries ($sm) — the " +
            "server would reject or clamp every page")
        ql
      },
      serverMaxEntries = m.getOrElse("server_max_entries", "0").toInt,
      pushCount = m.getOrElse("push_count", "false").toBoolean,
      pushMetric = m.getOrElse("push_metric", "true").toBoolean,
      pushParsers = m.getOrElse("push_parsers", "true").toBoolean,
      reportStatistics = m.getOrElse("report_statistics", "false").toBoolean,
      groupStreams = m.getOrElse("group_streams", "false").toBoolean,
      structuredMetadata =
        m.getOrElse("structured_metadata", "false").toBoolean,
      streamStartNs = m.get("stream_start_ns").map(_.toLong),
      streamEndNs = m.get("stream_end_ns").map(_.toLong),
      streamLagMs = m.getOrElse("stream_lag_ms", "0").toLong,
      maxRowsPerBatch = m.getOrElse("max_rows_per_batch", "0").toLong,
      maxBytesPerBatch = m.getOrElse("max_bytes_per_batch", "0").toLong,
      minRowsPerBatch = m.getOrElse("min_rows_per_batch", "0").toLong,
      minBatchDelayMs = m.getOrElse("min_batch_delay_ms", "60000").toLong,
      selector = m.get("selector").filter(_.nonEmpty).map { sel =>
        LogQL.parseSelector(sel) // validate now: fail at load, not first task
        sel
      },
      direction = m.get("direction").filter(_.nonEmpty).map {
        case d @ ("forward" | "backward") => d
        case other => throw new IllegalArgumentException(
          s"direction must be 'forward' or 'backward', got '$other'")
      })
  }
}

class LokiTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "loki"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LokiDataSource.logSchema(
      Option(options.get("structured_metadata")).exists(_.toBoolean))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = LokiOptions.from(properties.asScala.toMap)
    if (opts.checkConnection) LokiHttp.checkConnection(opts.endpoint)
    LokiTable(opts)
  }
}

/** The one Loki table. `pushedLabelMatchers` / `pushedLineFilters` carry
  * predicates captured by [[graft.plans.LokiPushdownRule]] (map-key and
  * regex forms Spark's DSv2 filter translation cannot express — SURVEY.md
  * §4.2); the ScanBuilder merges them with its own pushed state.
  */
case class LokiTable(
    options: LokiOptions,
    pushedLabelMatchers: Seq[LogQL.LabelMatcher] = Nil,
    pushedLineFilters: Seq[LogQL.LineFilter] = Nil,
    /** Parser-stage predicates captured by [[graft.plans.LokiPushdownRule]]
      * (round 15): each renders as `| json/logfmt gpN="key"` + label
      * filters after the line-filter stages.
      */
    pushedParsedFilters: Seq[LogQL.ParsedFilter] = Nil,
    /** Statically-known input row count for a pending INSERT, captured by
      * [[graft.plans.LokiInsertRowsRule]] from a VALUES/LocalRelation
      * input — the reference's insert plan display carries `rows=n` from
      * the child plan's statistics (insert.rs:122-134), and DSv2's
      * `WriteBuilder` can't see the input plan, so the host-side rule
      * smuggles the count in through the table (SURVEY §7.4(c)).
      */
    staticInputRows: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"loki(${options.endpoint})"

  override def schema(): StructType =
    LokiDataSource.logSchema(options.structuredMetadata)

  // no TRUNCATE/OVERWRITE capabilities → Spark rejects non-append DML for
  // us, mirroring table.rs:164-169. MICRO_BATCH_READ is beyond-parity:
  // the reference's scan is bounded-only (scan.rs:48); Spark's
  // micro-batch model adds log tailing (see [[LokiMicroBatchStream]]).
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  def withPushed(
      labels: Seq[LogQL.LabelMatcher],
      lines: Seq[LogQL.LineFilter],
      parsed: Seq[LogQL.ParsedFilter] = Nil): LokiTable =
    copy(
      pushedLabelMatchers = pushedLabelMatchers ++ labels,
      pushedLineFilters = pushedLineFilters ++ lines,
      pushedParsedFilters = pushedParsedFilters ++ parsed)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // per-read overrides (`spark.read(.Stream).option(...)` on a catalog
    // table) overlay the table's base config; `endpoint` cannot be
    // overridden — a scan against a different endpoint is a different
    // TABLE, and silently rescoping the identifier would be a trap
    val overrides = caseInsensitiveOptions.asScala.toMap
      .filter { case (k, _) => !k.equalsIgnoreCase("endpoint") &&
        !k.equalsIgnoreCase("path") && !k.equalsIgnoreCase("paths") }
    val effective =
      if (overrides.isEmpty) this
      else copy(options = LokiOptions.from(options.toMap ++ overrides))
    new LokiScanBuilder(effective)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LokiWriteBuilder(options, info.schema(), staticInputRows)
}
