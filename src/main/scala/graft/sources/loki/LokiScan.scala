package graft.sources.loki

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Scan half of the connector — the rebuild of `LokiLogScanExec`
  * (`src/scan.rs`). Pushdown mirrors `src/table.rs:90-156`:
  *
  *   - required columns → parquet projection (ProjectionMask analog)
  *   - `timestamp` bounds + `line` contains → Exact (omitted from residual)
  *   - limit → Loki `limit` query param
  *   - label / regex predicates arrive pre-captured on [[LokiTable]]
  *
  * Partitioning: 1 InputPartition by default (scan.rs:46); with
  * `partitions=N` the time range splits into N slices, each an independent
  * range query — this is safe because Loki range queries are disjoint-range
  * composable, and is the scale-out story for big windows. A pushed LIMIT
  * forces a single partition (a global limit cannot be sliced).
  */
class LokiScanBuilder(table: LokiTable)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  private var requiredSchema: StructType =
    LokiDataSource.logSchema(table.options.structuredMetadata)
  private var pushedLines: Seq[LogQL.LineFilter] = Nil
  private var startNs: Option[Long] = None
  private var endNs: Option[Long] = None
  private var limit: Option[Int] = None
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false

  /** Bare COUNT(*) → one `index/stats` request (see
    * [[LokiOptions.pushCount]]). COMPLETE pushdown only — a partial-agg
    * contract would make Spark re-aggregate rows the source never
    * produces — and only when the selector alone determines the count:
    * no grouping, no line-filter stages (index/stats ignores them; a
    * silent accept would overcount), no LIMIT.
    */
  private def canPushCount(agg: Aggregation): Boolean =
    table.options.pushCount &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar] &&
      pushedLines.isEmpty && table.pushedLineFilters.isEmpty &&
      // parser stages reduce rows below the selector count the same way
      // line filters do — index/stats would overcount
      table.pushedParsedFilters.isEmpty &&
      // a `selector` option carrying line-filter stages also disqualifies:
      // index/stats answers the SELECTOR's count, stages reduce rows below it
      table.options.selector.forall(s => LogQL.parseSelector(s)._2.isEmpty) &&
      limit.isEmpty

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canPushCount(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    countPushed = canPushCount(agg)
    countPushed
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition(f => LogQL.fromSourceFilter(f).isDefined)
    accepted.flatMap(LogQL.fromSourceFilter).foreach {
      // conjunct semantics, default (strict_bounds=true): tightest bound
      // wins — max(start), min(end) — every pushed conjunct is honored.
      // strict_bounds=false is REFERENCE PARITY: last bound of each kind
      // wins (table.rs:106-110), which widens the window when a query
      // repeats a bound and silently returns rows an earlier conjunct
      // excluded under the Exact claim — see LokiOptions.strictBounds.
      case Left(lf) => pushedLines :+= lf
      case Right(LogQL.Start(ns)) =>
        startNs = Some(
          if (table.options.strictBounds) startNs.fold(ns)(math.max(_, ns)) else ns)
      case Right(LogQL.End(ns)) =>
        endNs = Some(
          if (table.options.strictBounds) endNs.fold(ns)(math.min(_, ns)) else ns)
    }
    pushed = accepted
    residual // accepted filters are Exact: Loki fully enforces them
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // preserve table column order regardless of the required order
    val names = required.fieldNames.toSet
    requiredSchema = StructType(
      LokiDataSource.logSchema(table.options.structuredMetadata)
        .fields.filter(f => names.contains(f.name)))
  }

  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true // fully applied by Loki (scan.rs:113-115)
  }

  override def build(): Scan = {
    // explicit `selector` option (the streaming pushdown channel — DSv2
    // filter pushdown never reaches micro-batch scans): its matchers and
    // line stages CONJOIN with whatever the optimizer pushed, selector
    // stages first (user-stated order ahead of derived predicates).
    // Selector-derived pieces ALWAYS re-render escaped: the option is
    // parsed (escape-decoded) at load time, and parse∘assemble is the
    // identity only under the escaping renderer (property-pinned) — a
    // raw re-render of a value that needed escaping would put a
    // malformed or semantically different query on the wire despite the
    // "validated at option time" promise. escape_logql keeps governing
    // the OPTIMIZER-pushed pieces (that flag exists for reference
    // parity of derived predicates, not for user-typed LogQL).
    val esc = table.options.escapeLogql
    val (optMatchers, optStages) = table.options.selector
      .map(LogQL.parseSelector).getOrElse((Nil, Nil))
    val matcherParts =
      if (optMatchers.nonEmpty || table.pushedLabelMatchers.nonEmpty)
        optMatchers.map(_.render(escape = true)) ++
          table.pushedLabelMatchers.map(_.render(esc))
      else table.options.defaultLabel match {
        // no matcher at all → default-label fallback, else error
        // (table.rs:116-122: LogQL requires at least one matcher)
        case Some(l) => Seq(LogQL.defaultMatcher(l).render(esc))
        case None => throw new IllegalArgumentException(
          "no label matcher in query and no default_label configured; " +
            "LogQL requires at least one label matcher")
      }
    val lineParts = optStages.map(_.render(escape = true)) ++
      (table.pushedLineFilters ++ pushedLines).map(_.render(esc)) ++
      // parser stages last: line filters are cheaper and LogQL applies
      // stages in order, so filtering lines before parsing them is the
      // shape a human would write (stage values always render escaped —
      // beyond-parity surface, no raw-interpolation parity to keep)
      table.pushedParsedFilters.map(_.render)
    // matcher-only selector for index/stats probes, rendered from the
    // matchers directly — substring-parsing the assembled query to the
    // first '}' truncated mid-selector whenever a pushed value or regex
    // contained a brace (e.g. rlike 'app[0-9]{2}'), making every probe
    // throw and split=stats silently degrade to width
    val selector = matcherParts.mkString("{", ", ", "}")
    val logql = (selector +: lineParts).mkString(" ")
    if (countPushed)
      // complete COUNT(*) pushdown: the scan's read schema IS the
      // aggregation output (one non-null long; Spark consumes it
      // positionally), answered by one index/stats request
      LokiScan(table.options, logql, selector, startNs, endNs, limit,
        StructType(Seq(StructField("count(*)", LongType, nullable = false))),
        countOnly = true)
    else
      LokiScan(table.options, logql, selector, startNs, endNs, limit,
        requiredSchema)
  }
}

case class LokiScan(
    options: LokiOptions,
    logql: String,
    selector: String,
    startNs: Option[Long],
    endNs: Option[Long],
    limit: Option[Int],
    requiredSchema: StructType,
    /** Complete COUNT(*) pushdown: answer from index/stats, no scan. */
    countOnly: Boolean = false)
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema

  /** Optimizer statistics from index/stats (see
    * [[LokiOptions.reportStatistics]]): row count + an estimated byte
    * size, so Spark's size-based planning — the broadcast-join decision
    * above all — works for log scans like it does for file scans. The
    * probe is one index-only request, memoized like the bounds cache
    * (same minute-rounded default window, so DSv2 Scan rebuilds hit it),
    * invalidated by the same per-endpoint drop. Selector-level numbers:
    * line-filter stages only REDUCE actual rows, so the estimate errs
    * large — the safe direction for a broadcast decision. A failed probe
    * reports unknown (planner keeps its defaults), never fails the query.
    */
  override def estimateStatistics(): Statistics = {
    import java.util.OptionalLong
    def unknown = new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.empty()
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
    if (!options.reportStatistics) return unknown
    if (countOnly) return new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(16L)
      override def numRows(): OptionalLong = OptionalLong.of(1L)
    }
    val minuteNs = 60L * 1000000000L
    val s = startNs.getOrElse(LokiHttp.thirtyDaysAgoNs / minuteNs * minuteNs)
    val e = endNs.getOrElse(
      (LokiHttp.nowNs + minuteNs - 1) / minuteNs * minuteNs)
    try {
      val (entries, bytes) =
        LokiScan.cachedStats(options.endpoint, selector, s, e)
      val rows = limit.fold(entries)(l => math.min(entries, l.toLong))
      // bytes is the LINE payload; each row also carries a timestamp and
      // its label map — a fixed per-row floor keeps tiny-line corpora
      // from looking free to broadcast. Computed in BigInt and clamped:
      // bytes × rows overflows int64 on TB-scale selectors (negative or
      // tiny sizeInBytes would flip the broadcast decision the WRONG way)
      val size = {
        val exact =
          (if (entries == 0) BigInt(0)
           else BigInt(bytes) * rows / entries) + BigInt(rows) * 48L
        if (exact > Long.MaxValue) Long.MaxValue else exact.toLong
      }
      new Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.of(size)
        override def numRows(): OptionalLong = OptionalLong.of(rows)
      }
    } catch {
      case scala.util.control.NonFatal(ex) =>
        LokiScan.log.warn(
          s"report_statistics probe failed for [$selector] " +
            s"(${ex.getClass.getSimpleName}: ${ex.getMessage}); " +
            "reporting unknown statistics")
        unknown
    }
  }

  override def toBatch: Batch = this

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new LokiPagesMetric, new LokiWireBytesMetric, new LokiDecodeMsMetric)

  // EXPLAIN surface, mirroring the reference's DisplayAs (scan.rs:149-175)
  override def description(): String = {
    val parts = Seq(s"endpoint=${options.endpoint}", s"query=$logql") ++
      startNs.map(s => s"start=$s") ++ endNs.map(e => s"end=$e") ++
      limit.map(l => s"limit=$l") ++
      // paged scans disclose their EFFECTIVE page size in EXPLAIN — the
      // same query_limit-or-server_max computation planInputPartitions
      // uses, so a scan that pages only because server_max_entries is
      // declared still says so (a plan claiming a single-request scan
      // that actually pages would break the EXPLAIN-honesty contract);
      // a pushed COUNT never pages — disclosing page_size there would
      // claim a scan that doesn't run
      (if (!countOnly) effectivePageSize.map(p => s"page_size=$p").toSeq
       else Nil) ++
      // explicit direction, disclosed only where it is honored (the
      // single-request path — paged cursors walk forward regardless)
      (if (!countOnly) effectiveDirection.map(d => s"direction=$d").toSeq
       else Nil) ++
      // pushed COUNT(*) discloses its stats-answered shape in EXPLAIN
      (if (countOnly) Seq("count=index/stats") else Nil) ++
      Seq(s"projection=[${requiredSchema.fieldNames.mkString(",")}]")
    s"LokiLogScan: ${parts.mkString(", ")}"
  }

  /** The page size the scan will actually request with: an explicit
    * query_limit wins; otherwise a declared server_max_entries forces
    * paging at the server cap (completeness opt-in); a pushed LIMIT
    * never pages. Shared by EXPLAIN ([[description]]) and
    * [[planInputPartitions]] so the disclosed plan IS the executed one.
    */
  private def effectivePageSize: Option[Int] = {
    val serverMax = Some(options.serverMaxEntries).filter(_ > 0)
    if (limit.isEmpty && options.queryLimit > 0) Some(options.queryLimit)
    else if (limit.isEmpty) serverMax
    else None
  }

  /** The `direction` option where it is honored: the single-request path
    * (which n rows a LIMIT keeps — see [[LokiOptions.direction]]). A
    * paged walk's cursor goes forward by construction, and since paging
    * never coexists with a LIMIT the unlimited row set is
    * direction-independent — log and ignore rather than fail a query the
    * option cannot affect (a catalog table carrying direction=backward
    * as base config must not break its unlimited paged scans). Lazy val:
    * description() (every EXPLAIN render) and each planInputPartitions
    * call (DSv2 rebuilds the scan several times per query) evaluate it —
    * a def would emit the ignored-direction warning once per evaluation.
    */
  @transient private lazy val effectiveDirection: Option[String] =
    options.direction match {
      case some @ Some(d) =>
        if (effectivePageSize.isEmpty) some
        else {
          LokiScan.log.warn(
            s"direction=$d ignored: the scan pages " +
              s"(page_size=${effectivePageSize.get}) and paged cursors walk " +
              "forward; an unlimited scan's row set is direction-independent")
          None
        }
      case None => None
    }

  override def planInputPartitions(): Array[InputPartition] = {
    if (countOnly)
      // one request answers the whole aggregate — nothing to slice
      return Array(LokiInputPartition(
        options.endpoint, selector, startNs, endNs, None, None,
        requiredSchema, countOnly = true))
    val n = if (limit.isDefined) 1 else math.max(options.numPartitions, 1)
    // no pushed LIMIT → page through the window with query_limit-sized
    // forward requests (the real-Loki completeness path: an unlimited
    // single request is truncated at the SERVER's default, silently);
    // query_limit=0 keeps the reference-parity single un-limited request
    val serverMax = Some(options.serverMaxEntries).filter(_ > 0)
    // a pushed LIMIT above the declared server contract would be clamped
    // (middleware) or rejected (real Loki) — fail at planning, loudly,
    // instead of returning a silently short result
    for (m <- serverMax; l <- limit) require(l <= m,
      s"pushed LIMIT $l exceeds server_max_entries $m — the server would " +
        "reject or clamp the request")
    // declaring server_max_entries OPTS INTO completeness: an unlimited
    // single request against a server with a declared max_entries_limit
    // is guaranteed to be clamped on any window bigger than the cap —
    // the silent-truncation trap the option exists to close — so the
    // scan pages at the server max instead of issuing the
    // reference-parity unlimited request. Same computation EXPLAIN
    // discloses ([[effectivePageSize]]) — the disclosed plan IS the
    // executed one.
    val pageSize = effectivePageSize
    if (n == 1) {
      Array(LokiInputPartition(
        options.endpoint, logql, startNs, endNs, limit, pageSize,
        requiredSchema, serverMax, direction = effectiveDirection))
    } else {
      // slice [start, end) into n disjoint ranges; bounds must be concrete
      // at planning time, so defaults are materialized here. The effective
      // partition count is capped at the window width in ns — otherwise a
      // window narrower than n produces slices with start > end that Loki
      // rejects at runtime. Each slice pages independently (disjoint
      // cursors over disjoint windows).
      plannedBounds.map { case (lo, hi) =>
        LokiInputPartition(
          options.endpoint, logql, Some(lo), Some(hi), None, pageSize,
          requiredSchema, serverMax, direction = effectiveDirection)
      }.toArray
    }
  }

  // memoized twice: per-instance (lazy val — Spark calls
  // planInputPartitions more than once per query) AND across instances
  // (LokiScan.boundsCache — DSv2 rebuilds the Scan several times during
  // optimization/execution; a slice run measured ~6 rebuilds × ~63 probes
  // before the shared cache). Keyed on exactly the probe inputs; windows
  // from now()-relative defaults just miss the cache, which is correct.
  @transient private lazy val plannedBounds: Seq[(Long, Long)] = {
    val n = math.max(options.numPartitions, 1)
    // default (now-relative) bounds round to minute granularity — start
    // floor, end ceil, so the window only ever WIDENS (the extra tail is
    // in the future = empty; the extra head is <60 s on a 30-day
    // heuristic window). Without this every DSv2 Scan rebuild of the
    // same query mints fresh ns-exact bounds, the cross-instance bounds
    // cache never hits, and each of the ~6 rebuilds per query re-pays
    // the full plan-time probe sequence against a real endpoint.
    // Pushed explicit bounds stay ns-exact.
    val minuteNs = 60L * 1000000000L
    val s = startNs.getOrElse(LokiHttp.thirtyDaysAgoNs / minuteNs * minuteNs)
    val e = endNs.getOrElse(
      (LokiHttp.nowNs + minuteNs - 1) / minuteNs * minuteNs)
    val eff = math.max(1L, math.min(n.toLong, e - s)).toInt
    if (options.split == "stats") {
      val key = (options.endpoint, logql, s, e, eff)
      LokiScan.cachedBounds(key) match {
        case Some(b) => b
        case None =>
          // probe OUTSIDE the cache lock: statsBounds is a sequence of
          // HTTP GETs (30 s timeout each) — holding a JVM-global lock
          // across it would serialize planning of every other
          // stats-split scan behind one slow/hung endpoint. Concurrent
          // same-key planners may both probe (rare, harmless — last
          // write wins with identical bounds).
          statsBounds(s, e, eff) match {
            case Some(b) =>
              LokiScan.putBounds(key, b); b
            case None =>
              // deliberately NOT cached: a transient index/stats outage
              // must not pin the width fallback for the session — the
              // next plan of this query re-probes and recovers the
              // count-balanced split
              widthBounds(s, e, eff)
          }
      }
    } else widthBounds(s, e, eff)
  }

  private def widthBounds(s: Long, e: Long, eff: Int): Seq[(Long, Long)] = {
    val width = math.max((e - s) / eff, 1L)
    (0 until eff).map { i =>
      val lo = s + i * width
      val hi = if (i == eff - 1) e else s + (i + 1) * width
      (lo, hi)
    }
  }

  /** Count-balanced slice boundaries via plan-time `index/stats` probes
    * (BASELINE.md "Connector time-range split under bursty logs"): equal-
    * WIDTH slicing serializes a bursty corpus through the spike slice
    * (a slice run measured max/mean = 4.0 at 80%-in-one-day skew — a skew
    * AQE cannot touch because it lives inside one partition's HTTP read).
    *
    * Recursive bisection builds a count histogram fine only where the
    * mass is: a [lo, hi) bin splits while its count exceeds target/4
    * (one probe per split — the sibling's count is the difference).
    * Boundaries then land on bin edges at cumulative multiples of
    * total/eff, so each slice carries ≤ target + target/4 rows —
    * max/mean ≤ ~1.25 regardless of burst shape. Probe cost is
    * O(eff · log(window/burst)) index-only GETs, paid once at plan time
    * on the driver. Returns None (→ width fallback) on probe failure or
    * an empty window.
    */
  private def statsBounds(s: Long, e: Long, eff: Int): Option[Seq[(Long, Long)]] = {
    val deadline = System.nanoTime() + options.statsBudgetMs * 1000000L
    try {
      LokiScan.balancedCuts(
        // the ROOT probe (the full [s, e) window) routes through the
        // shared per-(endpoint, selector, window) stats memo that
        // report_statistics also feeds: a stats-split scan of a query
        // the optimizer already sized pays zero extra probes for the
        // total, and vice versa. Bisection sub-probes stay direct —
        // hundreds of one-off sub-window entries would churn the memo's
        // LRU without any second consumer.
        (lo, hi) =>
          if (lo == s && hi == e)
            LokiScan.cachedStats(options.endpoint, selector, lo, hi)._1
          else LokiHttp.indexStats(options.endpoint, selector, lo, hi)._1,
        s, e, eff,
        probeParallelism = options.statsProbeParallelism,
        shouldStop = () => System.nanoTime() > deadline)
    } catch {
      // never swallow interruption: an interrupted planner thread must
      // propagate, not masquerade as a balanced split
      case ie: InterruptedException => throw ie
      case ex @ (_: java.io.IOException | _: RuntimeException) =>
        // width fallback: stats endpoint absent/erroring — say so once,
        // identifiably, so production logs can tell a degraded split
        // from a balanced one
        LokiScan.log.warn(
          s"split=stats probes failed for query [$logql] " +
            s"(${ex.getClass.getSimpleName}: ${ex.getMessage}); " +
            "falling back to equal-width slices")
        None
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LokiReaderFactory()

  /** Partitions for one CONCRETE window [s, e) — the micro-batch path
    * ([[LokiMicroBatchStream]]): width slices only (a per-batch
    * `split=stats` probe sequence would pay plan-time HTTP on every
    * micro-batch for a window that is usually seconds wide), same
    * pageSize/serverMax discipline as the batch path. A pushed LIMIT
    * keeps the single-partition shape exactly like batch.
    */
  private[loki] def partitionsFor(s: Long, e: Long): Array[InputPartition] = {
    val serverMax = Some(options.serverMaxEntries).filter(_ > 0)
    for (m <- serverMax; l <- limit) require(l <= m,
      s"pushed LIMIT $l exceeds server_max_entries $m — the server would " +
        "reject or clamp the request")
    val pageSize = effectivePageSize
    val n = if (limit.isDefined) 1 else math.max(options.numPartitions, 1)
    val eff = math.max(1L, math.min(n.toLong, e - s)).toInt
    if (eff == 1)
      Array(LokiInputPartition(
        options.endpoint, logql, Some(s), Some(e), limit, pageSize,
        requiredSchema, serverMax, direction = effectiveDirection))
    else
      // the batch path's width slicer — ONE slicing arithmetic, so a fix
      // to the batch clamps can never diverge the micro-batch windows
      widthBounds(s, e, eff).map { case (lo, hi) =>
        LokiInputPartition(
          options.endpoint, logql, Some(lo), Some(hi), None, pageSize,
          requiredSchema, serverMax, direction = effectiveDirection)
      }.toArray
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!countOnly,
      "pushed COUNT(*) cannot stream — push_count applies to batch scans")
    new LokiMicroBatchStream(this)
  }
}

object LokiScan {
  private[loki] val log = org.slf4j.LoggerFactory.getLogger(classOf[LokiScan])

  /** Cross-instance stats-split bounds memo (see plannedBounds). True
    * LRU: a hit re-inserts the key at the back, so a session planning
    * many one-off windows evicts THOSE, not its hot repeated queries.
    * Bounded at 256 entries (eviction is a plan-time re-probe, never a
    * correctness event). Only successful stats placements are stored —
    * width fallbacks from probe failures stay uncached (see
    * plannedBounds).
    */
  /** The pure count-balanced boundary placement behind `split=stats`,
    * parameterized over the count source so LogQLProps can property-test
    * it against synthetic distributions without HTTP. Recursive bisection
    * builds a histogram fine only where the mass is (one probe per
    * split); boundaries land on bin edges at cumulative multiples of
    * total/eff.
    *
    * Invariants (property-tested): the returned slices are a disjoint,
    * strictly-increasing cover of [s, e) regardless of what the count
    * function reports — correctness never depends on the stats, only
    * balance does. Probe budget 64×eff: probe count is O(#clusters ·
    * log(window/cluster_width)) — sharp sub-second bursts in a month-wide
    * window cost ~20 probes each (a slice run measured 462 on a 30-cluster
    * corpus); past the budget the remaining bins stay coarse (balance
    * degrades gracefully toward width-split, never correctness).
    */
  private[graft] def balancedCuts(
      count: (Long, Long) => Long,
      s: Long, e: Long, eff: Int,
      probeParallelism: Int = 1,
      shouldStop: () => Boolean = () => false): Option[Seq[(Long, Long)]] = {
    val total = count(s, e)
    if (total <= 0) return None
    val target = math.max(total / eff, 1L)
    val grain = math.max(target / 4, 1L)
    var probesLeft = 64 * eff
    // bins in time order, refined LEVEL-SYNCHRONOUSLY: every splittable
    // bin's midpoint count is probed as one batch — optionally in
    // parallel, the probes being independent index-only GETs — so
    // plan-time latency against a real endpoint is O(levels × RTT), not
    // O(probes × RTT) (round-8 verdict item 4: 462 serial probes at
    // ~20 ms RTT would be ~9 s of planning). `shouldStop` (the caller's
    // wall-clock budget) is consulted between levels: past it the
    // remaining bins stay coarse — balance degrades gracefully toward
    // width-split, and the placement below never depends on how far
    // refinement got. The result is deterministic in the counts alone —
    // which bins split depends only on their counts, never on probe
    // order or parallelism.
    var bins = Vector((s, e, total, 0))
    var frontier = true
    while (frontier && probesLeft > 0 && !shouldStop()) {
      val work = bins.zipWithIndex.collect {
        case ((lo, hi, cnt, d), i)
            if cnt > grain && hi - lo > 1000L && d < 48 => i
      }.take(probesLeft)
      if (work.isEmpty) frontier = false
      else {
        probesLeft -= work.size
        val mids = probeBatch(
          work.map { i => val b = bins(i); (i, b._1, b._1 + (b._2 - b._1) / 2) },
          count, probeParallelism)
        bins = bins.zipWithIndex.flatMap { case (b @ (lo, hi, cnt, d), i) =>
          mids.get(i) match {
            case Some(cl) =>
              val mid = lo + (hi - lo) / 2
              Vector((lo, mid, cl, d + 1), (mid, hi, cnt - cl, d + 1))
            case None => Vector(b)
          }
        }
      }
    }
    val cuts = Array.newBuilder[Long]
    var acc = 0L
    var i = 1
    bins.foreach { case (_, hi, c, _) =>
      acc += c
      if (i < eff && acc >= i * total / eff && hi < e) {
        cuts += hi
        i += 1
      }
    }
    val edges = (s +: cuts.result().toSeq) :+ e
    // a DEGENERATE placement — one slice where the caller asked for
    // several — can only mean refinement never produced a usable interior
    // edge (budget/stop fired before the first split, or one un-splittable
    // bin). Returning it would be strictly WORSE than the width fallback
    // (a partitions=N scan would serialize through one HTTP request) and
    // plannedBounds would cache the degenerate placement for every
    // subsequent plan of the query; None → uncached width split instead.
    // Partial refinements (≥2 slices) remain usable and cacheable.
    if (eff > 1 && edges.size <= 2) None
    else Some(edges.sliding(2).map { case Seq(lo, hi) => (lo, hi) }.toSeq)
  }

  /** Probe one refinement level's midpoints: (bin index, lo, mid) →
    * count(lo, mid), serial or on a bounded just-for-this-level pool.
    * Probe failures propagate with their original type (ExecutionException
    * unwrapped) so statsBounds's narrow catch sees the real IOException;
    * interruption propagates as InterruptedException from invokeAll.
    */
  private def probeBatch(
      work: Seq[(Int, Long, Long)],
      count: (Long, Long) => Long,
      parallelism: Int): Map[Int, Long] =
    if (parallelism <= 1 || work.size <= 1)
      work.map { case (i, lo, mid) => i -> count(lo, mid) }.toMap
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(parallelism, work.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[(Int, Long)]] =
          work.map { case (i, lo, mid) =>
            () => i -> count(lo, mid)
          }
        pool.invokeAll(tasks.asJava).asScala.map { f =>
          try f.get()
          catch {
            case ee: java.util.concurrent.ExecutionException =>
              throw Option(ee.getCause).getOrElse(ee)
          }
        }.toMap
      } finally pool.shutdownNow()
    }

  private type BoundsKey = (String, String, Long, Long, Int)
  private[loki] val boundsCache =
    scala.collection.mutable.LinkedHashMap.empty[BoundsKey, Seq[(Long, Long)]]

  private[loki] def cachedBounds(key: BoundsKey): Option[Seq[(Long, Long)]] =
    boundsCache.synchronized {
      boundsCache.remove(key) match {
        case Some(b) => boundsCache.update(key, b); Some(b) // refresh recency
        case None => None
      }
    }

  private[loki] def putBounds(key: BoundsKey, b: Seq[(Long, Long)]): Unit =
    boundsCache.synchronized {
      boundsCache.update(key, b)
      while (boundsCache.size > 256) boundsCache.remove(boundsCache.head._1)
    }

  /** Drop every cached bounds placement for `endpoint`. The memo key is
    * (endpoint, logql, window, eff) with NO data fingerprint — correct
    * for a live endpoint whose balance staleness is bounded by the LRU,
    * but an endpoint whose DATASET is replaced under the same address
    * (a test stub stopped and its port recycled by the OS for a later
    * stub, or an in-place clear+reseed) would serve the OLD corpus's
    * boundary placement to the new one: the relation stays exact
    * (slicing never affects correctness), but the balance the stats
    * split exists for silently degrades. The stub calls this from
    * stop()/clear(); a production cache invalidation on ingest would
    * hang off the same hook.
    */
  def dropBoundsFor(endpoint: String): Unit = {
    boundsCache.synchronized {
      val stale = boundsCache.keys.filter(_._1 == endpoint).toList
      stale.foreach(boundsCache.remove)
    }
    statsCache.synchronized {
      val stale = statsCache.keys.filter(_._1 == endpoint).toList
      stale.foreach(statsCache.remove)
    }
  }

  /** (entries, bytes) memo for [[LokiScan.estimateStatistics]] — same
    * LRU/per-endpoint-invalidation discipline as the bounds cache (the
    * optimizer may ask for statistics on every Scan rebuild).
    */
  private val statsCache = scala.collection.mutable.LinkedHashMap
    .empty[(String, String, Long, Long), (Long, Long)]

  private[loki] def cachedStats(
      endpoint: String, selector: String, s: Long, e: Long): (Long, Long) = {
    val key = (endpoint, selector, s, e)
    statsCache.synchronized {
      statsCache.remove(key).map { v =>
        statsCache.update(key, v); v // refresh recency
      }
    }.getOrElse {
      val v = LokiHttp.indexStats(endpoint, selector, s, e)
      statsCache.synchronized {
        statsCache.update(key, v)
        while (statsCache.size > 256) statsCache.remove(statsCache.head._1)
      }
      v
    }
  }
}

case class LokiInputPartition(
    endpoint: String,
    logql: String,
    startNs: Option[Long],
    endNs: Option[Long],
    /** Pushed LIMIT — single request, reference shape. */
    limit: Option[Int],
    /** Page size for cursor pagination (query_limit option); mutually
      * exclusive with `limit` by construction in planInputPartitions.
      */
    pageSize: Option[Int],
    requiredSchema: StructType,
    /** The server's max_entries_limit contract (server_max_entries
      * option): the reader never requests a limit above it — see
      * [[LokiOptions.serverMaxEntries]].
      */
    serverMax: Option[Int] = None,
    /** COUNT(*) answered by one index/stats request (logql here is the
      * bare selector — canPushCount guarantees no line-filter stages).
      */
    countOnly: Boolean = false,
    /** Explicit `direction` for the single-request path (the `direction`
      * option): which n rows a LIMIT keeps (backward = newest, forward =
      * oldest). Never set on paged partitions — their cursors walk
      * forward by construction.
      */
    direction: Option[String] = None) extends InputPartition {

  /** The executor-side concrete window: defaults materialize at execute
    * time, like scan.rs:104-115 (now−30d…now). ONE definition for both
    * readers (scan and count) — the default is a semantic contract, and a
    * copy drifting in one reader would silently diverge a pushed COUNT
    * from the scan it replaces.
    */
  def effectiveWindow: (Long, Long) =
    (startNs.getOrElse(LokiHttp.thirtyDaysAgoNs),
      endNs.getOrElse(LokiHttp.nowNs))
}

/** Every partition but a pushed COUNT reads columnar, through
  * [[LokiColumnarReader]]: the reference streams Arrow batches end to end
  * (scan.rs:200-213), and the wire parquet decodes straight into column
  * vectors for every scan shape — single request or paged, with or
  * without the structured-metadata column. A pushed COUNT is one
  * stats-derived row ([[LokiCountReader]]).
  */
case class LokiReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LokiCountReader(partition.asInstanceOf[LokiInputPartition])

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !partition.asInstanceOf[LokiInputPartition].countOnly

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    new LokiColumnarReader(partition.asInstanceOf[LokiInputPartition])
}

/** COUNT(*) answered by ONE `index/stats` request — the scan never runs
  * (see [[LokiOptions.pushCount]] for the accuracy contract). Time
  * defaults materialize executor-side exactly like the scan reader's.
  */
class LokiCountReader(p: LokiInputPartition)
  extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = !done && { done = true; true }
  override def get(): InternalRow = {
    val (start, end) = p.effectiveWindow
    new GenericInternalRow(Array[Any](
      java.lang.Long.valueOf(LokiHttp.indexStats(p.endpoint, p.logql, start, end)._1)))
  }
  override def close(): Unit = ()
}

/** The scan reader. Each response page decodes straight into column
  * vectors through parquet's low-level column readers — no per-row Group
  * or InternalRow — and leaves as one ColumnarBatch. Memory is bounded by
  * one response page: its body bytes plus its decoded vectors.
  *
  * A SINGLE REQUEST (no `pageSize`: a pushed LIMIT, or the
  * reference-parity unlimited read, scan.rs:113-115) is a page that is
  * never cut, sent with the partition's `limit` and `direction`.
  *
  * PAGES (`pageSize`, from `query_limit` or `server_max_entries`): a real
  * Loki truncates an unlimited request at its server default, so the
  * reader walks the window in `direction=forward` pages. Loki's only
  * cursor is the inclusive `start`, and a page cut can land inside a run
  * of rows sharing one ns — advancing to maxTs+1 would drop the rest of
  * that run. So a FULL page emits only its prefix strictly below the
  * page's max ts, and the next request re-reads the max-ts run from
  * `start = maxTs`; a short page emits whole (the window is exhausted).
  * A full page entirely at the cursor's own ns cannot advance the cursor:
  * the reader retries it with a doubled limit until the burst fits in one
  * page, re-anchors to the page size once the cursor moves, and fails
  * loudly past the ceiling instead of dropping rows.
  *
  * The timestamp column is decoded only when projected or paged (the
  * cursor needs it even when the projection pruned it), so a bare-count
  * single request decodes nothing and emits a column-less batch. Ascending
  * order, which the held-run cut rests on, is checked on forward pages
  * only: a backward LIMIT response is descending by contract.
  *
  * Each page opens with its own `ParquetReadOptions`, built from the one
  * JVM-wide configuration in the companion object. Building options
  * without a configuration parses Hadoop's `core-default.xml` and
  * `core-site.xml` again, which cost more than decoding a 5,000-row page.
  * The options themselves stay per page: `ParquetFileReader.close()`
  * releases the options' codec factory, so with one shared set a closing
  * reader would return to the pool decompressors that readers in other
  * tasks are still using.
  *
  * Task metrics (declared by `LokiScan.supportedCustomMetrics`): responses
  * read, their body bytes and the time spent decoding them.
  */
class LokiColumnarReader(p: LokiInputPartition)
  extends PartitionReader[ColumnarBatch] {

  import org.apache.parquet.column.ColumnReader
  import org.apache.parquet.column.impl.ColumnReadStoreImpl
  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.ColumnVector

  private val wanted = p.requiredSchema.fieldNames
  private val emitTs = wanted.indexOf("timestamp")
  private val paged = p.pageSize.isDefined
  // adaptive-limit ceiling for single-ns bursts: generous (a burst this
  // size is pathological data) but bounded, and never above the server's
  // declared max_entries_limit — a request past it is either rejected
  // (real Loki) or silently clamped (middleware), and a clamped full page
  // would pass for a complete one
  private val maxPs =
    p.pageSize.fold(0)(ps => p.serverMax.getOrElse(math.max(ps, 1 << 20)))
  private val ps0 = p.pageSize.fold(0)(math.min(_, maxPs))
  private var ps = ps0
  // defaults materialize at execute time (p.effectiveWindow)
  private val (start, end) = p.effectiveWindow
  private var cursor = start
  private var done = false
  private var vecs: Array[OnHeapColumnVector] = _
  // the decoded page's raw ns timestamps, paged reads only: the cursor
  private var tsNs: Array[Long] = _
  private var batch: ColumnarBatch = _
  private var pages = 0L
  private var wireBytes = 0L
  private var decodeNs = 0L

  override def next(): Boolean = {
    while (!done) {
      close() // release the previous page
      val body = LokiHttp.queryRange(p.endpoint, p.logql, cursor, end,
        if (paged) Some(ps) else p.limit,
        if (paged) Some("forward") else p.direction)
      pages += 1
      wireBytes += body.length
      val t0 = System.nanoTime()
      val rows = if (body.isEmpty) 0 else decode(body)
      decodeNs += System.nanoTime() - t0
      if (!paged || rows < ps) {
        // a single request or a short page: nothing was cut
        done = true
        return emit(rows)
      }
      val maxTs = tsNs(rows - 1)
      var cut = rows - 1
      while (cut > 0 && tsNs(cut - 1) == maxTs) cut -= 1
      if (cut > 0 || maxTs > cursor) {
        cursor = maxTs
        ps = ps0 // re-anchor after any burst doubling
      } else {
        if (ps >= maxPs)
          throw new IllegalStateException(
            s"Loki scan: more than $ps entries share the nanosecond " +
            s"timestamp $maxTs and the forward cursor cannot advance " +
            "past it; raise the query_limit option above the largest " +
            "same-timestamp burst" +
            p.serverMax.fold("")(m => s" (adaptive growth is capped " +
              s"at server_max_entries=$m — a burst must fit strictly " +
              "inside one page to prove itself complete)"))
        ps = math.min(ps.toLong * 2, maxPs.toLong).toInt
      }
      if (cut > 0) return emit(cut)
    }
    close()
    false
  }

  private def emit(rows: Int): Boolean = {
    if (rows > 0) batch = new ColumnarBatch(vecs.map(v => v: ColumnVector), rows)
    rows > 0
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    LokiTaskMetric("loki_pages", pages),
    LokiTaskMetric("loki_wire_bytes", wireBytes),
    LokiTaskMetric("loki_decode_ms", decodeNs / 1000000L))

  override def close(): Unit = {
    if (vecs != null) vecs.foreach(_.close())
    vecs = null
    batch = null
  }

  /** Decode one response body into `vecs` (and `tsNs` when paged);
    * returns its row count.
    */
  private def decode(body: Array[Byte]): Int = {
    val reader = ParquetFileReader.open(new ByteArrayInputFile(body),
      ParquetReadOptions.builder(LokiColumnarReader.conf).build())
    try {
      val md = reader.getFooter.getFileMetaData
      val fileSchema = md.getSchema
      val total = reader.getRecordCount.toInt
      vecs = OnHeapColumnVector.allocateColumns(math.max(total, 1), p.requiredSchema)
      tsNs = if (paged) new Array[Long](total) else null
      val cols = if (paged && emitTs < 0) wanted :+ "timestamp" else wanted
      if (cols.nonEmpty) {
        // projection: the requested subset of the file schema, by column
        // name (the ProjectionMask.roots analog, scan.rs:203-206)
        val requested = new MessageType(fileSchema.getName,
          cols.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
        val converter = new GroupRecordConverter(requested).getRootConverter
        var row = 0
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val n = pages.getRowCount.toInt
          if (n > 0) {
            val store = new ColumnReadStoreImpl(pages, converter, requested,
              md.getCreatedBy)
            def rd(path: String*): ColumnReader =
              store.getColumnReader(requested.getColumnDescription(path.toArray))
            if (paged || emitTs >= 0) timestamps(rd("timestamp"), row, n)
            var c = 0
            while (c < wanted.length) {
              wanted(c) match {
                case "timestamp" => // decoded above
                case "line" => lines(rd("line"), vecs(c), row, n)
                case m => // labels, metadata: one wire shape
                  maps(rd(m, "key_value", "key"), rd(m, "key_value", "value"),
                    vecs(c), row, n)
              }
              c += 1
            }
            row += n
          }
          pages = reader.readNextRowGroup()
        }
      }
      total
    } finally reader.close()
  }

  private def timestamps(r: ColumnReader, row: Int, n: Int): Unit = {
    var i = row
    while (i < row + n) {
      val ns = r.getLong
      r.consume()
      if (paged) {
        if (i > 0 && ns < tsNs(i - 1))
          throw new IllegalStateException(
            s"Loki scan: out-of-order forward response (ts $ns after " +
            s"${tsNs(i - 1)}) from ${p.endpoint}")
        tsNs(i) = ns
      }
      // Loki ns → Spark µs, truncating (§7.4(b))
      if (emitTs >= 0) vecs(emitTs).putLong(i, ns / 1000L)
      i += 1
    }
  }

  private def lines(r: ColumnReader, v: WritableColumnVector, row: Int, n: Int): Unit = {
    var i = row
    while (i < row + n) {
      val b = r.getBinary.getBytes
      v.putByteArray(i, b, 0, b.length)
      r.consume()
      i += 1
    }
  }

  /** One `(MAP) { repeated key_value {key, value} }` column. Repetition
    * level 0 starts a row and 1 continues it; definition level 0 is an
    * empty map's placeholder. The value column shares the key column's
    * repetition structure, so the two are consumed in lockstep.
    */
  private def maps(keyReader: ColumnReader, valReader: ColumnReader,
      v: WritableColumnVector, row: Int, n: Int): Unit = {
    val keys = v.getChild(0)
    val vals = v.getChild(1)
    val total = keyReader.getTotalValueCount
    var consumed = 0L
    var i = row
    while (i < row + n) {
      val offset = keys.getElementsAppended
      if (keyReader.getCurrentDefinitionLevel == 0) {
        keyReader.consume(); valReader.consume()
        consumed += 1
      } else {
        var more = true
        while (more) {
          val kb = keyReader.getBinary.getBytes
          val vb = valReader.getBinary.getBytes
          keys.appendByteArray(kb, 0, kb.length)
          vals.appendByteArray(vb, 0, vb.length)
          keyReader.consume(); valReader.consume()
          consumed += 1
          more = consumed < total && keyReader.getCurrentRepetitionLevel == 1
        }
      }
      v.putArray(i, offset, keys.getElementsAppended - offset)
      i += 1
    }
  }
}

object LokiColumnarReader {
  /** Hadoop's default configuration, parsed once per JVM and only read
    * afterwards; every page builds its options from it.
    */
  private lazy val conf = new HadoopParquetConfiguration(new Configuration())
}

/** `query_range` responses the scan read, summed over tasks. */
class LokiPagesMetric extends CustomSumMetric {
  override def name(): String = "loki_pages"
  override def description(): String = "Loki responses read"
}

/** Body bytes of those responses. */
class LokiWireBytesMetric extends CustomSumMetric {
  override def name(): String = "loki_wire_bytes"
  override def description(): String = "Loki response bytes"
}

/** Time spent decoding those responses. */
class LokiDecodeMsMetric extends CustomSumMetric {
  override def name(): String = "loki_decode_ms"
  override def description(): String = "Loki decode time (ms)"
}
