package graft.sources.loki

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Scan half of the connector — the rebuild of `LokiLogScanExec`
  * (`src/scan.rs`). Pushdown mirrors `src/table.rs:90-156`:
  *
  *   - required columns → parquet projection (ProjectionMask analog)
  *   - limit → Loki `limit` query param
  *   - WHERE conjuncts — timestamp bounds, label matchers, line filters,
  *     parser stages — arrive pre-captured on [[LokiTable]] by
  *     [[graft.plans.LokiPushdownRule]]; the builder takes no DSv2
  *     filters of its own
  *
  * Partitioning: 1 InputPartition by default (scan.rs:46); with
  * `partitions=N` the time range splits into N slices, each an independent
  * range query — this is safe because Loki range queries are disjoint-range
  * composable, and is the scale-out story for big windows. A pushed LIMIT
  * forces a single partition (a global limit cannot be sliced).
  */
class LokiScanBuilder(table: LokiTable)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  private var requiredSchema: StructType =
    LokiDataSource.logSchema(table.options.structuredMetadata)
  private var limit: Option[Int] = None
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
      table.pushedLineFilters.isEmpty &&
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
    val LogQL.LogQuery(selector, logql) = LogQL.logQuery(table.options,
      table.pushedLabelMatchers, table.pushedLineFilters,
      table.pushedParsedFilters).getOrElse(
      // table.rs:116-122: LogQL requires at least one label matcher
      throw new IllegalArgumentException(
        "no label matcher in query and no default_label configured; " +
          "LogQL requires at least one label matcher"))
    if (countPushed)
      // complete COUNT(*) pushdown: the scan's read schema IS the
      // aggregation output (one non-null long; Spark consumes it
      // positionally), answered by one index/stats request
      LokiScan(table.options, logql, selector, table.pushedStartNs,
        table.pushedEndNs, limit,
        StructType(Seq(StructField("count(*)", LongType, nullable = false))),
        countOnly = true)
    else
      LokiScan(table.options, logql, selector, table.pushedStartNs,
        table.pushedEndNs, limit, requiredSchema)
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
    val (s, e) = LokiScan.plannedWindow(startNs, endNs)
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
    val (s, e) = LokiScan.plannedWindow(startNs, endNs)
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
    val deadline = System.nanoTime() + LokiScan.StatsBudgetMs * 1000000L
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
        probeParallelism = LokiScan.StatsProbeParallelism,
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

  /** The concrete window a plan-time computation uses: the statistics
    * probe, the partition slicer and the metadata scans. A missing bound
    * defaults to now − 30 d … now (scan.rs:104-115) rounded out to the
    * minute — start floor, end ceil, so the window only ever WIDENS (the
    * extra tail is in the future = empty; the extra head is <60 s on a
    * 30-day heuristic window). Without the rounding every DSv2 Scan
    * rebuild of the same query mints fresh ns-exact bounds, and the
    * bounds and stats memos keyed on the window never hit. Pushed bounds
    * stay ns-exact.
    */
  def plannedWindow(startNs: Option[Long], endNs: Option[Long]): (Long, Long) = {
    val minuteNs = 60L * 1000000000L
    (startNs.getOrElse(LokiHttp.thirtyDaysAgoNs / minuteNs * minuteNs),
      endNs.getOrElse((LokiHttp.nowNs + minuteNs - 1) / minuteNs * minuteNs))
  }

  /** Plan-time wall-clock budget for the `split=stats` bisection probes.
    * Against a real endpoint each probe is an HTTP round trip; past the
    * budget the remaining bins stay coarse (balance degrades gracefully
    * toward width-split, correctness never depends on it).
    */
  private val StatsBudgetMs = 2000L

  /** Concurrent `index/stats` probes per refinement level. The probes are
    * independent index-only GETs, so the frontier parallelizes: plan-time
    * latency is O(levels × RTT) instead of O(probes × RTT). Placement is
    * deterministic in the counts, not the probe order.
    */
  private val StatsProbeParallelism = 8

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
  * LABEL AND METADATA MAPS belong to streams, not rows: a page holds far
  * fewer distinct label sets than rows. Each row's map is read as its
  * sequence of (key id, value id) pairs, and each distinct sequence is
  * decoded once per column chunk: the first row that has it appends its
  * keys and values to the map's child vectors, and every later row points
  * at that child range. The ids come from the chunk's dictionary when the
  * chunk's encoding stats say every data page is dictionary-encoded (the
  * converter tree assembles nothing; its leaves only accept dictionaries,
  * which makes the column readers expose dictionary ids). A chunk with
  * plain pages, or without stats, numbers its distinct value bytes
  * instead, so both encodings build maps the same way. Dictionary ids are
  * numbered per chunk, so the set table is cleared per row group.
  *
  * The page's column vectors (and `tsNs`) are reset and reused for the
  * next page of the partition, keeping their grown capacity, so the
  * batch returned by `get()` is valid only until the next `next()`, as
  * for Spark's own vectorized parquet reader. They are released at the
  * end of the stream and by `close()`.
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
  import org.apache.parquet.hadoop.metadata.ColumnPath
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.ColumnVector
  import LokiColumnarReader._

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
  // one distinct-label-set table per map column, null for the others
  private val sets = wanted.map {
    case "timestamp" | "line" => null
    case _ => new LabelSets
  }
  // one row's (key id, value id) sequence
  private var pairs = new Array[Int](16)
  private var batch: ColumnarBatch = _
  private var pages = 0L
  private var wireBytes = 0L
  private var decodeNs = 0L

  override def next(): Boolean = {
    while (!done) {
      batch = null // the previous page's vectors are reused below
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
    else close() // a single request or a window's last page: nothing more
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
    tsNs = null
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
      if (vecs == null)
        vecs = OnHeapColumnVector.allocateColumns(math.max(total, 1), p.requiredSchema)
      else vecs.foreach { v => v.reset(); v.reserve(total) }
      if (paged && (tsNs == null || tsNs.length < total)) tsNs = new Array[Long](total)
      val cols = if (paged && emitTs < 0) wanted :+ "timestamp" else wanted
      if (cols.nonEmpty) {
        // projection: the requested subset of the file schema, by column
        // name (the ProjectionMask.roots analog, scan.rs:203-206)
        val requested = new MessageType(fileSchema.getName,
          cols.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
        var row = 0
        var group = 0
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val n = pages.getRowCount.toInt
          if (n > 0) {
            // a fresh tree per row group: its leaves hold this chunk's
            // dictionaries
            val converter = new NoOpGroup(requested)
            val store = new ColumnReadStoreImpl(pages, converter, requested,
              md.getCreatedBy)
            val chunks = reader.getRowGroups.get(group).getColumns
            def rd(path: String*): ColumnReader =
              store.getColumnReader(requested.getColumnDescription(path.toArray))
            // value ids of one map leaf in this chunk (after `rd` made its
            // reader, which hands the leaf the chunk's dictionary)
            def ids(path: String*): Ids = {
              val cp = ColumnPath.get(path: _*)
              val stats = chunks.asScala.find(_.getPath == cp)
                .map(_.getEncodingStats).orNull
              val dict = converter.leaf(path).dictionary
              if (stats != null && dict != null && !stats.hasNonDictionaryEncodedPages)
                new DictIds(dict)
              else new ByteIds
            }
            if (paged || emitTs >= 0) timestamps(rd("timestamp"), row, n)
            var c = 0
            while (c < wanted.length) {
              wanted(c) match {
                case "timestamp" => // decoded above
                case "line" => lines(rd("line"), vecs(c), row, n)
                case m => // labels, metadata: one wire shape
                  val kr = rd(m, "key_value", "key")
                  val vr = rd(m, "key_value", "value")
                  sets(c).clear()
                  mapColumn(kr, vr, ids(m, "key_value", "key"),
                    ids(m, "key_value", "value"), sets(c), vecs(c), row, n)
              }
              c += 1
            }
            row += n
          }
          group += 1
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
      val b = heapBytes(r.getBinary)
      v.putByteArray(i, b.array, b.arrayOffset + b.position, b.remaining)
      r.consume()
      i += 1
    }
  }

  /** One `(MAP) { repeated key_value {key, value} }` column. Repetition
    * level 0 starts a row and 1 continues it; definition level 0 is an
    * empty map's placeholder. The value column shares the key column's
    * repetition structure, so the two are consumed in lockstep. A row's
    * map is its (key id, value id) sequence; the sequence's first row
    * appends the bytes, later rows share that child range.
    */
  private def mapColumn(keyReader: ColumnReader, valReader: ColumnReader,
      keyIds: Ids, valIds: Ids, seen: LabelSets,
      v: WritableColumnVector, row: Int, n: Int): Unit = {
    val keys = v.getChild(0)
    val vals = v.getChild(1)
    val total = keyReader.getTotalValueCount
    var consumed = 0L
    var i = row
    while (i < row + n) {
      var len = 0
      var h = 0L
      if (keyReader.getCurrentDefinitionLevel == 0) {
        keyReader.consume(); valReader.consume()
        consumed += 1
      } else {
        var more = true
        while (more) {
          val k = keyIds.id(keyReader)
          val x = valIds.id(valReader)
          if (len + 2 > pairs.length) pairs = java.util.Arrays.copyOf(pairs, pairs.length * 2)
          pairs(len) = k
          pairs(len + 1) = x
          len += 2
          h = (h ^ ((k.toLong << 32) | (x & 0xffffffffL))) * 0x9E3779B97F4A7C15L
          h ^= h >>> 29
          keyReader.consume(); valReader.consume()
          consumed += 1
          more = consumed < total && keyReader.getCurrentRepetitionLevel == 1
        }
      }
      h = mix64(h ^ len)
      val at = seen.find(h, pairs, len)
      val offset =
        if (at >= 0) seen.offset(at)
        else {
          val off = keys.getElementsAppended
          var j = 0
          while (j < len) {
            val kb = heapBytes(keyIds.bytes(pairs(j)))
            keys.appendByteArray(kb.array, kb.arrayOffset + kb.position, kb.remaining)
            val vb = heapBytes(valIds.bytes(pairs(j + 1)))
            vals.appendByteArray(vb.array, vb.arrayOffset + vb.position, vb.remaining)
            j += 2
          }
          seen.add(h, pairs, len, off)
          off
        }
      v.putArray(i, offset, len / 2)
      i += 1
    }
  }
}

object LokiColumnarReader {
  import org.apache.parquet.column.{ColumnReader, Dictionary}
  import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
  import org.apache.parquet.schema.GroupType

  /** Hadoop's default configuration, parsed once per JVM and only read
    * afterwards; every page builds its options from it.
    */
  private lazy val conf = new HadoopParquetConfiguration(new Configuration())

  /** `b`'s bytes in a heap buffer, without a copy when it already is one. */
  private def heapBytes(b: Binary): java.nio.ByteBuffer = {
    val bb = b.toByteBuffer
    if (bb.hasArray) bb else java.nio.ByteBuffer.wrap(b.getBytes)
  }

  /** Murmur3's 64-bit finalizer: spreads a hash over all its bits. */
  private def mix64(x: Long): Long = {
    var h = x
    h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** A converter tree that assembles nothing: the reader pulls values from
    * the column readers itself. Its leaves accept dictionaries, so a
    * dictionary-encoded page exposes its ids, and keep the chunk's
    * dictionary.
    */
  private final class NoOpGroup(t: GroupType) extends GroupConverter {
    private val children: Array[Converter] = Array.tabulate(t.getFieldCount) { i =>
      val f = t.getType(i)
      if (f.isPrimitive) new DictionaryLeaf else new NoOpGroup(f.asGroupType)
    }
    override def getConverter(i: Int): Converter = children(i)
    override def start(): Unit = ()
    override def end(): Unit = ()

    def leaf(path: Seq[String]): DictionaryLeaf = {
      val c = children(t.getFieldIndex(path.head))
      if (path.tail.isEmpty) c.asInstanceOf[DictionaryLeaf]
      else c.asInstanceOf[NoOpGroup].leaf(path.tail)
    }
  }

  private final class DictionaryLeaf extends PrimitiveConverter {
    var dictionary: Dictionary = _
    override def hasDictionarySupport: Boolean = true
    override def setDictionary(d: Dictionary): Unit = dictionary = d
  }

  /** The value ids of one map leaf within one column chunk. */
  private sealed trait Ids {
    def id(r: ColumnReader): Int
    def bytes(id: Int): Binary
  }

  /** A chunk whose every data page is dictionary-encoded: its ids. */
  private final class DictIds(d: Dictionary) extends Ids {
    def id(r: ColumnReader): Int = r.getCurrentValueDictionaryID
    def bytes(id: Int): Binary = d.decodeToBinary(id)
  }

  /** Any other chunk: ids numbered by first appearance of the bytes. */
  private final class ByteIds extends Ids {
    private val ids = new java.util.HashMap[Binary, Integer]
    private val values = scala.collection.mutable.ArrayBuffer.empty[Binary]
    def id(r: ColumnReader): Int = {
      val b = r.getBinary
      val known = ids.get(b)
      if (known != null) known
      else {
        val c = b.copy()
        ids.put(c, values.size)
        values += c
        values.size - 1
      }
    }
    def bytes(id: Int): Binary = values(id)
  }

  /** The distinct id sequences of one map column in one column chunk,
    * each with the child offset its bytes were appended at: open
    * addressing over a well-mixed 64-bit hash (a weak one clusters the
    * similar sequences of one page), sequences kept in one int pool.
    */
  private final class LabelSets {
    private var slots = new Array[Int](256) // entry + 1; 0 is empty
    private var hashes = new Array[Long](128)
    private var starts = new Array[Int](128)
    private var lens = new Array[Int](128)
    private var offsets = new Array[Int](128)
    private var pool = new Array[Int](1024)
    private var size = 0
    private var used = 0

    def clear(): Unit = {
      if (size > 0) java.util.Arrays.fill(slots, 0)
      size = 0
      used = 0
    }

    def offset(e: Int): Int = offsets(e)

    /** The entry holding `seq(0 until len)`, or -1. */
    def find(h: Long, seq: Array[Int], len: Int): Int = {
      val mask = slots.length - 1
      var s = h.toInt & mask
      while (slots(s) != 0) {
        val e = slots(s) - 1
        if (hashes(e) == h && lens(e) == len &&
            java.util.Arrays.equals(pool, starts(e), starts(e) + len, seq, 0, len))
          return e
        s = (s + 1) & mask
      }
      -1
    }

    def add(h: Long, seq: Array[Int], len: Int, offset: Int): Unit = {
      if (size == hashes.length) {
        val cap = size * 2
        hashes = java.util.Arrays.copyOf(hashes, cap)
        starts = java.util.Arrays.copyOf(starts, cap)
        lens = java.util.Arrays.copyOf(lens, cap)
        offsets = java.util.Arrays.copyOf(offsets, cap)
        slots = new Array[Int](cap * 2)
        var e = 0
        while (e < size) { place(hashes(e), e); e += 1 }
      }
      if (used + len > pool.length)
        pool = java.util.Arrays.copyOf(pool, math.max(pool.length * 2, used + len))
      System.arraycopy(seq, 0, pool, used, len)
      hashes(size) = h
      starts(size) = used
      lens(size) = len
      offsets(size) = offset
      place(h, size)
      used += len
      size += 1
    }

    private def place(h: Long, e: Int): Unit = {
      val mask = slots.length - 1
      var s = h.toInt & mask
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = e + 1
    }
  }
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
