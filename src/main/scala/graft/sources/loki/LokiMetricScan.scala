package graft.sources.loki

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** One wire range-aggregation of the metric relation (round 16 widened
  * the per-kind strings to this shape so UNWRAPPED aggregations — the
  * latency/percentile workload — ride the same machinery):
  *
  *   - plain entry kinds (`count_over_time`, `bytes_over_time`): integer
  *     samples, rendered as `sum by (g) (fn({inner}[step]))`;
  *   - unwrapped kinds (`avg/min/max/quantile_over_time` with
  *     [[unwrap]] set): float samples over a NUMERIC field extracted
  *     from the line. The unwrap pipeline appends to the inner query:
  *     `| <parser> gpN="key" | gpN!="" | unwrap gpN | __error__=""` —
  *     the missing-guard drops rows whose extraction is absent/empty
  *     (the host's NULL) and the error filter drops conversion failures
  *     (also the host's NULL), which is what makes the push exact AND
  *     real-Loki-valid (a metric query whose pipeline yields `__error__`
  *     rows fails on a real server; this pipeline filters every
  *     would-be error row before sample extraction). Grouping rides the
  *     range aggregation itself (`avg_over_time(…[step]) by (g)` —
  *     samples aggregate across streams per group, LogQL semantics),
  *     except `sum_over_time`, which LogQL excludes from range-agg
  *     grouping — it keeps the outer `sum by (g) (…)` wrapper (sum of
  *     per-stream sums ≡ group sum).
  */
case class MetricAgg(
    fn: String,
    /** quantile_over_time's φ parameter. */
    q: Option[Double] = None,
    /** The unwrap pipeline: parser/key/generated-label (filters unused). */
    unwrap: Option[LogQL.ParsedFilter] = None,
    /** Unwrap CONVERSION function (round 16): `duration_seconds` (Go
      * time.ParseDuration → seconds) or `bytes` (humanized byte sizes)
      * — `| unwrap duration_seconds(gpN)`; None = plain float text.
      */
    conv: Option[String] = None,
    /** Per-kind filter stages from a SQL FILTER clause (round 16) —
      * rendered stage strings (`|= \`err\``, `| env="prod"`) applied
      * between the shared inner query and the unwrap suffix, so
      * `count(*) FILTER (WHERE …)` rides its own wire query. A missing
      * sample for an entry-count kind decodes as 0, exactly the host's
      * filtered count over a group with no matching rows.
      */
    filterStages: Seq[String] = Nil) {

  /** Unwrapped kinds carry float samples; a group×bucket cell with no
    * unwrappable row has NO sample and decodes as SQL NULL (the host's
    * aggregate-over-all-NULLs), so the column is nullable too.
    */
  def isDouble: Boolean = unwrap.isDefined

  /** LogQL grammar: unwrapped range aggregations except sum_over_time
    * group on the range aggregation itself.
    */
  def groupsOnRangeAgg: Boolean = unwrap.isDefined && fn != "sum_over_time"

  /** The unwrap stage chain appended to the inner query (see class doc).
    * `parser == "label"` is the STREAM-LABEL form (round 16):
    * `avg(loki_unwrap(labels['shard']))` needs no extraction stage —
    * just the missing-guard and the unwrap over the label itself.
    */
  def stageSuffix: String = unwrap.fold("") { pf =>
    val target = conv.fold(pf.label)(c => s"$c(${pf.label})")
    val tail = s" | unwrap $target | __error__=\"\""
    if (pf.parser == "label") s""" | ${pf.label}!=""""" + tail
    else " " + pf.copy(filters = Seq(("!=", ""))).render + tail
  }

  def render(inner: String, rangeS: Long, groupLabels: Seq[String]): String = {
    val fs = filterStages.map(" " + _).mkString
    val range = s"$inner$fs$stageSuffix [${rangeS}s]"
    if (groupsOnRangeAgg) {
      val call = q match {
        case Some(phi) => s"$fn($phi, $range)"
        case None => s"$fn($range)"
      }
      // `by ()` (empty grouping) collapses all series into one — the
      // global-aggregate form; without a grouping clause LogQL keeps
      // per-series results, which is never what the SQL shape means
      s"$call by (${groupLabels.mkString(",")})"
    } else {
      if (groupLabels.isEmpty) s"sum($fn($range))"
      else s"sum by (${groupLabels.mkString(",")}) ($fn($range))"
    }
  }
}

/** The relation behind LogQL METRIC-query pushdown
  * ([[graft.plans.LokiMetricAggRule]]): a time-bucketed grouped count —
  * `GROUP BY date_trunc(timestamp) [, labels['k']…]` + `COUNT(*)` over
  * the log table — answered server-side by ONE query_range METRIC query
  *
  *   `sum by (k…) (count_over_time({selector} |= … [<step>s]))`
  *
  * instead of streaming every log row. The reference pushes only log
  * selectors + line filters (`src/expr.rs`), but real Loki's dominant
  * read path at scale is exactly this shape — the server evaluates the
  * range aggregation next to its chunks and ships back
  * #series × #buckets samples, not rows.
  *
  * Round 15 widened the shape to one wire query PER KIND (`aggs`) over
  * the identical inner query — `AVG(octet_length(line))` is the
  * bytes/count pair divided host-side — joined on (series, sample) by
  * the reader. Round 16 adds UNWRAPPED kinds (see [[MetricAgg]]):
  * `avg/min/max/sum/quantile_over_time` over a parser-extracted numeric
  * field, the `avg_over_time({sel} | logfmt | unwrap duration [5m])`
  * latency workload. `topk` wraps the single-kind UNBUCKETED plain form
  * as `topk(k, sum by (…) (…))`, shipping ≤k series instead of all of
  * them for the `ORDER BY cnt DESC LIMIT k` dashboards.
  *
  * When EVERY kind is unwrapped, [[enumerate]] adds one bare
  * `count_over_time` wire query used ONLY for group enumeration: the
  * unwrap pipeline drops rows before grouping, so a group whose rows
  * all fail extraction would otherwise vanish from the result where SQL
  * keeps it with a NULL aggregate. Its samples never surface as a
  * column.
  *
  * BUCKET SEMANTICS — the one subtlety. SQL's `date_trunc` buckets are
  * floor-based half-open windows `[b, b+step)`; a LogQL range vector at
  * evaluation time t covers `(t−step, t]` (left-open, right-closed —
  * Prometheus semantics). The two reconcile exactly on the integer-ns
  * grid by placing every evaluation point one nanosecond BEFORE the next
  * bucket boundary: with `start = b₀ + step − 1ns`, the k-th evaluation
  * point tₖ = bₖ + step − 1ns covers (bₖ − 1ns, bₖ₊₁ − 1ns] =
  * [bₖ, bₖ₊₁) — the SQL bucket, verbatim. The wire sample timestamp
  * (second precision, floored by the decoder) is therefore
  * bₖ_s + step_s − 1, and the reader recovers bₖ = sample_s + 1 − step_s
  * deterministically because the rule only fires when the window and
  * step are whole-second epoch-aligned.
  *
  * Absent labels: Loki's data model cannot represent an empty-valued
  * label (Prometheus semantics: empty ≡ absent, and the metric object
  * omits it), so a grouped label missing from a series decodes as SQL
  * NULL — matching `element_at(labels, 'k')` on a row without the label.
  *
  * Partitioning: bucket ranges are disjoint by construction, so
  * `partitions=N` slices the window into N whole-bucket runs, each an
  * independent metric query — same disjoint-range composability argument
  * as the log scan's time slicing, for month-scale windows whose
  * response matrices are themselves large. The unbucketed `topk` form
  * has one bucket and therefore one slice (global top-k is not
  * window-decomposable); the BUCKETED topk form (round 16 window-rank
  * rule) slices like any bucketed relation — per-point selection is
  * complete within each whole-bucket run.
  */
case class LokiMetricTable(
    options: LokiOptions,
    /** The inner log query — selector + line-filter/parser stages. */
    inner: String,
    /** Grouped label names, in output order (`sum by` key). */
    groupLabels: Seq[String],
    stepNs: Long,
    startNs: Long,
    endNs: Long,
    /** false = the UNBUCKETED grouped count (`GROUP BY labels['k']` with
      * no date_trunc): one evaluation covering the whole window
      * (step = width), so the window need only be whole-SECOND aligned,
      * not width-aligned — the bucket column decodes to the window start
      * and the rewrite's Project simply never references it.
      */
    bucketed: Boolean = true,
    /** Range aggregations this relation answers, one wire query each,
      * value columns in this order.
      */
    aggs: Seq[MetricAgg] = Seq(MetricAgg("count_over_time")),
    /** Server-side top-k series selection (unbucketed, single-kind). */
    topk: Option[Int] = None,
    /** Render [[topk]] as `bottomk` — the ascending form (round 16):
      * `ORDER BY cnt ASC LIMIT k` = the k SMALLEST series, which
      * coincides with Prometheus bottomk at the single evaluation
      * point exactly like the descending/topk case.
      */
    bottom: Boolean = false,
    /** Extra bare count_over_time query for group enumeration (see
      * class doc) — set when every kind is unwrapped.
      */
    enumerate: Boolean = false)
  extends Table with SupportsRead {

  require(stepNs > 0 && stepNs % 1000000000L == 0,
    s"metric step must be a positive whole-second multiple of ns: $stepNs")
  require(endNs > startNs, s"metric window [$startNs, $endNs) is empty")
  require(aggs.nonEmpty && aggs.distinct == aggs,
    s"aggs must be non-empty and distinct: $aggs")
  // topk/bottomk select per EVALUATION POINT (Prometheus), so the
  // bucketed form is valid exactly when SQL ranks per bucket (the
  // window-rank rule); the unbucketed form coincides with the SQL
  // global extreme-k (the ORDER BY … LIMIT rule)
  require(topk.forall(k => k > 0 && aggs.size == 1 &&
      aggs.head.unwrap.isEmpty && aggs.head.filterStages.isEmpty &&
      !enumerate),
    "topk applies only to the single-plain-aggregation form")
  require(!bottom || topk.isDefined, "bottom is a rendering of topk")
  require(!enumerate ||
    aggs.forall(a => a.unwrap.isDefined || a.filterStages.nonEmpty),
    "enumerate exists only when no kind sees the unfiltered row set")
  if (bucketed)
    require(startNs % stepNs == 0 && endNs % stepNs == 0,
      s"metric window [$startNs, $endNs) must be step-aligned")
  else
    require(stepNs == endNs - startNs && startNs % 1000000000L == 0,
      s"unbucketed metric window [$startNs, $endNs) must be whole-second " +
        "aligned with step = width")

  /** The wire LogQL for one range aggregation (EXPLAIN discloses all). */
  def metricQueryFor(ma: MetricAgg): String = {
    val rendered = ma.render(inner, stepNs / 1000000000L, groupLabels)
    val fn = if (bottom) "bottomk" else "topk"
    topk.fold(rendered)(k => s"$fn($k, $rendered)")
  }

  /** Value-kind queries first, then the enumeration query (if any). */
  def metricQueries: Seq[String] =
    aggs.map(metricQueryFor) ++
      (if (enumerate) Seq(metricQueryFor(MetricAgg("count_over_time"))) else Nil)

  override def name(): String = s"loki.metric(${options.endpoint})"

  override def schema(): StructType =
    LokiMetricTable.schemaFor(groupLabels, aggs.map(_.isDouble))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => LokiMetricScan(this)
}

object LokiMetricTable {
  /** Positional internal column names — the rewrite's Project maps them
    * back to the original aggregate output attributes, so a grouped
    * label literally named "bucket" or "v0" can never collide. Plain
    * kinds are non-null longs (missing sample ≡ 0 entries); unwrapped
    * kinds are nullable doubles (missing sample ≡ no unwrappable row ≡
    * the host's NULL aggregate).
    */
  def schemaFor(groupLabels: Seq[String], valIsDouble: Seq[Boolean]): StructType =
    StructType(
      StructField("bucket", TimestampType, nullable = false) +:
        (groupLabels.indices.map(i =>
          StructField(s"l$i", StringType, nullable = true)) ++
          valIsDouble.zipWithIndex.map { case (dbl, i) =>
            if (dbl) StructField(s"v$i", DoubleType, nullable = true)
            else StructField(s"v$i", LongType, nullable = false)
          }))
}

case class LokiMetricScan(table: LokiMetricTable) extends Scan with Batch {

  override def readSchema(): StructType = table.schema()

  override def toBatch: Batch = this

  // EXPLAIN surface: the pushed metric queries ARE the plan — a reader
  // of the EXPLAIN must see that no log rows cross the wire
  override def description(): String =
    s"LokiMetricScan: endpoint=${table.options.endpoint}, " +
      s"metric_query=${table.metricQueries.mkString(" ; ")}, " +
      s"start=${table.startNs}, end=${table.endNs}, step_ns=${table.stepNs}" +
      (if (table.groupLabels.nonEmpty)
        s", group_labels=[${table.groupLabels.mkString(",")}]"
      else "") +
      table.topk.map(k =>
        s", ${if (table.bottom) "bottomk" else "topk"}=$k").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    val buckets = (table.endNs - table.startNs) / table.stepNs
    val n = math.max(1L, math.min(
      table.options.numPartitions.toLong, buckets)).toInt
    // whole-bucket runs: slice boundaries land on bucket boundaries, so
    // every evaluation point belongs to exactly one slice
    (0 until n).map { i =>
      val lo = table.startNs + buckets * i / n * table.stepNs
      val hi = table.startNs + buckets * (i + 1) / n * table.stepNs
      LokiMetricPartition(table.options.endpoint, table.metricQueries,
        table.aggs.map(_.isDouble), table.groupLabels, table.stepNs,
        lo, hi): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LokiMetricReaderFactory()
}

case class LokiMetricPartition(
    endpoint: String,
    /** One query per value column, plus (optionally) one trailing
      * group-enumeration query contributing keys but no column.
      */
    metricQueries: Seq[String],
    valIsDouble: Seq[Boolean],
    groupLabels: Seq[String],
    stepNs: Long,
    sliceStartNs: Long,
    sliceEndNs: Long)
  extends InputPartition

case class LokiMetricReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new LokiMetricReader(p.asInstanceOf[LokiMetricPartition])
}

class LokiMetricReader(p: LokiMetricPartition)
  extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[InternalRow] = {
    // evaluation points one ns before each bucket boundary (see
    // LokiMetricTable scaladoc): start at the first bucket's point,
    // end at the last — endNs − 1 is the final bucket's point because
    // the slice bounds are bucket-aligned
    val startT = p.sliceStartNs + p.stepNs - 1
    val endT = p.sliceEndNs - 1
    // one wire query per aggregation kind over the IDENTICAL inner
    // query (plus the group-enumeration query, keys only): plain kinds
    // share row sets by construction (default 0 is belt-and-braces);
    // an unwrapped kind's rows are a SUBSET of the enumeration's — a
    // missing sample is semantically the host's NULL aggregate
    val perFn: Seq[Map[(Seq[String], Long), Double]] = p.metricQueries.map { q =>
      LokiHttp.queryRangeMetric(p.endpoint, q, startT, endT, p.stepNs)
        .iterator.flatMap { case (metric, samples) =>
          val kvs = metric.toMap
          // Prometheus metric objects omit empty-valued labels; an
          // explicitly-empty value (unrepresentable in Loki's model)
          // normalizes to absent the same way — both decode as SQL NULL
          val lv: Seq[String] = p.groupLabels.map(l =>
            kvs.get(l).filter(_.nonEmpty).orNull)
          samples.iterator.map { case (sampleS, v) => ((lv, sampleS), v) }
        }.toMap
    }
    val keys = perFn.flatMap(_.keys).distinct
    val stepS = p.stepNs / 1000000000L
    keys.iterator.map { case key @ (lv, sampleS) =>
      // sample_s = bucket_s + step_s − 1 (floored eval point) →
      // recover the bucket start, in µs (the relation's timestamp unit)
      val bucketUs = (sampleS + 1 - stepS) * 1000000L
      val labelVals: Seq[Any] =
        lv.map(v => if (v == null) null else UTF8String.fromString(v): Any)
      val vals: Seq[Any] = p.valIsDouble.zipWithIndex.map { case (dbl, i) =>
        perFn(i).get(key) match {
          case Some(v) => if (dbl) (v: Any) else (v.toLong: Any)
          case None => if (dbl) (null: Any) else (0L: Any)
        }
      }
      new GenericInternalRow(
        ((bucketUs: Any) +: (labelVals ++ vals)).toArray): InternalRow
    }
  }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { cur = rows.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
