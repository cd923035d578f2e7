package graft.sources.loki

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Loki METADATA relations, exposed by [[LokiCatalog]] under the `meta`
  * namespace — beyond-parity (the reference surfaces only the log table;
  * its Loki nevertheless serves these endpoints):
  *
  *   - `loki.meta.labels`        → `GET /loki/api/v1/labels`
  *     one column `label`: the distinct label NAMES in the window
  *   - `loki.meta.label_values`  → `GET /loki/api/v1/label/<l>/values`
  *     columns `(label, value)`: the label→value census
  *   - `loki.meta.series`        → `GET /loki/api/v1/series`
  *     one column `stream`: each stream's canonical selector (sorted
  *     keys, `{k="v", …}`) — SHOW STREAMS; a configured `selector`
  *     narrows via `match[]`
  *   - `loki.meta.volume`        → `GET /loki/api/v1/index/volume`
  *     columns `(stream, bytes)`: aggregate log volume per series — the
  *     capacity census ("which streams are big?"), answered from the
  *     INDEX server-side, so sizing a month of logs never reads a chunk
  *   - `loki.meta.patterns`      → `GET /loki/api/v1/patterns`
  *     columns `(pattern, ts_s, cnt)`: real Loki's server-side
  *     Drain-style pattern census per `step_ns` bucket (unset → one
  *     bucket over the window) — the pattern store answers without
  *     streaming chunks; selector REQUIRED like the volume family
  *   - `loki.meta.deletes`       → `GET /loki/api/v1/delete`
  *     columns `(request_id, query, start_s, end_s, status)`: the
  *     compactor delete-request audit listing (the read side of
  *     [[graft.plans.LokiDeleteRule]]'s DML path); no window/selector
  *     params — the endpoint lists everything
  *   - `loki.meta.volume_range`  → `GET /loki/api/v1/index/volume_range`
  *     columns `(stream, ts_s, bytes)`: the step-bucketed form (volume
  *     per series per `step_ns` bucket) — the capacity TREND. `ts_s` is
  *     the bucket start in epoch SECONDS: the precision the endpoint's
  *     Prometheus-style response actually carries, so `step_ns` must be
  *     a whole-second multiple (enforced at plan time — a finer step
  *     would alias on the wire, and real Loki takes whole-second steps)
  *
  *   Volume knobs (per-read options): `target_labels` (csv) restricts
  *   the grouping key — `target_labels=app` answers "volume per app";
  *   `aggregate_by` = `series` (default) | `labels` (group by label
  *   NAME); `volume_limit` caps at the top-N series by volume (server
  *   default 100 otherwise — set it explicitly for a full census). Both
  *   volume relations REQUIRE a selector (the endpoint does); the
  *   `default_label` fallback supplies `{l=~".+"}` like the log scan.
  *
  * The SHOW-style discovery every log user runs before writing a
  * selector, and the same index-backed requests `split=stats` leans on —
  * index-only on a real Loki, so a census over a month of logs never
  * touches chunk data. The window is ALWAYS sent explicitly (real Loki's
  * metadata default is the last 6 h — a silently narrowed census
  * otherwise); it defaults to the scan's own now−30d…now contract and is
  * settable per read:
  *
  * {{{
  *   spark.read
  *     .option("start_ns", "...").option("end_ns", "...")
  *     .table("loki.meta.label_values")
  *     .where($"label" === "app")          // pushed: ONE values request
  * }}}
  *
  * `label = 'x'` / `label IN (...)` predicates are pushed Exact into the
  * request set (no /labels round trip, one /values call per named label);
  * a configured `selector` narrows `label_values` to matching streams via
  * the endpoint's `query` param. Cardinality is metadata-scale (label
  * names × values, not rows), so the scan is a single partition by
  * design — even at 100 TB of logs the census is KB-sized.
  */
case class LokiMetaTable(kind: String, options: LokiOptions)
  extends Table with SupportsRead {

  require(LokiMetaTable.names.contains(kind),
    s"unknown loki meta table: $kind")

  override def name(): String = s"loki.meta.$kind(${options.endpoint})"

  override def schema(): StructType = LokiMetaTable.schemaOf(kind)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // volume knobs are META-read options, not LokiOptions fields: they
    // configure one census read, never a log scan, so they ride the
    // per-read map instead of widening the connector's option surface
    val metaKeys = Set("start_ns", "end_ns", "target_labels",
      "aggregate_by", "volume_limit", "step_ns")
    val overrides = o.asScala.toMap.filter { case (k, _) =>
      !k.equalsIgnoreCase("endpoint") && !k.equalsIgnoreCase("path") &&
        !k.equalsIgnoreCase("paths") && !metaKeys(k.toLowerCase)
    }
    val effective =
      if (overrides.isEmpty) options
      else LokiOptions.from(options.toMap ++ overrides)
    new LokiMetaScanBuilder(kind, effective,
      Option(o.get("start_ns")).map(_.toLong),
      Option(o.get("end_ns")).map(_.toLong),
      LokiVolumeKnobs.from(kind, o))
  }
}

object LokiMetaTable {
  val names: Seq[String] = Seq(
    "labels", "label_values", "series", "volume", "volume_range", "patterns",
    "deletes")

  def schemaOf(kind: String): StructType = kind match {
    case "labels" =>
      StructType(Seq(StructField("label", StringType, nullable = false)))
    case "label_values" =>
      StructType(Seq(
        StructField("label", StringType, nullable = false),
        StructField("value", StringType, nullable = false)))
    case "series" =>
      // each stream rendered as its canonical selector — sorted keys,
      // `{k="v", k2="v2"}` — the SHOW STREAMS form a user can paste
      // straight back into a `selector` option or LogQL query
      StructType(Seq(StructField("stream", StringType, nullable = false)))
    case "volume" =>
      StructType(Seq(
        StructField("stream", StringType, nullable = false),
        StructField("bytes", LongType, nullable = false)))
    case "volume_range" =>
      StructType(Seq(
        StructField("stream", StringType, nullable = false),
        StructField("ts_s", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false)))
    case "patterns" =>
      // server-side Drain-style pattern census (`GET /loki/api/v1/
      // patterns`): one row per (detected template, step bucket); `ts_s`
      // is the bucket start in epoch seconds like volume_range. An
      // optional `step_ns` knob buckets the counts; unset → one bucket
      // spanning the window (the plain census)
      StructType(Seq(
        StructField("pattern", StringType, nullable = false),
        StructField("ts_s", LongType, nullable = false),
        StructField("cnt", LongType, nullable = false)))
    case "deletes" =>
      // the compactor delete-request listing (`GET /loki/api/v1/delete`)
      // — the audit view of [[graft.plans.LokiDeleteRule]]'s DML path.
      // No window/selector params: the endpoint lists everything.
      StructType(Seq(
        StructField("request_id", StringType, nullable = false),
        StructField("query", StringType, nullable = false),
        StructField("start_s", LongType, nullable = false),
        StructField("end_s", LongType, nullable = false),
        StructField("status", StringType, nullable = false)))
  }
}

/** Per-read knobs of the volume relations (see [[LokiMetaTable]] scaladoc). */
case class LokiVolumeKnobs(
    targetLabels: Seq[String],
    aggregateBy: Option[String],
    limit: Int,
    stepNs: Option[Long])

object LokiVolumeKnobs {
  /** The not-a-volume-read state, shared by every default argument. */
  val none: LokiVolumeKnobs = LokiVolumeKnobs(Nil, None, 0, None)

  def from(kind: String, o: CaseInsensitiveStringMap): LokiVolumeKnobs = {
    // volume-only knobs: other meta kinds ignore them entirely, so a
    // malformed step_ns/aggregate_by left on a reused reader must not
    // crash a labels/series read that never uses it
    if (kind == "patterns") {
      // patterns shares ONLY the step knob (optional: unset = one bucket
      // over the window); the volume grouping knobs stay inert here
      val step = Option(o.get("step_ns")).map { s =>
        try s.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"step_ns must be an integer nanosecond count, got '$s'")
        }
      }
      step.foreach(s => require(s > 0 && s % 1000000000L == 0,
        s"step_ns must be a positive whole-second multiple, got $s — the " +
          "endpoint's response carries second-precision sample timestamps"))
      return LokiVolumeKnobs(Nil, None, 0, step)
    }
    if (!kind.startsWith("volume")) return none
    val aggBy = Option(o.get("aggregate_by")).filter(_.nonEmpty).map {
      case a @ ("series" | "labels") => a
      case other => throw new IllegalArgumentException(
        s"aggregate_by must be 'series' or 'labels', got '$other'")
    }
    // step is meaningful only for the range form — a malformed step_ns
    // left on a plain volume read must stay inert (the 'knobs are inert
    // where unused' guarantee), not throw a bare NumberFormatException
    val step =
      if (kind != "volume_range") None
      else Option(o.get("step_ns")).map { s =>
        try s.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"step_ns must be an integer nanosecond count, got '$s'")
        }
      }
    if (kind == "volume_range") {
      val s = step.getOrElse(throw new IllegalArgumentException(
        "loki.meta.volume_range requires a step_ns option (the bucket width)"))
      require(s > 0 && s % 1000000000L == 0,
        s"step_ns must be a positive whole-second multiple, got $s — the " +
          "endpoint's response carries second-precision sample timestamps")
    }
    LokiVolumeKnobs(
      targetLabels = Option(o.get("target_labels")).toSeq
        .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty),
      aggregateBy = aggBy,
      limit = Option(o.get("volume_limit")).map(_.toInt).getOrElse(0),
      stepNs = step)
  }
}

class LokiMetaScanBuilder(
    kind: String,
    options: LokiOptions,
    startNs: Option[Long],
    endNs: Option[Long],
    volume: LokiVolumeKnobs = LokiVolumeKnobs.none)
  extends ScanBuilder with SupportsPushDownFilters {

  // `label = 'x'` / `label IN (...)` on label_values → request only those
  // labels' values (Exact: the request set IS the predicate)
  private var labelEq: Option[Seq[String]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (kind != "label_values") return filters
    val (accepted, residual) = filters.partition {
      case sources.EqualTo("label", _: String) => true
      case sources.In("label", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    accepted.foreach {
      case sources.EqualTo("label", v: String) =>
        labelEq = Some(labelEq.getOrElse(Seq(v)).intersect(Seq(v)))
      case sources.In("label", vs) =>
        val set = vs.toSeq.map(_.asInstanceOf[String])
        labelEq = Some(labelEq.fold(set)(_.intersect(set)))
      case _ =>
    }
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // the log scan's plan-time window: stable across the several DSv2
    // scan rebuilds of one query (case-class equality holds),
    // cache-friendly, and never disagreeing with a log scan planned in
    // the same minute
    val (s, e) = LokiScan.plannedWindow(startNs, endNs)
    LokiMetaScan(kind, options, s, e, labelEq, volume)
  }
}

case class LokiMetaScan(
    kind: String,
    options: LokiOptions,
    startNs: Long,
    endNs: Long,
    labelEq: Option[Seq[String]],
    volume: LokiVolumeKnobs = LokiVolumeKnobs.none)
  extends Scan with Batch {

  override def readSchema(): StructType = LokiMetaTable.schemaOf(kind)

  override def toBatch: Batch = this

  override def description(): String = {
    val parts = Seq(s"endpoint=${options.endpoint}", s"kind=$kind",
      s"start=$startNs", s"end=$endNs") ++
      labelEq.map(ls => s"labels=[${ls.mkString(",")}]") ++
      options.selector.map(s => s"selector=$s") ++
      (if (volume.targetLabels.nonEmpty)
        Seq(s"target_labels=[${volume.targetLabels.mkString(",")}]") else Nil) ++
      volume.aggregateBy.map(a => s"aggregate_by=$a") ++
      (if (volume.limit > 0) Seq(s"volume_limit=${volume.limit}") else Nil) ++
      volume.stepNs.map(s => s"step_ns=$s")
    s"LokiMetaScan: ${parts.mkString(", ")}"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // matcher-only render of the selector option (its stages do not
    // apply to metadata endpoints). Real Loki REQUIRES at least one
    // match[] on /series, and a `query` on the volume endpoints (labels
    // and label-values take their selector optionally): those fall back
    // to the default-label matcher through the log scan's assembler,
    // else fail at plan time instead of shipping a request the server
    // must reject
    val needsSel = kind == "series" || kind.startsWith("volume") ||
      kind == "patterns"
    val effSel =
      if (needsSel) Some(LogQL.logQuery(options, Nil, Nil, Nil)
        .getOrElse(throw new IllegalArgumentException(
          s"loki.meta.$kind requires a selector: real Loki rejects the " +
            "request without one — set the `selector` option or " +
            "configure default_label"))
        .selector)
      else options.selector.map(s =>
        LogQL.assemble(LogQL.parseSelector(s)._1, Nil)).filter(_ != "{}")
    Array(LokiMetaPartition(
      options.endpoint, kind, startNs, endNs, labelEq, effSel, volume))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LokiMetaReaderFactory()
}

case class LokiMetaPartition(
    endpoint: String,
    kind: String,
    startNs: Long,
    endNs: Long,
    labelEq: Option[Seq[String]],
    selector: Option[String],
    volume: LokiVolumeKnobs = LokiVolumeKnobs.none)
  extends InputPartition

case class LokiMetaReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new LokiMetaReader(p.asInstanceOf[LokiMetaPartition])
}

class LokiMetaReader(p: LokiMetaPartition)
  extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[InternalRow] = p.kind match {
    case "labels" =>
      LokiHttp.labelNames(p.endpoint, p.startNs, p.endNs).iterator.map(l =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(l))))
    case "label_values" =>
      val labels = p.labelEq.getOrElse(
        LokiHttp.labelNames(p.endpoint, p.startNs, p.endNs))
      labels.iterator.flatMap { l =>
        LokiHttp.labelValues(p.endpoint, l, p.startNs, p.endNs, p.selector)
          .map(v => new GenericInternalRow(Array[Any](
            UTF8String.fromString(l), UTF8String.fromString(v))))
      }
    case "series" =>
      LokiHttp.series(p.endpoint, p.startNs, p.endNs, p.selector)
        .iterator.map { kvs =>
          // the escaping renderer, so the promise holds for ANY label
          // value: the rendered selector re-parses (property-pinned) and
          // real Loki accepts it — raw interpolation broke on values
          // containing a quote/backslash/newline
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(LokiMetaReader.renderMetric(kvs))))
        }
    case "volume" =>
      LokiHttp.indexVolume(p.endpoint, p.selector.get, p.startNs, p.endNs,
        p.volume.targetLabels, p.volume.aggregateBy, p.volume.limit)
        .iterator.map { case (kvs, bytes) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(LokiMetaReader.renderMetric(kvs)), bytes))
        }
    case "volume_range" =>
      LokiHttp.indexVolumeRange(p.endpoint, p.selector.get, p.startNs,
        p.endNs, p.volume.stepNs.get, p.volume.targetLabels,
        p.volume.aggregateBy, p.volume.limit)
        .iterator.flatMap { case (kvs, samples) =>
          val stream = UTF8String.fromString(LokiMetaReader.renderMetric(kvs))
          samples.map { case (tsS, bytes) =>
            new GenericInternalRow(Array[Any](stream, tsS, bytes))
          }
        }
    case "patterns" =>
      LokiHttp.patterns(p.endpoint, p.selector.get, p.startNs, p.endNs,
        p.volume.stepNs)
        .iterator.flatMap { case (pattern, samples) =>
          val pat = UTF8String.fromString(pattern)
          samples.map { case (tsS, cnt) =>
            new GenericInternalRow(Array[Any](pat, tsS, cnt))
          }
        }
    case "deletes" =>
      LokiHttp.deleteRequests(p.endpoint).iterator.map {
        case (id, query, startS, endS, status) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(id), UTF8String.fromString(query),
            startS, endS, UTF8String.fromString(status)))
      }
  }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { cur = rows.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

object LokiMetaReader {
  /** A volume metric rendered as the same canonical selector the series
    * relation emits (sorted keys, escaping renderer) — so a stream a
    * user finds big in `loki.meta.volume` pastes straight back into a
    * `selector` option.
    */
  private[loki] def renderMetric(kvs: Seq[(String, String)]): String =
    LogQL.assemble(
      kvs.sortBy(_._1).map { case (k, v) => LogQL.LabelMatcher(k, "=", v) },
      Nil)
}
