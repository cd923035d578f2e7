package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, ExprId, Expression, Literal,
  NamedExpression, PredicateHelper, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.loki.{LogQL, LokiMetricTable, LokiTable, MetricAgg}

/** LogQL METRIC-query pushdown (see [[graft.sources.loki.LokiMetricTable]]
  * for the wire/bucket semantics): rewrites
  *
  * {{{
  *   SELECT date_trunc('day', timestamp), labels['level'], count(*)
  *   FROM loki
  *   WHERE timestamp >= '…' AND timestamp < '…' [AND label/line filters]
  *   GROUP BY 1, 2
  * }}}
  *
  * into a scan of `sum by (level) (count_over_time({…}[1d]))` — the
  * aggregation answered server-side, #series × #buckets samples on the
  * wire instead of every log row. The reference pushes only selectors and
  * line filters (src/expr.rs); this is the natural completion of its
  * pushdown surface on the aggregate real Loki users run at scale.
  *
  * DSv2's `SupportsPushDownAggregates` cannot carry this shape — Spark's
  * aggregate translation has no V2 form for `date_trunc` grouping or map
  * access — so it rides the same custom-rule channel as
  * [[LokiPushdownRule]]'s label matchers.
  *
  * The rewrite fires ONLY when it is provably exact (the `push_count`
  * guard discipline); anything else falls back to the scan untouched:
  *
  *   - grouping = at most one `date_trunc` on the relation's timestamp
  *     (minute/hour/day, UTC — coarser units aren't fixed-width
  *     epoch-aligned) plus zero or more `labels['k']` accesses or —
  *     round 15 — PARSED-label accessors (`logfmt_get`/`loki_json_get`,
  *     grouped via a generated `gp<N>` extraction stage in the inner
  *     query); with NO date_trunc the whole window is the single bucket
  *     (step = width — "counts per label over the window", the other
  *     query real Loki dashboards live on);
  *   - aggregates = non-distinct, unfiltered `COUNT(*)`/`COUNT(lit)`,
  *     `SUM(octet_length(line))`, `AVG(octet_length(line))` (round 15:
  *     the distinct wire KINDS each ride their own query — see
  *     [[graft.sources.loki.LokiMetricTable.aggs]]), round-16 unwrapped
  *     numeric aggregations `avg/min/max/sum/percentile(loki_unwrap(
  *     <parsed accessor>))` (see [[graft.sources.loki.MetricAgg]]),
  *     and/or
  *     expressions over those and the groupings (`count(*)/86400.0` —
  *     the rate() shape — rides the structural projection mapping);
  *   - every WHERE conjunct still above the relation must translate
  *     through [[LogQL.translate]] (label matcher / line filter /
  *     parser-stage predicate / timestamp bound) — an untranslatable
  *     residual under an Aggregate has nowhere to re-filter (a HAVING
  *     above the Aggregate survives: output ExprIds are preserved through
  *     aliases). What [[LokiPushdownRule]] already captured rides on the
  *     table;
  *   - a start and an end bound — the table's and these conjuncts',
  *     tightest wins — both step-aligned (the bucket-reconstruction
  *     contract);
  *   - no label matcher that also matches ABSENT labels (Loki would
  *     count streams SQL's NULL-map-access semantics must drop, and an
  *     aggregate has no residual to re-filter with).
  *
  * `sum without (…)` has no SQL source shape: SQL grouping is an
  * explicit column list, never "every label except these", so the
  * rewrite always renders the `by` form — `without` is not a gap, it is
  * unreachable from the relational surface.
  *
  * Like any optimizer rule, the rewrite is switched off by naming
  * `graft.plans.LokiMetricAggRule` in `spark.sql.optimizer.excludedRules`;
  * every aggregate then runs over the log scan.
  */
object LokiMetricAggRule extends Rule[LogicalPlan] with PredicateHelper {

  private val NsPerS = 1000000000L

  /** Time zones whose `date_trunc` grid is epoch-aligned for hour/day. */
  private val utcZones = Set("UTC", "GMT", "Z", "Etc/UTC", "Etc/GMT", "+00:00")

  /** Strip Filter/Project down to the Loki relation, collecting filter
    * conjuncts and Project alias bindings (the optimizer's
    * PullOutGroupingExpressions moves complex grouping exprs into a
    * child Project as `_groupingexpression` aliases — the rule must see
    * through them).
    */
  private def walk(p: LogicalPlan): Option[
      (DataSourceV2Relation, LokiTable, Seq[Expression], Map[ExprId, Expression])] =
    p match {
      case Filter(c, ch) => walk(ch).map { case (r, t, conds, al) =>
        (r, t, splitConjunctivePredicates(c) ++ conds, al)
      }
      case Project(list, ch) if list.forall {
          case _: AttributeReference => true
          case _: Alias => true
          case _ => false
        } =>
        walk(ch).map { case (r, t, conds, al) =>
          (r, t, conds, al ++ list.collect { case a: Alias => a.exprId -> a.child })
        }
      case r @ DataSourceV2Relation(t: LokiTable, _, _, _, _, _) =>
        Some((r, t, Nil, Map.empty))
      case _ => None
    }

  /** Substitute alias-bound attributes until fixpoint (bounded — alias
    * chains are as deep as the Project stack).
    */
  private def resolve(e: Expression, al: Map[ExprId, Expression]): Expression = {
    var cur = e
    var fuel = 20
    var changed = true
    while (changed && fuel > 0) {
      changed = false
      fuel -= 1
      cur = cur.transformUp {
        case a: AttributeReference if al.contains(a.exprId) =>
          changed = true; al(a.exprId)
      }
    }
    cur
  }

  private def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case other => other
  }

  /** `date_trunc(unit, timestamp-of-rel)` → bucket width ns. Only units
    * that are fixed-width AND epoch-aligned under the expression's time
    * zone qualify — week anchors on Monday (epoch is a Thursday), month
    * varies, and a non-UTC zone shifts the hour/day grid off epoch.
    */
  private def truncStep(
      e: Expression, rel: DataSourceV2Relation): Option[Long] = e match {
    case TruncTimestamp(Literal(fmt: UTF8String, StringType), ts: Attribute, tz)
        if ts.name == "timestamp" && rel.output.exists(_.exprId == ts.exprId) &&
          tz.exists(utcZones.contains) =>
      fmt.toString.toLowerCase match {
        case "minute" => Some(60L * NsPerS)
        case "hour" => Some(3600L * NsPerS)
        case "day" | "dd" => Some(86400L * NsPerS)
        case _ => None
      }
    case _ => None
  }

  /** One required wire kind, pre-label-assignment: fn + quantile param
    * + (for unwrapped kinds) the parsed accessor (parser, key) the
    * `| unwrap` pipeline extracts. The rule assigns the generated
    * `gp<N>` label once the distinct accessor set is known.
    */
  private case class Spec(
      fn: String, q: Option[Double] = None,
      acc: Option[(String, String)] = None,
      conv: Option[String] = None,
      /** Rendered per-kind filter stages from a SQL FILTER clause —
        * `count(*) FILTER (WHERE …)`, the error-ratio idiom (round 16).
        */
      fstages: Seq[String] = Nil)

  /** The range aggregations the rewrite speaks, as the wire KINDS each
    * SQL aggregate needs (round 15 widened this from one-kind-per-query
    * to a per-aggregate requirement list — the relation issues one wire
    * query per kind over the identical inner query and the reader joins
    * the samples):
    *
    *   - `count(*)` / `count(lit)` → `count_over_time` (entries);
    *   - `sum(octet_length(line))` → `bytes_over_time` — the
    *     ingest-capacity query ("bytes per app per day"); Loki counts an
    *     entry's line size in UTF-8 BYTES, which is exactly what
    *     `octet_length` measures (a `length(line)` in CHARACTERS does
    *     NOT translate and keeps the host aggregation);
    *   - `avg(octet_length(line))` → BOTH — bytes/count divided in the
    *     rewrite's projection (exact: integer wire sums, one double
    *     division — the same arithmetic the host/oracle avg performs);
    *   - round 16, the UNWRAPPED kinds — `avg/min/max/sum(loki_unwrap(
    *     <parsed accessor>))` and `percentile(loki_unwrap(…), φ)` →
    *     `avg/min/max/sum/quantile_over_time` over a `| unwrap gpN`
    *     pipeline (see [[graft.sources.loki.MetricAgg]]): the
    *     latency-percentile workload, numeric aggregation over a field
    *     extracted from the line. `loki_unwrap` is load-bearing — its
    *     Go-ParseFloat model is the shared [[graft.sources.loki
    *     .LokiParsers.unwrapValue]] semantics, so host NULL ≡ wire
    *     guard/error-filtered row exactly; a plain CAST does not
    *     translate. Exact percentile only (Spark's `percentile` and
    *     Prometheus' quantile interpolate identically: rank = φ(n−1),
    *     lower + (upper−lower)·frac); `approx_percentile` does not
    *     translate.
    *
    * All must be non-distinct; the only admitted FILTER clauses are the
    * per-kind stage translation and first/last's required NOT-NULL form
    * (both round 16).
    */
  private def aggSpecs(
      e: Expression, rel: DataSourceV2Relation): Option[Seq[Spec]] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Average, Max, Min, Percentile, Sum}
    def isRelTimestamp(c: Expression, r: DataSourceV2Relation): Boolean =
      c match {
        case t: Attribute =>
          t.name == "timestamp" && r.output.exists(_.exprId == t.exprId)
        case _ => false
      }
    def isLineOctet(c: Expression): Boolean = c match {
      case org.apache.spark.sql.catalyst.expressions.OctetLength(l: Attribute) =>
        l.name == "line" && rel.output.exists(_.exprId == l.exprId)
      case _ => false
    }
    // the three unwrap-conversion expressions over a parsed accessor
    // whose line is THIS relation's: plain float text (loki_unwrap), Go
    // durations → seconds (loki_duration_seconds), humanized byte sizes
    // (loki_bytes) — each conversion shares its implementation with the
    // wire surface (LokiParsers), so host NULL ≡ dropped wire row holds
    // for all three
    object Unwrapped {
      private def acc(u: Expression): Option[(String, String)] =
        (LogQL.parsedGroupKey(u)
          // STREAM-LABEL unwrap: `labels['shard']` numeric aggregation —
          // no extraction stage, the guard + unwrap apply to the label
          // itself ("label" is not a parser name, it marks the form)
          .orElse(LogQL.labelKey(u).map(k => ("label", k))))
          .filter(_ =>
            u.references.forall(a => rel.output.exists(_.exprId == a.exprId)))
      def unapply(c: Expression): Option[((String, String), Option[String])] =
        c match {
          case graft.functions.LokiUnwrap(u) => acc(u).map((_, None))
          case graft.functions.LokiDurationSeconds(u) =>
            acc(u).map((_, Some("duration_seconds")))
          case graft.functions.LokiBytes(u) => acc(u).map((_, Some("bytes")))
          case _ => None
        }
    }
    e match {
      // first/last_over_time (round 16, third tranche): the value at
      // the earliest/latest timestamp in the bucket — `min_by/max_by(
      // loki_unwrap(…), timestamp) FILTER (WHERE loki_unwrap(…) IS NOT
      // NULL)`. The NOT-NULL filter is REQUIRED for exactness: the wire
      // pipeline drops unparseable rows before sample selection, while
      // an unfiltered min_by would return the (NULL) value sitting at
      // the earliest timestamp. Ordering must be the relation's raw
      // timestamp column (any transform of it breaks the sample-order
      // equivalence). Listed before the generic FILTER branch, which
      // only speaks line/label-stage conditions.
      case AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .MinBy(v @ Unwrapped(a, cv), ts), _, false, Some(
          org.apache.spark.sql.catalyst.expressions.IsNotNull(nv)), _)
          if nv.semanticEquals(v) && isRelTimestamp(ts, rel) =>
        Some(Seq(Spec("first_over_time", acc = Some(a), conv = cv)))
      case AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .MaxBy(v @ Unwrapped(a, cv), ts), _, false, Some(
          org.apache.spark.sql.catalyst.expressions.IsNotNull(nv)), _)
          if nv.semanticEquals(v) && isRelTimestamp(ts, rel) =>
        Some(Seq(Spec("last_over_time", acc = Some(a), conv = cv)))
      // SQL FILTER clause (round 16): `count(*) FILTER (WHERE …)` — the
      // error-ratio idiom (`errors / total` in ONE SELECT) — translates
      // the condition's conjuncts into PER-KIND pipeline stages (line
      // filters and guarded stream-label filter stages; stage-form label
      // filters compose per kind where selector matchers bind the whole
      // query) and applies them to whatever the base aggregate needs.
      // Conjuncts outside that surface — parsed predicates (their gp<N>
      // labels can't be assigned stably from here), timestamp bounds —
      // keep the host fallback.
      case ae @ AggregateExpression(_, _, false, Some(cond), _) =>
        def stagesOf(c: Expression): Option[Seq[String]] = {
          val conjuncts = splitConjunctivePredicates(c)
          val rendered = conjuncts.map { cj =>
            LogQL.lineFilter(cj).map(lf => Seq(lf.render))
              .orElse(LogQL.labelFilterStages(cj).map(_.map(_.render)))
          }
          if (rendered.forall(_.isDefined)) Some(rendered.flatMap(_.get))
          else None
        }
        for {
          base <- aggSpecs(ae.copy(filter = None), rel)
          st <- stagesOf(cond)
        } yield base.map(s => s.copy(fstages = s.fstages ++ st))
      case AggregateExpression(Count(children), _, false, None, _)
          if children.forall {
            case Literal(v, _) => v != null
            case _ => false
          } => Some(Seq(Spec("count_over_time")))
      case AggregateExpression(Sum(c, _), _, false, None, _) if isLineOctet(c) =>
        Some(Seq(Spec("bytes_over_time")))
      case AggregateExpression(Average(c, _), _, false, None, _) if isLineOctet(c) =>
        Some(Seq(Spec("bytes_over_time"), Spec("count_over_time")))
      case AggregateExpression(Average(Unwrapped(a, cv), _), _, false, None, _) =>
        Some(Seq(Spec("avg_over_time", acc = Some(a), conv = cv)))
      case AggregateExpression(Min(Unwrapped(a, cv)), _, false, None, _) =>
        Some(Seq(Spec("min_over_time", acc = Some(a), conv = cv)))
      case AggregateExpression(Max(Unwrapped(a, cv)), _, false, None, _) =>
        Some(Seq(Spec("max_over_time", acc = Some(a), conv = cv)))
      case AggregateExpression(Sum(Unwrapped(a, cv), _), _, false, None, _) =>
        Some(Seq(Spec("sum_over_time", acc = Some(a), conv = cv)))
      // population variance/stddev over the unwrapped samples —
      // stdvar/stddev_over_time are population-semantics in LogQL, so
      // only the _pop SQL aggregates translate (sample variants don't)
      case AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .VariancePop(Unwrapped(a, cv), _), _, false, None, _) =>
        Some(Seq(Spec("stdvar_over_time", acc = Some(a), conv = cv)))
      case AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .StddevPop(Unwrapped(a, cv), _), _, false, None, _) =>
        Some(Seq(Spec("stddev_over_time", acc = Some(a), conv = cv)))
      case AggregateExpression(
          pc @ Percentile(Unwrapped(a, cv), pct, Literal(1L, _), _, _, false),
          _, false, None, _) =>
        val phi = pct match {
          case Literal(d: Double, org.apache.spark.sql.types.DoubleType) => Some(d)
          case Literal(d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
          case _ => None
        }
        phi.filter(d => d >= 0.0 && d <= 1.0 && pc.dataType ==
            org.apache.spark.sql.types.DoubleType)
          .map(d => Seq(Spec("quantile_over_time", q = Some(d),
            acc = Some(a), conv = cv)))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate if agg.groupingExpressions.nonEmpty =>
      rewrite(agg).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (rel, table, conds0, aliases) = walk(agg.child) match {
      case Some(x) => x
      case None => return None
    }
    // ---- grouping: at most one date_trunc + any number of label
    // accesses. No date_trunc at all is the UNBUCKETED form — "counts
    // per label over the window" — answered by one evaluation with
    // step = window width. ----
    val groups = agg.groupingExpressions
      .map(g => resolve(stripAlias(g), aliases))
    val truncs = groups.flatMap(g => truncStep(g, rel).map(g -> _))
    if (truncs.size > 1) return None
    val truncExpr: Option[Expression] = truncs.headOption.map(_._1)
    // each non-bucket group is a stream label (`labels['k']`) or — round
    // 15 — a PARSED label (`logfmt_get(line,'k')` / `loki_json_get`),
    // which groups on a generated gp<N> extraction label carried by a
    // parser stage in the inner query (`sum by (gp0) (count_over_time(
    // {…} | logfmt gp0="k" [step]))`). Generated numbering starts after
    // the filter-pushed stages already on the table.
    var gpNext = table.pushedParsedFilters.size
    val parsedStages = List.newBuilder[LogQL.ParsedFilter]
    val labelGroups = groups
      .filterNot(g => truncExpr.exists(g.semanticEquals)).map { g =>
        if (!g.references.forall(a => rel.output.exists(_.exprId == a.exprId)))
          return None
        LogQL.labelKey(g) match {
          case Some(k) => (g, k)
          case None => LogQL.parsedGroupKey(g) match {
            case Some((parser, key)) if table.options.pushParsers =>
              val lbl = s"gp$gpNext"
              gpNext += 1
              parsedStages += LogQL.ParsedFilter(parser, key, lbl, Nil)
              (g, lbl)
            case _ => return None
          }
        }
      }
    if (labelGroups.map(_._2).distinct.size != labelGroups.size) return None
    // a STREAM label named like a generated extraction label would
    // collide in the `sum by` clause — outside the reserved-namespace
    // contract, bail to the scan
    if (labelGroups.exists { case (g, k) =>
        LogQL.labelKey(g).isDefined && k.matches("gp\\d+") }) return None

    // ---- aggregate kinds: every aggregate function in the output list
    // must resolve to wire range aggregations; the distinct kinds each
    // ride their own wire query over the identical inner query ----
    val kinds = scala.collection.mutable.LinkedHashSet.empty[Spec]
    var badAgg = false
    agg.aggregateExpressions.foreach { ne =>
      resolve(stripAlias(ne), aliases).foreach {
        case ae: AggregateExpression =>
          aggSpecs(ae, rel) match {
            case Some(ks) => kinds ++= ks
            case None => badAgg = true
          }
        case _ =>
      }
    }
    if (badAgg) return None
    // unwrapped kinds ride parser stages — same option gate as the
    // predicate/grouping pushes
    if (kinds.exists(_.acc.isDefined) && !table.options.pushParsers)
      return None

    // ---- filters: every conjunct must translate; the window is the
    // table's pushed bounds and these conjuncts', tightest wins ----
    var starts = table.pushedStartNs.toList
    var ends = table.pushedEndNs.toList
    var matchers = List.empty[LogQL.LabelMatcher]
    var lines = List.empty[LogQL.LineFilter]
    var parsedFilters = List.empty[LogQL.ParsedFilter]
    conds0.map(c => resolve(c, aliases)).foreach { c =>
      LogQL.translate(c, table.options.pushParsers) match {
        case Some(LogQL.Start(ns)) => starts ::= ns
        case Some(LogQL.End(ns)) => ends ::= ns
        case Some(m: LogQL.LabelMatcher) =>
          if (LogQL.matchesAbsentLabel(m)) return None
          matchers ::= m
        case Some(lf: LogQL.LineFilter) => lines ::= lf
        case Some(p: LogQL.Parsed) =>
          parsedFilters ::= p.labelled(s"gp$gpNext")
          gpNext += 1
        case None => return None
      }
    }
    if (starts.isEmpty || ends.isEmpty) return None
    val (startNs, endNs) = (starts.max, ends.min)
    if (endNs <= startNs) return None
    val stepNs = truncs.headOption match {
      case Some((_, step)) =>
        // bucketed: the window must sit on the bucket grid (the
        // sample→bucket reconstruction contract)
        if (startNs % step != 0 || endNs % step != 0) return None
        step
      case None =>
        // unbucketed: one evaluation over the whole window — the width
        // is the range duration, which speaks whole seconds
        if (startNs % 1000000000L != 0 || endNs % 1000000000L != 0)
          return None
        endNs - startNs
    }
    // conds were collected top-down and prepended; restore plan order
    matchers = matchers.reverse
    lines = lines.reverse
    parsedFilters = parsedFilters.reverse

    // ---- aggregate list: every output must be an expression OVER the
    // grouping exprs and count(*) — not merely one of them verbatim.
    // CollapseProject routinely folds a consumer's projection INTO the
    // aggregate list (`unix_micros(date_trunc(…)) AS bucket_us`), and
    // the first cut of this rule bailed on exactly that shape — the
    // EXPLAIN-pinned gate probe rewrote while the returned (projected)
    // plan silently fell back to the scan (caught by a plan dump).
    // The structural mapping below substitutes the new relation's
    // attributes for each grouping/count subexpression and accepts iff
    // nothing of the old relation remains. The substitution runs after
    // the relation is built, so build it first (see below). ----

    // ---- render the metric LogQL through the scan's assembler: filters
    // already pushed on the table, then this rule's new predicates, then
    // the bare grouping extractions. No matcher and no default: the scan
    // path throws the canonical no-matcher error — don't preempt it ----
    val inner = LogQL.logQuery(table.options,
      table.pushedLabelMatchers ++
        matchers.filterNot(table.pushedLabelMatchers.contains),
      table.pushedLineFilters ++
        lines.filterNot(table.pushedLineFilters.contains),
      table.pushedParsedFilters ++ parsedFilters ++ parsedStages.result()
    ) match {
      case Some(q) => q.query
      case None => return None
    }
    val groupLabels = labelGroups.map(_._2)

    // ---- materialize the wire kinds: assign one generated label per
    // DISTINCT unwrap accessor (numbering continues past the grouping/
    // predicate stages), and when EVERY kind is unwrapped add the
    // group-enumeration count query (the unwrap pipeline drops rows
    // before grouping; a group whose rows all fail extraction must
    // still surface with NULL aggregates, as SQL keeps it) ----
    val accLabel = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
    kinds.toSeq.flatMap(_.acc).distinct.foreach {
      case a @ ("label", k) =>
        // stream-label unwrap: the wire label IS the stream label. Bail
        // when it collides with the reserved gp namespace (the
        // documented reservation) or with a GROUP label — `| unwrap k`
        // REMOVES k from the series, so `… by (k)` would lose its key.
        if (k.matches("gp\\d+") || labelGroups.exists(_._2 == k)) return None
        accLabel(a) = k
      case a =>
        accLabel(a) = s"gp$gpNext"; gpNext += 1
    }
    def toAgg(spec: Spec): MetricAgg = MetricAgg(spec.fn, spec.q,
      spec.acc.map { case (p, k) => LogQL.ParsedFilter(p, k, accLabel((p, k)), Nil) },
      conv = spec.conv, filterStages = spec.fstages)
    // no aggregate at all (pure DISTINCT over groupings): any kind's
    // nonzero samples enumerate exactly the non-empty groups
    val aggs =
      if (kinds.isEmpty) Seq(MetricAgg("count_over_time"))
      else kinds.toSeq.map(toAgg)
    // SQL grouping is over ALL rows — a group whose every row is
    // dropped by a kind's unwrap pipeline or FILTER stages must still
    // surface, so when no kind sees the unfiltered row set, one bare
    // count query enumerates the groups
    val enumerate = kinds.nonEmpty &&
      kinds.forall(k => k.acc.isDefined || k.fstages.nonEmpty)

    // ---- swap in the metric relation, preserving output attributes ----
    val metricTable = LokiMetricTable(
      table.options, inner, groupLabels, stepNs, startNs, endNs,
      bucketed = truncExpr.isDefined, aggs = aggs, enumerate = enumerate)
    val newRel = DataSourceV2Relation.create(metricTable, None, None)
    val bucketAttr = newRel.output.head
    val labelAttrs = newRel.output.slice(1, 1 + groupLabels.size)
    val fnAttr = kinds.toSeq.zip(newRel.output.takeRight(aggs.size)).toMap
    def labelIdx(e: Expression): Int =
      labelGroups.indexWhere(_._1.semanticEquals(e))
    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide}
    import org.apache.spark.sql.types.DoubleType
    val projections = agg.aggregateExpressions.map { ne =>
      val e = resolve(stripAlias(ne), aliases)
      var ok = true
      val rewritten = e.transformDown {
        case ae: AggregateExpression =>
          // kinds pre-validated above: every aggregate resolves to wire
          // columns. AVG(octet) is bytes/count — integer wire sums, one
          // double division, the same arithmetic the host/oracle avg
          // performs; unwrapped kinds substitute their (double) column.
          aggSpecs(ae, rel) match {
            case Some(Seq(one)) => fnAttr(one)
            case Some(Seq(bytes, cnt)) =>
              Divide(
                Cast(fnAttr(bytes), DoubleType), Cast(fnAttr(cnt), DoubleType))
            case _ => ok = false; ae
          }
        case sub if truncExpr.exists(sub.semanticEquals) => bucketAttr
        case sub if labelIdx(sub) >= 0 => labelAttrs(labelIdx(sub))
      }
      // anything still referencing the log relation (another column, a
      // different aggregate) is outside the pushable shape
      if (!ok || rewritten.references
          .exists(a => rel.output.exists(_.exprId == a.exprId))) return None
      Alias(rewritten, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
    }
    Some(Project(projections, newRel))
  }
}

/** `ORDER BY cnt DESC LIMIT k` over an UNBUCKETED metric relation →
  * server-side `topk(k, sum by (…) (…))` (round 15): the wire ships ≤k
  * series instead of all of them — the "top 5 noisiest apps last month"
  * dashboard. The host Sort + Limit stay in the plan (they now order at
  * most k rows), so output order remains the host's.
  *
  * Fires only when:
  *   - the relation is unbucketed (one evaluation point — Prometheus
  *     topk selects per point, which coincides with the SQL global
  *     top-k only there) and single-kind, with no topk already applied;
  *   - the sort is a SINGLE key resolving to the relation's value
  *     column — descending pushes `topk`, ascending `bottomk` (round
  *     16). A secondary tie-break key would make the SQL answer
  *     deterministic while the server's choice among ties is
  *     arbitrary — not pushable. Without one, SQL's own LIMIT-after-ties
  *     is implementation-defined, and the server's extreme-k is one of
  *     the valid answers (ties at the boundary may differ from the
  *     host's pick — the standard topk contract).
  */
object LokiMetricTopKRule extends Rule[LogicalPlan] with PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{
    AttributeReference, Descending, IntegerLiteral, SortOrder}
  import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Sort}

  private def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case other => other
  }

  /** The sort key must resolve (through the Project) to the relation's
    * single value column.
    */
  private def sortsOnValue(
      order: SortOrder, proj: Project,
      rel: DataSourceV2Relation): Boolean = order.child match {
    case a: AttributeReference =>
      val resolved = proj.projectList
        .find(_.exprId == a.exprId).map(stripAlias).getOrElse(a)
      resolved match {
        case v: AttributeReference => v.exprId == rel.output.last.exprId
        case _ => false
      }
    case _ => false
  }

  /** Whether the relation's shape admits a topk/bottomk wrapper at all
    * (single plain kind, nothing already applied).
    */
  private def topkable(mt: LokiMetricTable): Boolean =
    mt.topk.isEmpty && mt.aggs.size == 1 &&
      mt.aggs.head.unwrap.isEmpty && mt.aggs.head.filterStages.isEmpty &&
      !mt.enumerate

  /** Resolve an expression through the Project to a relation attribute
    * (Alias-stripped); None when it is anything else.
    */
  private def resolveAttr(
      e: Expression, proj: Project): Option[AttributeReference] = e match {
    case a: AttributeReference =>
      proj.projectList.find(_.exprId == a.exprId).map(stripAlias)
        .getOrElse(a) match {
        case v: AttributeReference => Some(v)
        case _ => None
      }
    case _ => None
  }

  /** The rank-bound conjunct over `rn`: `rn <= k` / `rn < k` /
    * `rn = 1`, either operand order. Returns k.
    */
  private def rankBound(
      c: Expression,
      rn: org.apache.spark.sql.catalyst.expressions.Attribute): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{
      EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    def isRn(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == rn.exprId
      case _ => false
    }
    c match {
      case LessThanOrEqual(e, IntegerLiteral(k)) if isRn(e) => Some(k)
      case LessThan(e, IntegerLiteral(k)) if isRn(e) => Some(k - 1)
      case GreaterThanOrEqual(IntegerLiteral(k), e) if isRn(e) => Some(k)
      case GreaterThan(IntegerLiteral(k), e) if isRn(e) => Some(k - 1)
      case EqualTo(e, IntegerLiteral(1)) if isRn(e) => Some(1)
      case EqualTo(IntegerLiteral(1), e) if isRn(e) => Some(1)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // descending → topk, ascending → bottomk (round 16): both are
    // single-evaluation-point selections, so the SQL global extreme-k
    // coincides with the Prometheus per-point one under the identical
    // unbucketed/single-kind/no-tiebreak guards
    case gl @ GlobalLimit(IntegerLiteral(k),
        ll @ LocalLimit(_,
        srt @ Sort(Seq(order), true,
        p @ Project(_,
        r @ DataSourceV2Relation(mt: LokiMetricTable, _, _, _, _, _)), _)))
        if k > 0 && !mt.bucketed && topkable(mt) && sortsOnValue(order, p, r) =>
      gl.copy(child = ll.copy(child = srt.copy(child =
        p.copy(child = r.copy(table = mt.copy(topk = Some(k),
          bottom = order.direction != Descending))))))

    // PER-BUCKET top-k (round 16): `row_number() OVER (PARTITION BY
    // bucket ORDER BY cnt DESC) <= k` over the BUCKETED relation — the
    // "top k apps per hour" dashboard. Prometheus topk selects per
    // evaluation point, which IS the per-bucket SQL selection when the
    // window partitions on EXACTLY the bucket column and orders on the
    // single value column with no tie-break key. The host Window +
    // Filter stay in the plan (now ranking ≤k series per bucket): a
    // row's row_number depends only on rows ranked above it, so the
    // surviving rows' ranks are unchanged by the wire pruning. Ties at
    // the boundary follow the standard topk contract (the server's
    // pick is one of SQL's own valid nondeterministic answers —
    // row_number over a tie has no deterministic SQL answer either).
    case f @ Filter(cond,
        w @ org.apache.spark.sql.catalyst.plans.logical.Window(
          Seq(we @ Alias(
            org.apache.spark.sql.catalyst.expressions.WindowExpression(
              _: org.apache.spark.sql.catalyst.expressions.RowNumber, _), _)),
          Seq(part), Seq(order),
          p @ Project(_,
          r @ DataSourceV2Relation(mt: LokiMetricTable, _, _, _, _, _)), _))
        if mt.bucketed && topkable(mt) &&
          resolveAttr(part, p).exists(_.exprId == r.output.head.exprId) &&
          resolveAttr(order.child, p)
            .exists(_.exprId == r.output.last.exprId) => {
      val rn = we.toAttribute
      val ks = splitConjunctivePredicates(cond).flatMap(c => rankBound(c, rn))
      // exactly one rank-bound conjunct; other conjuncts stay host-side
      // (they filter survivors, which pruning does not change)
      if (ks.size != 1 || ks.head <= 0) f
      else f.copy(child = w.copy(child = p.copy(child =
        r.copy(table = mt.copy(topk = Some(ks.head),
          bottom = order.direction != Descending)))))
    }
  }
}
