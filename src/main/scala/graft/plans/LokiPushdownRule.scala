package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{And, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.loki.{LogQL, LokiTable}

/** The one place a WHERE conjunct is captured into a log scan
  * (SURVEY.md §4.2).
  *
  * `labels['app'] = 'x'` reaches DSv2 pushdown as
  * `Filter(EqualTo(GetMapValue(labels, "app"), "x"))`; Spark's
  * `DataSourceStrategy.translateFilter` only handles attribute /
  * nested-struct references, so without this rule the predicate would stay
  * as a post-scan filter — and the scan itself would fail for lack of a
  * label matcher (the reference refuses a scan with no matcher unless
  * `default_label` is set, table.rs:116-122).
  *
  * The rule splits the conjunction, runs every conjunct through
  * [[LogQL.translate]] and captures what it accepts — timestamp bounds,
  * label matchers, line filters and parser-stage predicates — into the
  * [[LokiTable]] carried by the relation. Only the rejected conjuncts stay
  * as a residual Filter — the `Exact` pushdown contract of
  * table.rs:140-156 (captured filters are never re-evaluated by Spark;
  * Loki is trusted to enforce them). The scan builder takes no DSv2
  * filters, so Spark still pushes a LIMIT or a COUNT into the scan
  * exactly when no residual is left above it.
  */
object LokiPushdownRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, r @ DataSourceV2Relation(t: LokiTable, _, _, _, _, _)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val pushed = conjuncts.flatMap(c =>
        LogQL.translate(c, t.options.pushParsers).map(c -> _))
      val bounds = pushed.collect { case (_, b: LogQL.TsBound) => b }
      val labels = pushed.collect { case (c, m: LogQL.LabelMatcher) => c -> m }
      val lines = pushed.collect { case (_, l: LogQL.LineFilter) => l }
      // parser-stage predicates (round 15): logfmt_get/loki_json_get/
      // get_json_object predicates → | json / | logfmt stages + label
      // filters over generated gp<N> extraction labels. Exact (fully
      // removed from the residual): see LogQL.parsedPredicate.
      val parsed = pushed
        .collect { case (_, p: LogQL.Parsed) => p }
        .filterNot(p => t.pushedParsedFilters.exists(_.pred == p))
        .zipWithIndex.map { case (p, i) =>
          p.labelled(s"gp${t.pushedParsedFilters.size + i}")
        }
      // idempotence: the rule re-fires on its own residual output until the
      // optimizer's fixpoint, so never re-append matchers already pushed
      val newLabels = labels.map(_._2).filterNot(t.pushedLabelMatchers.contains)
      val newLines = lines.filterNot(t.pushedLineFilters.contains)
      if (newLabels.isEmpty && newLines.isEmpty && parsed.isEmpty && bounds.isEmpty) f
      else {
        val newRel =
          r.copy(table = t.withPushed(newLabels, newLines, parsed, bounds))
        // Matchers that can match a stream WITHOUT the label are pushed for
        // server-side pruning but KEPT in the residual: Loki treats a
        // missing label as the empty string, so != / !~ (which accept ""
        // unless the value is itself empty), = with value "", and =~ whose
        // pattern matches "" all select absent-label streams — rows Spark's
        // SQL semantics (GetMapValue → NULL → filter false) must drop.
        // Loki's match set is a superset of SQL's in every such case, so
        // pushing never loses a row, and the residual re-filter keeps SQL
        // semantics authoritative — the same silent-extra-rows class of gap
        // fixed for timestamp bounds and regex anchoring in round 1.
        val kept = labels.collect {
          case (e, m) if LogQL.matchesAbsentLabel(m) => e
        }.toSet
        val removable = pushed.map(_._1).toSet -- kept
        val residual = conjuncts.filterNot(removable)
        if (residual.isEmpty) newRel
        else Filter(residual.reduce(And(_, _)), newRel)
      }
  }
}

/** Insert plan display `rows=n` parity (SURVEY §7.4(c), reference
  * insert.rs:122-134): DataFusion feeds `LokiLogInsertExec`'s DisplayAs
  * from the child plan's statistics; Spark's DSv2 `WriteBuilder` is built
  * from `LogicalWriteInfo` (schema + options + queryId) and structurally
  * cannot see the input plan. This rule closes the gap from the HOST
  * side: when an INSERT's input row count is statically known (a
  * VALUES / LocalRelation input — exactly the reference README's case),
  * the count rides into the [[LokiTable]] so `newWriteBuilder` bakes it
  * into [[graft.sources.loki.LokiLogWrite]]'s description, and EXPLAIN
  * shows `LokiLogInsert: endpoint=…, rows=n`. The table is the only
  * channel: extension optimizer rules run in the operator-optimization
  * batches, before `V2Writes` (one of `SparkOptimizer`'s early scan
  * push-down rules) builds the Write from it.
  */
object LokiInsertRowsRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LocalRelation, Project, SubqueryAlias}

  private def staticRows(q: LogicalPlan): Option[Long] = q match {
    case l: LocalRelation => Some(l.data.length.toLong)
    case t: org.apache.spark.sql.catalyst.analysis.ResolvedInlineTable =>
      Some(t.rows.size.toLong)
    case p: Project => staticRows(p.child)
    case s: SubqueryAlias => staticRows(s.child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a @ AppendData(
        r @ DataSourceV2Relation(t: LokiTable, _, _, _, _, _), _, _, _, _, _)
        if t.staticInputRows.isEmpty =>
      staticRows(a.query) match {
        case Some(n) =>
          a.copy(table = r.copy(table = t.copy(staticInputRows = Some(n))))
        case None => a
      }
  }
}

/** Session extensions wiring (register via
  * `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `.withExtensions(new GraftExtensions)`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => LokiPushdownRule)
    e.injectOptimizerRule(_ => LokiMetricAggRule)
    e.injectOptimizerRule(_ => LokiMetricTopKRule)
    e.injectOptimizerRule(_ => LokiDeleteRule)
    e.injectOptimizerRule(_ => LokiInsertRowsRule)
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectPlannerStrategy(_ => LokiLocalStrategy)
    graft.functions.GraftFunctions.inject(e)
  }
}
