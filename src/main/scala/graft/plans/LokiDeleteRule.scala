package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.loki.{LogQL, LokiHttp, LokiOptions, LokiTable}

/** `DELETE FROM loki WHERE …` → real Loki's compactor delete API
  * (`POST /loki/api/v1/delete`) — the connector's DELETE-shaped DML
  * decision (round 14). Spark's own DSv2 delete path cannot carry the
  * shapes Loki deletes by (map-key label matchers, regex, line-filter
  * stages — the same translation gap [[LokiPushdownRule]] closes for
  * reads), so the rewrite rides the custom-rule channel: a fully
  * translatable condition becomes a [[LokiDeleteCommand]] that files the
  * deletion request; anything else is left for Spark's planner to REJECT
  * loudly ("table does not support deletes") — mapped exactly or refused,
  * never partially applied, because a DELETE has no residual to re-filter
  * with.
  *
  * Exactness contract (the metric-rule discipline):
  *   - every conjunct must translate through [[LogQL.translate]]: label
  *     matcher (absent-matching forms rejected — Loki would delete
  *     streams the SQL predicate's NULL semantics spare), line filter, or
  *     timestamp bound — parser-stage predicates and repeated bounds are
  *     refused;
  *   - the query is assembled like the table's reads
  *     ([[LogQL.logQuery]]): the `selector` option's pieces first, then
  *     the translated matchers and line filters, with the
  *     `default_label` fallback when there is no matcher at all — so a
  *     DELETE never reaches rows the table's own SELECT cannot see. The
  *     endpoint requires a selector, and a bare unconditional
  *     `DELETE FROM loki` is deliberately refused rather than expanded to
  *     "everything";
  *   - timestamp bounds translate at full ns precision: the compactor's
  *     delete window is INCLUSIVE on both ends (an entry is deleted when
  *     start ≤ ts ≤ end), so the SQL-exclusive `ts < E` ships as the
  *     RFC3339Nano `end = E − 1ns` — exact, where the earlier
  *     epoch-second `end = E` over-deleted the entry timestamped exactly
  *     E on a destructive, irreversible operation (round-15 advice).
  *     Sub-second bounds are expressible in the nano dialect and push.
  *
  * The request is ASYNC on a real Loki (applied by the compactor after
  * the cancel grace period); the command returns when the request is
  * FILED, like the HTTP API itself. The testkit stub applies deletions
  * immediately, modeling the post-compaction state.
  */
object LokiDeleteRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case del @ DeleteFromTable(
        DataSourceV2Relation(t: LokiTable, _, _, _, _, _), cond) =>
      translate(t, cond).getOrElse(del)
  }

  private def translate(
      table: LokiTable, cond: Expression): Option[LogicalPlan] = {
    var matchers = List.empty[LogQL.LabelMatcher]
    var lines = List.empty[LogQL.LineFilter]
    var starts = List.empty[Long]
    var ends = List.empty[Long]
    splitConjunctivePredicates(cond).foreach {
      case Literal(true, _) => // no-op conjunct (bare DELETE's condition)
      case c =>
        // no parser stages: the compactor's delete takes a selector and
        // line filters only
        LogQL.translate(c, pushParsers = false) match {
          case Some(LogQL.Start(ns)) => starts ::= ns
          case Some(LogQL.End(ns)) => ends ::= ns
          case Some(m: LogQL.LabelMatcher) if !LogQL.matchesAbsentLabel(m) =>
            matchers ::= m
          case Some(lf: LogQL.LineFilter) => lines ::= lf
          case _ => return None
        }
    }
    // a repeated bound of one kind is refused rather than folded to the
    // tightest: kept simple on an irreversible operation
    if (starts.size > 1 || ends.size > 1) return None
    // an exclusive end at the saturated floor is an empty window (no ns
    // timestamp precedes it) — refuse rather than wrap the −1ns below
    if (ends.contains(Long.MinValue)) return None
    // a bare DELETE FROM loki must not expand to everything the table
    // reads: SOMETHING in the condition must narrow the delete
    if (matchers.isEmpty && lines.isEmpty && starts.isEmpty && ends.isEmpty)
      return None
    // the scan's assembler: the table's `selector` option narrows the
    // delete exactly as it narrows the table's reads
    val query = LogQL.logQuery(
      table.options, matchers.reverse, lines.reverse, Nil) match {
      case Some(q) => q.query
      case None => return None
    }
    // SQL window [start, end) → the compactor's inclusive window
    // [start, end − 1ns] (see LokiHttp.deleteRequest)
    Some(LokiDeleteCommand(table.options, query,
      starts.headOption, ends.headOption.map(_ - 1)))
  }
}

/** Files one compactor delete request at execution. EXPLAIN shows the
  * full argument list (the DisplayAs analog for the write path's DML
  * sibling) — bounds rendered exactly as they go on the wire
  * (RFC3339Nano, both INCLUSIVE).
  */
case class LokiDeleteCommand(
    options: LokiOptions,
    query: String,
    startInclNs: Option[Long],
    endInclNs: Option[Long]) extends LeafRunnableCommand {

  override def run(sparkSession: SparkSession): Seq[Row] = {
    LokiHttp.deleteRequest(options.endpoint, query, startInclNs, endInclNs)
    Seq.empty
  }

  override def simpleString(maxFields: Int): String =
    s"LokiDelete: endpoint=${options.endpoint}, query=$query" +
      startInclNs.map(s => s", start=${LokiHttp.rfc3339Nano(s)}").getOrElse("") +
      endInclNs.map(e => s", end=${LokiHttp.rfc3339Nano(e)}").getOrElse("")
}
