package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Predicate, SortOrder, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.connector.read.{PartitionReader, Scan}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.sources.loki.{LokiMetricScan, LokiScan}

/** Plans [[LokiLocalExec]] over a query whose answer is one Loki request
  * away: `ReturnAnswer` over a chain of Project, Filter, Sort and limits
  * above one single-partition `LokiScan` or `LokiMetricScan`. The chain
  * itself is planned as usual and becomes the exec's child, so EXPLAIN
  * still shows the pushed LogQL and any residual.
  *
  * A residual Filter is allowed only under a pushed LIMIT. Without a
  * residual every response row is an answer row, so the driver holds no
  * more than `collect()` would; a pushed LIMIT bounds the response itself.
  * Anything else — several partitions, an aggregate, a join, a subquery —
  * keeps the distributed plan.
  */
object LokiLocalStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(chain) if answersLocally(chain) =>
      LokiLocalExec(planLater(chain)) :: Nil
    case _ => Nil
  }

  private def answersLocally(chain: LogicalPlan): Boolean = {
    var filtered = false
    def scanOf(p: LogicalPlan): Option[Scan] = p match {
      case Project(_, c) => scanOf(c)
      case Filter(_, c) => filtered = true; scanOf(c)
      case s: Sort => scanOf(s.child)
      case GlobalLimit(_, c) => scanOf(c)
      case LocalLimit(_, c) => scanOf(c)
      case r: DataSourceV2ScanRelation => Some(r.scan)
      case _ => None
    }
    val scan = scanOf(chain)
    val bounded = scan match {
      case Some(s: LokiScan) => !filtered || s.limit.isDefined
      case Some(_: LokiMetricScan) => !filtered
      case _ => false
    }
    bounded && scan.get.toBatch.planInputPartitions().length == 1 &&
      !chain.exists(_.expressions.exists(SubqueryExpression.hasSubquery))
  }
}

/** Answers a single-request Loki query on the driver, without a Spark job
  * — what `LocalTableScanExec` does for local data, and what the
  * reference does inside DataFusion's in-process stream (`scan.rs`).
  *
  * `executeCollect` and `executeTake` walk the planned child: the
  * `BatchScanExec` is read through its own reader factory, and Project,
  * Filter, Sort, TakeOrderedAndProject and the limits are applied with
  * Spark's own projections, predicates and orderings. Codegen stages,
  * input adapters and the columnar-to-row transition are passed through.
  * A node it does not know, a scan with more than one input partition or
  * with runtime filters falls back to `child.executeCollect()`. So does a
  * read whose response bytes pass `spark.driver.maxResultSize`, the
  * bound Spark puts on the task results a collect brings to the driver.
  * `doExecute` is the child's, so caches and RDD callers run the
  * distributed plan unchanged.
  *
  * Memory: [[LokiLocalStrategy]] plans this exec only where the response
  * is bounded by the answer (no residual Filter) or by a pushed LIMIT. A
  * paged scan holds one page at a time; Sort and TakeOrderedAndProject
  * hold their rows as they would in a task.
  *
  * Metrics: the rows each node produced and the reader's task metrics
  * (`loki_pages`, `loki_wire_bytes`, `loki_decode_ms`) are added to the
  * kept plan's `SQLMetric`s and posted as driver-side updates, so the
  * executed plan reports the same counters as the distributed run.
  *
  * Cancellation: the read runs on the calling thread, not in a task, so
  * job-group cancellation does not stop it; it is bounded by the
  * `LokiHttp` connect and read timeouts. A read failure surfaces as the
  * reader's own exception, not wrapped in a `SparkException`.
  */
case class LokiLocalExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  // the child's, as `doExecute` is: a cache built over this plan reports them
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def nodeName: String = "LokiLocal"

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    collectLocally(Int.MaxValue).getOrElse(child.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    collectLocally(n).getOrElse(child.executeTake(n))

  override protected def withNewChildInternal(c: SparkPlan): LokiLocalExec =
    copy(child = c)

  /** The first `n` answer rows read on the driver, or None to fall back. */
  private def collectLocally(n: Int): Option[Array[InternalRow]] = {
    val run = new LokiLocalExec.Run(
      SparkEnv.get.conf.getSizeAsBytes("spark.driver.maxResultSize", "1g"))
    try {
      run.rows(child).flatMap { it =>
        val toUnsafe = UnsafeProjection.create(output, output)
        try Some(it.take(n).map(r => toUnsafe(r).copy(): InternalRow).toArray)
        catch { case LokiLocalExec.TooLarge => None }
      }.map { rows =>
        SQLMetrics.postDriverMetricUpdates(sparkContext,
          sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
          run.commitMetrics())
        rows
      }
    } finally run.close()
  }
}

object LokiLocalExec {
  /** The response outgrew `spark.driver.maxResultSize`: run distributed. */
  private case object TooLarge extends Exception with scala.util.control.NoStackTrace

  /** Iterators built lazily, so no request is sent unless the whole tree
    * is known.
    */
  private def later(body: => Iterator[InternalRow]): Iterator[InternalRow] =
    Iterator.empty ++ body

  /** One driver-side evaluation: its iterators, their row counts and the
    * scan's reader.
    */
  private final class Run(maxResultBytes: Long) {
    private val counts = mutable.ArrayBuffer.empty[(SQLMetric, Array[Long])]
    private var scan: BatchScanExec = _
    private var reader: PartitionReader[_] = _

    def rows(p: SparkPlan): Option[Iterator[InternalRow]] = (p match {
      case b: BatchScanExec if b.runtimeFilters.isEmpty &&
          b.inputPartitions.size == 1 &&
          (b.scan.isInstanceOf[LokiScan] || b.scan.isInstanceOf[LokiMetricScan]) =>
        Some(later(read(b)))
      case w: WholeStageCodegenExec => rows(w.child)
      case i: InputAdapter => rows(i.child)
      case c: ColumnarToRowExec => rows(c.child)
      case ProjectExec(list, c) => rows(c).map { it =>
        val proj = UnsafeProjection.create(list, c.output)
        proj.initialize(0)
        it.map(proj)
      }
      case FilterExec(cond, c) => rows(c).map { it =>
        val pred = Predicate.create(cond, c.output)
        pred.initialize(0)
        it.filter(pred.eval)
      }
      case s: SortExec => rows(s.child).map { it => later {
        val all = it.map(_.copy()).toArray
        java.util.Arrays.sort(all, new LazilyGeneratedOrdering(s.sortOrder, s.child.output))
        all.iterator
      }}
      case t: TakeOrderedAndProjectExec => rows(t.child).map { it => later {
        val proj = UnsafeProjection.create(t.projectList, t.child.output)
        proj.initialize(0)
        smallest(it, t.limit, new LazilyGeneratedOrdering(t.sortOrder, t.child.output))
          .drop(t.offset).map(proj)
      }}
      case LocalLimitExec(limit, c) => rows(c).map(_.take(limit))
      case GlobalLimitExec(limit, c, offset) => rows(c).map { it =>
        if (limit >= 0) it.slice(offset, offset + limit) else it.drop(offset)
      }
      case _ => None
    }).map { it =>
      p.metrics.get("numOutputRows") match {
        case Some(m) =>
          val n = Array(0L)
          counts += m -> n
          it.map { r => n(0) += 1; r }
        case None => it
      }
    }

    /** The `k` smallest rows by `ord`, in order: a bounded heap whose root
      * is the largest row kept.
      */
    private def smallest(it: Iterator[InternalRow], k: Int,
        ord: Ordering[InternalRow]): Iterator[InternalRow] = {
      if (k <= 0) return Iterator.empty
      val heap = new java.util.PriorityQueue[InternalRow](k, ord.reverse)
      it.foreach { r =>
        if (heap.size < k) heap.add(r.copy())
        else if (ord.lt(r, heap.peek)) { heap.poll(); heap.add(r.copy()) }
      }
      val kept = heap.toArray(new Array[InternalRow](0))
      java.util.Arrays.sort(kept, ord)
      kept.iterator
    }

    /** The scan's one partition, through its own reader factory, as
      * unsafe rows (the columnar-to-row transition's output).
      */
    private def read(b: BatchScanExec): Iterator[InternalRow] = {
      val part = b.inputPartitions.head
      val f = b.readerFactory
      val toUnsafe = UnsafeProjection.create(b.schema)
      scan = b
      if (f.supportColumnarReads(part)) {
        val r = f.createColumnarReader(part)
        reader = r
        Iterator.continually(r.next()).takeWhile(identity).flatMap { _ =>
          if (maxResultBytes > 0 && wireBytes(r) > maxResultBytes) throw TooLarge
          r.get().rowIterator().asScala
        }.map(toUnsafe)
      } else {
        val r = f.createReader(part)
        reader = r
        Iterator.continually(r.next()).takeWhile(identity).map(_ => toUnsafe(r.get()))
      }
    }

    private def wireBytes(r: PartitionReader[_]): Long =
      r.currentMetricsValues.find(_.name == "loki_wire_bytes").fold(0L)(_.value)

    /** Add the counted rows and the reader's task metrics to the plan's
      * metrics; returns the metrics touched.
      */
    def commitMetrics(): Seq[SQLMetric] = {
      counts.foreach { case (m, n) => m.add(n(0)) }
      val task = Option(reader).toSeq.flatMap(_.currentMetricsValues.toSeq)
        .flatMap(t => scan.metrics.get(t.name).map { m => m.add(t.value); m })
      counts.map(_._1).toSeq ++ task
    }

    def close(): Unit = if (reader != null) reader.close()
  }
}
