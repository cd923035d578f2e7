package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.loki.{LokiHttp, LokiInputPartition, LokiMetricScan, LokiOptions, LokiScan}
import graft.sources.loki.testkit.LokiStubServer

/** One operation a client issues; `shape` names the query family it
  * belongs to, so a failing shape is reported by name.
  */
trait OpSpec { def shape: String }

/** What one op did. Times are wall ns measured around the calls into the
  * program. `plans` are the executed plans of its queries (for the scan
  * row count and the traced run's layer replays); `written` the rows an
  * insert pushed.
  */
final case class Outcome(
    ok: Boolean,
    detail: String,
    queryNs: Long,
    insertNs: Long = -1L,
    insertRows: Int = 0,
    plans: Seq[SparkPlan] = Nil,
    written: Seq[InternalRow] = Nil)

/** A workload: a fixture built by `setup`, a warm-up, and an endless
  * deterministic op stream per client.
  */
trait Workload {
  def name: String
  def clients: Int
  /** Build a fresh fixture; the harness times it and keeps the last one. */
  def setup(rep: Int): Unit
  /** Timed set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Untimed work that fills caches and finishes lazy set-up. */
  def warmup(ctx: OpCtx): Unit
  /** Seconds of untimed ops (from separate client streams) after `warmup`. */
  def warmSeconds: Double = 0.0
  /** Client threads of that untimed phase. */
  def warmClients: Int = clients
  /** Op `k` of client `c`: a pure function of the seed, c and k. */
  def op(client: Int, k: Long): OpSpec
  def run(op: OpSpec, ctx: OpCtx): Outcome
  /** Every fixture setting the workload relies on, printed at start. */
  def settings: Seq[(String, String)]
  /** The workload's own stub, if it has one (request logs, replays). */
  def stub: Option[LokiStubServer]
  /** Checks made after the measured phase; `Some(reason)` fails the run. */
  def verifyPhase(p: PhaseStats): Option[String] = None
  /** Stop the fixture and drop what the workload built for it. */
  def close(): Unit
}

/** Wall and CPU time a client thread spends on the benchmark's own work
  * inside a measured phase: generating inputs, checking answers, reading
  * plans, clearing the stub's logs. The phase takes it out of the program's
  * throughput and CPU.
  */
final class BenchTime {
  var wallNs = 0L
  var cpuNs = 0L
  def apply[A](body: => A): A = {
    val w0 = System.nanoTime()
    val c0 = BenchTime.threads.getCurrentThreadCpuTime
    try body
    finally {
      wallNs += System.nanoTime() - w0
      cpuNs += BenchTime.threads.getCurrentThreadCpuTime - c0
    }
  }
}

object BenchTime {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
}

/** Per-op context handed to a workload: the op id, the tracer, the
  * benchmark-work clock, and the helper that plans and executes a query
  * inside op → plan → execute spans.
  */
final class OpCtx(val spark: SparkSession, val opId: Long, val tracer: Tracer,
    val execSpans: ConcurrentHashMap[Long, java.lang.Long]) {
  private var rootId = 0L
  val bench = new BenchTime

  /** Time the whole op (spans nest under one `op` span). */
  def op[A](body: => A): A = tracer.span("op", opId, 0L) { id => rootId = id; body }

  /** Plan (analysis, optimisation, physical planning) then execute. */
  def query(build: => DataFrame): (Array[Row], SparkPlan) = {
    val df = tracer.span("plan", opId, rootId) { _ =>
      val d = build
      d.queryExecution.executedPlan
      d
    }
    val rows = tracer.span("execute", opId, rootId) { id =>
      if (id != 0L) execSpans.put(opId, id)
      df.collect()
    }
    (rows, df.queryExecution.executedPlan)
  }

  /** A command (INSERT) runs when it is planned: one `execute` span. */
  def command(sql: String): SparkPlan =
    tracer.span("execute", opId, rootId) { id =>
      if (id != 0L) execSpans.put(opId, id)
      spark.sql(sql).queryExecution.executedPlan
    }
}

/** Facts read off an executed plan through public plan/metric APIs. */
final case class PlanFacts(
    lokiScans: Seq[BatchScanExec],
    metricScans: Seq[BatchScanExec],
    scanRows: Long,
    usefulRows: Long,
    residual: Boolean,
    metricSamples: Long)

object PlanFacts {
  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def under(p: SparkPlan): SparkPlan = p match {
    case c: ColumnarToRowExec => under(c.child)
    case i: InputAdapter => under(i.child)
    case pr: ProjectExec => under(pr.child)
    case x => x
  }

  def isLoki(b: BatchScanExec): Boolean = b.scan.isInstanceOf[LokiScan]

  def of(plan: SparkPlan): PlanFacts = {
    val scans = plan.collect { case b: BatchScanExec => b }
    val loki = scans.filter(isLoki)
    val metric = scans.filter(_.scan.isInstanceOf[LokiMetricScan])
    val filters = plan.collect {
      case f: FilterExec if (under(f.child) match {
        case b: BatchScanExec => isLoki(b)
        case _ => false
      }) => f
    }
    val filtered = filters.map(f => under(f.child)).toSet
    val scanRows = loki.map(rows).sum
    val useful = filters.map(rows).sum + loki.filterNot(filtered.contains).map(rows).sum
    PlanFacts(loki, metric, scanRows, useful, filters.nonEmpty, metric.map(rows).sum)
  }
}

/** Sums of per-layer quantities over a traced phase. */
final class Layers {
  private val sums = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { sums(k) = sums.getOrElse(k, 0.0) + v }
  def get(k: String): Double = synchronized(sums.getOrElse(k, 0.0))
}

/** The traced run's replays. They call the layers' public entry points
  * from outside, with the requests the op actually issued, after the op's
  * own timing has ended: readers drained over the op's input partitions,
  * wire calls re-sent through `LokiHttp`, and the writer re-run over the
  * op's rows against a scratch stub.
  */
final class Replayer(replayStub: LokiStubServer, tracer: Tracer) {
  private def ms(ns: Long): Double = ns / 1e6

  def scans(op: Long, facts: PlanFacts, log: Seq[(String, Option[Long], Option[Long])],
      layers: Layers): Unit = facts.lokiScans.foreach { b =>
    val parts = b.inputPartitions.collect { case p: LokiInputPartition => p }
    layers.add("LokiScan.partitions", parts.size.toDouble)
    parts.foreach { p =>
      val t0 = System.nanoTime()
      tracer.span("LokiScan.read", op, 0L) { _ =>
        val f = b.readerFactory
        if (f.supportColumnarReads(p)) {
          val r = f.createColumnarReader(p)
          try while (r.next()) r.get().numRows() finally r.close()
        } else {
          val r = f.createReader(p)
          try while (r.next()) r.get() finally r.close()
        }
      }
      layers.add("LokiScan.read_ms", ms(System.nanoTime() - t0))
      val (start, end) = p.effectiveWindow
      val reqs: Seq[(Long, Long, Option[Int], Option[String])] =
        if (p.countOnly) Nil
        else p.pageSize match {
          case None => Seq((start, end, p.limit, p.direction))
          case Some(ps) =>
            val lim = Some(p.serverMax.fold(ps)(math.min(ps, _)))
            log.collect {
              case (q, Some(s), Some(e)) if q == p.logql && s >= start && s < end =>
                (s, e, lim, Some("forward"))
            }
        }
      reqs.foreach { case (s, e, lim, dir) =>
        val w0 = System.nanoTime()
        val body = tracer.span("LokiHttp.query_range", op, 0L) { _ =>
          LokiHttp.queryRange(p.endpoint, p.logql, s, e, lim, dir)
        }
        layers.add("LokiHttp.query_range_ms", ms(System.nanoTime() - w0))
        layers.add("LokiHttp.requests", 1)
        layers.add("LokiHttp.bytes", body.length.toDouble)
      }
    }
  }

  /** Re-run the writer over the insert's row slices, then re-send the push
    * bodies the op actually sent; encode time is the writer's wall minus
    * the re-sent pushes' wall.
    */
  def writes(op: Long, rows: Seq[InternalRow], slices: Int, bodies: Seq[String],
      layers: Layers): Unit = {
    val opts = LokiOptions.from(Map("endpoint" -> replayStub.endpoint,
      "check_connection" -> "false"))
    val w0 = System.nanoTime()
    tracer.span("LokiWrite.drain", op, 0L) { _ =>
      val n = rows.size
      (0 until slices).foreach { i =>
        val w = new graft.sources.loki.LokiDataWriter(opts)
        rows.slice(i * n / slices, (i + 1) * n / slices).foreach(w.write)
        w.commit(); w.close()
      }
    }
    val writerNs = System.nanoTime() - w0
    replayStub.clear()
    val p0 = System.nanoTime()
    bodies.foreach { b =>
      tracer.span("LokiHttp.push", op, 0L)(_ => LokiHttp.push(replayStub.endpoint, b))
      layers.add("LokiHttp.requests", 1)
      layers.add("LokiHttp.bytes", b.getBytes("UTF-8").length.toDouble)
    }
    val pushNs = System.nanoTime() - p0
    replayStub.clear()
    replayStub.pushBodies.synchronized(replayStub.pushBodies.clear())
    layers.add("LokiHttp.push_ms", ms(pushNs))
    layers.add("LokiWrite.encode_ms", ms(math.max(0L, writerNs - pushNs)))
  }
}

/** Tally of one phase's ops. */
final class PhaseStats {
  val queryMs = mutable.ArrayBuffer.empty[Double]
  /** Query ms by op shape, and (seconds into the phase, query ms) per op. */
  val shapeMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val timeline = mutable.ArrayBuffer.empty[(Double, Double)]
  var startNs = System.nanoTime()
  val insertMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var insertRows = 0L
  var scanRows = 0L
  val failedShapes = mutable.Map.empty[String, Long]
  val firstFailure = mutable.Map.empty[String, String]
  var wallS = 0.0
  var cpuMs = 0.0
  var clients = 1
  // the clients' own work (see BenchTime), summed over clients
  var benchWallNs = 0L
  var benchCpuNs = 0L
  var gcMs = 0.0
  // stub query_range counters over the phase, replays excluded
  var stubReqs = 0L
  var stubHits = 0L
  var stubServeMs = 0.0
  /** Traced phase: op id → shape. */
  var opShapes: Map[Long, String] = Map.empty

  def record(shape: String, o: Outcome, scanRows: Long, bench: BenchTime = new BenchTime): Unit = synchronized {
    attempted += 1
    benchWallNs += bench.wallNs
    benchCpuNs += bench.cpuNs
    if (o.ok) {
      queryMs += o.queryNs / 1e6
      shapeMs.getOrElseUpdate(shape, mutable.ArrayBuffer.empty[Double]) += o.queryNs / 1e6
      timeline += (((System.nanoTime() - startNs) / 1e9, o.queryNs / 1e6))
      if (o.insertNs >= 0) insertMs += o.insertNs / 1e6
      insertRows += o.insertRows
      this.scanRows += scanRows
    } else {
      failed += 1
      failedShapes(shape) = failedShapes.getOrElse(shape, 0L) + 1
      firstFailure.getOrElseUpdate(shape, o.detail)
    }
  }

  /** Phase wall time less the clients' own work: the closed-loop clients
    * share the wall, so each client's share is taken out once.
    */
  def programWallS: Double = wallS - benchWallNs / 1e9 / clients
  /** Share of the phase the hypervisor took from the VM (see HostSteal). */
  var stealShare = 0.0
  /** Thread CPU ns of each HostSpeed probe run between this phase's ops. */
  val probeNs = mutable.ArrayBuffer.empty[Double]
  def hostFactor: Double = HostSpeed.factor(probeNs)
  /** A wall time over the time the VM ran, at reference speed. */
  def hostWall(wall: Double): Double = wall * (1.0 - stealShare) * hostFactor
  def programCpuMs: Double = cpuMs - benchCpuNs / 1e6

  def failedRatio: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  def ops: Long = attempted - failed
  def describeFailures: String =
    failedShapes.toSeq.sorted.map { case (s, n) => s"$s=$n" }.mkString(",")
}

/** CPU time the hypervisor took from this VM ("steal" in /proc/stat):
  * time the VM's CPUs wanted to run but the host ran something else. On
  * a shared host it comes and goes over minutes and stretches every wall
  * time measured meanwhile, so the wall-time metrics are reported over the
  * time the VM actually ran: wall × (1 − steal / (busy + steal)). Where
  * /proc/stat is missing, or the host reports no steal, the share is 0 and
  * wall times are as measured.
  */
object HostSteal {
  /** (busy, steal) jiffies of all CPUs so far. */
  def read(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      // user nice system idle iowait irq softirq steal ...
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def share(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val steal = b._2 - a._2
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }
}

/** How fast this VM's CPUs run code right now, from a fixed probe: a
  * copy and sort of 256 KB of longs and a few thousand small strings. On a
  * shared host the speed drifts over minutes, also when no time is stolen
  * (another tenant on the same core, cache or memory bus), and every time
  * metric drifts with it. The probe runs between ops, timed in thread CPU
  * time, which leaves out steal. A time metric is reported at the speed at
  * which the probe takes `ReferenceNs`: multiplied by
  * `ReferenceNs / median probe time`.
  */
object HostSpeed {
  /** About the probe's median thread CPU time on the 4-vCPU VM this
    * benchmark was tuned on; it only sets the scale of the reported times.
    */
  val ReferenceNs = 2.5e6
  private val data = Array.tabulate(1 << 15)(i => (i * 0x9E3779B97F4A7C15L) >>> 11)
  @volatile private var sink = 0L
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  private def probe(): Long = {
    val a = data.clone()
    java.util.Arrays.sort(a)
    val sb = new java.lang.StringBuilder
    var h = 0L
    var i = 0
    while (i < 2000) {
      sb.setLength(0)
      sb.append("k=").append(a(i * 16)).append(';')
      h = h * 31 + sb.toString.hashCode
      i += 1
    }
    h
  }

  /** Thread CPU ns of one probe run. */
  def sample(): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    sink += probe()
    (threads.getCurrentThreadCpuTime - t0).toDouble
  }

  def factor(samples: Iterable[Double]): Double =
    if (samples.isEmpty) 1.0 else ReferenceNs / Stats.median(samples)
}

object Stats {
  /** Nearest-rank percentile (p in 0..100) of an unsorted sample. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Highest whole percentile with at least ten samples above it. */
  def supportedPct(n: Int): Int =
    if (n <= 10) 0 else math.min(99, math.floor(100.0 * (n - 10) / n).toInt)
}

/** Row comparison helpers shared by the oracles. */
object Check {
  def ts(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case i: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
    case l: Long => l
  }

  def labels(v: Any): Map[String, String] =
    v.asInstanceOf[scala.collection.Map[String, String]].toMap

  /** Exact multiset equality; on mismatch a short description. */
  def sameMultiset[A](got: Seq[A], exp: Seq[A]): Option[String] = {
    def counts(xs: Seq[A]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val g = counts(got)
    val e = counts(exp)
    if (g == e) None
    else {
      val missing = e.keySet.filter(k => g.getOrElse(k, 0) < e(k)).take(1)
      val extra = g.keySet.filter(k => e.getOrElse(k, 0) < g(k)).take(1)
      Some(s"rows ${got.size} vs expected ${exp.size}; missing=${missing.mkString}" +
        s" extra=${extra.mkString}".take(400))
    }
  }

  /** A `ORDER BY ts DESC LIMIT n` answer: `got` must be ts-descending,
    * its ts multiset must equal the expected top-n ts multiset, and every
    * row must be a distinct candidate (ties at the cut may pick any).
    */
  def topN(got: Seq[(Long, Map[String, String], String)],
      candidates: Seq[(Long, Map[String, String], String)], n: Int): Option[String] = {
    val exp = candidates.sortBy(-_._1).take(n)
    val cand = candidates.toSet
    if (got.map(_._1) != got.map(_._1).sortBy(-_)) Some("rows not in timestamp DESC order")
    else if (got.size != exp.size) Some(s"rows ${got.size} vs expected ${exp.size}")
    else if (got.map(_._1).sorted != exp.map(_._1).sorted) Some("timestamps differ from the expected top-n")
    else if (got.distinct.size != got.size) Some("duplicate rows")
    else got.find(r => !cand.contains(r)).map(r => s"row not in the matching set: $r".take(400))
  }
}

object StubLogs {
  /** Drop the stub's per-request logs (they grow without bound). */
  def clear(s: LokiStubServer): Unit = {
    s.queries.synchronized(s.queries.clear())
    s.ranges.synchronized(s.ranges.clear())
    s.pushBodies.synchronized(s.pushBodies.clear())
    s.statsRanges.synchronized(s.statsRanges.clear())
    s.volumeRequests.synchronized(s.volumeRequests.clear())
  }
  def ranges(s: LokiStubServer): Seq[(String, Option[Long], Option[Long])] =
    s.ranges.synchronized(s.ranges.toSeq)
  def pushes(s: LokiStubServer): Seq[String] =
    s.pushBodies.synchronized(s.pushBodies.toSeq)

  /** Pin every fixture knob the workloads rely on to its stated value. */
  def pin(s: LokiStubServer, serverCap: Int): Unit = {
    s.queryLatencyMs = 0L
    s.statsLatencyMs = 0L
    s.serverDefaultLimit = serverCap
    s.rejectOverLimit = serverCap
    s.wireCodec = org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED
    s.wireDictionary = true
    s.wireV2Pages = false
    s.rowGroupBytes = 128L * 1024 * 1024
  }

  def describe(s: LokiStubServer): Seq[(String, String)] = Seq(
    "stub.cache_bytes" -> sys.env.getOrElse("GRAFT_STUB_CACHE_BYTES", "(code default)"),
    "stub.query_latency_ms" -> s.queryLatencyMs.toString,
    "stub.stats_latency_ms" -> s.statsLatencyMs.toString,
    "stub.server_default_limit" -> s.serverDefaultLimit.toString,
    "stub.reject_over_limit" -> s.rejectOverLimit.toString,
    "stub.wire_codec" -> s.wireCodec.toString,
    "stub.wire_dictionary" -> s.wireDictionary.toString,
    "stub.wire_v2_pages" -> s.wireV2Pages.toString,
    "stub.row_group_bytes" -> s.rowGroupBytes.toString)

  def toRows(s: LokiStubServer, es: Array[Entry]): Seq[s.LogRow] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(es.map(e => s.LogRow(e.tsNs, e.labels, e.line)))
}

object Sql {
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  /** A TIMESTAMP literal for a whole-second ns instant (session TZ is UTC). */
  def ts(ns: Long): String = {
    require(ns % 1000000000L == 0, s"window bound $ns is not whole seconds")
    s"TIMESTAMP '${fmt.format(java.time.Instant.ofEpochSecond(ns / 1000000000L))}'"
  }
  def str(s: String): String = "'" + s.replace("'", "''") + "'"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Helper for ConcurrentHashMap-backed memo tables used by the oracles. */
final class Memo[K, V](f: K => V) {
  private val m = new ConcurrentHashMap[K, V]()
  def apply(k: K): V = m.computeIfAbsent(k, (kk: K) => f(kk))
}
