package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.loki.testkit.LokiStubServer

/** Run settings. `clients` and `slots` may not exceed the machine's cores:
  * the load generator and the engine share one process.
  */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, slots: Int)

object Config {
  def validate(clients: Int, slots: Int, cores: Int): Unit = {
    require(clients >= 1 && clients <= cores,
      s"refusing $clients client threads on $cores cores")
    require(slots >= 1 && slots <= cores,
      s"refusing $slots Spark task slots on $cores cores")
  }

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    Config(
      workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toInt,
      trace = m.getOrElse("trace", "0") == "1", work = m("work"),
      slots = math.min(4, cores))
  }
}

object Main {
  val Workloads = Seq("dashboard", "bulk_scan", "ingest_tail")
  /** Client ids of the untimed warm-up phase start here. */
  val WarmClientBase = 100
  /** The response-cache budget every workload is measured under. */
  val StubCacheBytes = "1073741824"

  private def log(s: String): Unit = { System.out.println(s); System.out.flush() }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    require(sys.env.get("GRAFT_STUB_CACHE_BYTES").contains(StubCacheBytes),
      s"GRAFT_STUB_CACHE_BYTES must be pinned to $StubCacheBytes")
    val cores = Runtime.getRuntime.availableProcessors
    SelfTest.run(cores) match {
      case Nil => log("selftest: ok")
      case errs =>
        errs.foreach(e => System.err.println(s"selftest FAILED: $e"))
        sys.exit(3)
    }
    val spark = session(cfg)
    val code =
      try run(cfg, spark, cores)
      catch {
        case e: Throwable =>
          System.err.println("perfbench: run aborted")
          e.printStackTrace()
          1
      } finally {
        graft.operators.ConnectorOps.shutdownStubs()
        spark.stop()
      }
    sys.exit(code)
  }

  def session(cfg: Config): SparkSession = {
    val s = graft.GraftSession.configure(SparkSession.builder())
      .master(s"local[${cfg.slots}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cfg.slots.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"${cfg.work}/checkpoints")
      .config("graft.cache.maxLiveCorpora", "64")
      // Spark's status store keeps every job, stage and SQL execution up to
      // these caps; small caps keep its share of the live heap from growing
      // with the number of ops a run completes
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(cfg: Config, spark: SparkSession): Workload = cfg.workload match {
    case "dashboard" => new Dashboard(spark, cfg.seed)
    case "bulk_scan" => new BulkScan(spark, cfg.seed)
    case "ingest_tail" => new IngestTail(spark, cfg.seed)
  }

  /** Process CPU less the JIT compiler threads' CPU. Compilation is the
    * JVM warming up, not work an op does, and how far it has got when a
    * phase starts varies from run to run. Compiler threads are read from
    * /proc (the JVM does not list them); the launcher keeps them alive for
    * the whole run, so none takes its CPU time with it. Where /proc is
    * missing this is the process CPU.
    */
  private def cpuNs: Long = {
    val process = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    process - jitCpuNs
  }

  private def jitCpuNs: Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.matches("C[12] CompilerThre.*")) 0L
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 1000000000L / ClockTicks
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** USER_HZ: the unit of /proc CPU times on Linux. */
  private val ClockTicks = 100L

  /** Used heap after a full GC. Queued listener events are delivered first,
    * so the status store holds what it will keep. Spark's context cleaner
    * frees blocks of collected broadcasts and shuffles on its own thread once
    * a GC has found them, so it gets a moment and a second full GC.
    */
  def liveHeapMb(spark: SparkSession): Double = {
    org.apache.spark.graft.ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext, 10000)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Wall ms of the trivial one-stage and two-stage jobs (medians of 5). */
  def floors(spark: SparkSession): (Double, Double) = {
    val sc = spark.sparkContext
    def t(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    def one(): Unit = { sc.parallelize(Seq(1), 1).count(); () }
    def two(): Unit = { sc.parallelize(Seq(1, 2), 1).map(x => (x, x)).reduceByKey(_ + _, 1).count(); () }
    one(); two()
    (Stats.median((1 to 5).map(_ => t(one()))), Stats.median((1 to 5).map(_ => t(two()))))
  }

  /** What one run measured. It holds no reference to the workload, so the
    * workload's own state can be collected before the live heap is read.
    */
  final case class Measured(plain: PhaseStats, traced: Option[PhaseStats],
      setupS: Seq[Double], phaseProblem: Option[String], perLayer: Seq[(String, (Double, String))])

  def run(cfg: Config, spark: SparkSession, cores: Int): Int = {
    val m = measure(cfg, spark, cores)
    // the program's retained heap: the workload has been closed and dropped,
    // so its corpus, oracle indexes, stub store and stub caches are garbage
    val heapMb = liveHeapMb(spark)

    val phases = m.plain +: m.traced.toSeq
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    phases.flatMap(_.firstFailure).foreach { case (shape, d) =>
      System.err.println(s"FAILED op shape $shape: $d") }
    m.phaseProblem.foreach(p => System.err.println(s"FAILED: $p"))

    val e2e = endToEnd(m.plain, m.setupS, heapMb)
    (e2e ++ workloadOnly(m.plain)).foreach { case (k, (v, u)) => log(f"metric $k = $v%.4f $u") }
    tails(m.plain).foreach(log)
    log(f"info steal_share = ${m.plain.stealShare}%.4f host_factor = ${m.plain.hostFactor}%.4f; as measured: " +
      f"query_p50_ms = ${Stats.median(m.plain.queryMs)}%.4f queries_per_s = ${m.plain.ops / m.plain.programWallS}%.4f " +
      f"cpu_ms_per_op = ${m.plain.programCpuMs / math.max(1L, m.plain.ops)}%.4f")
    // per shape, and per 5 s of the phase: a run still warming up shows
    // as a falling latency from one 5 s slice to the next
    m.plain.shapeMs.toSeq.sortBy(_._1).foreach { case (sh, xs) =>
      log(f"info query_p50_ms[$sh] = ${Stats.median(xs)}%.2f ms (${xs.size} ops)") }
    m.plain.timeline.groupBy(x => (x._1 / 5).toInt).toSeq.sortBy(_._1).foreach { case (b, xs) =>
      log(f"info query_p50_ms[${b * 5}-${b * 5 + 5}s] = ${Stats.median(xs.map(_._2))}%.2f ms (${xs.size} ops)") }
    val failedShapes = phases.map(_.describeFailures).filter(_.nonEmpty).mkString(",")
    log(f"metric ops_failed_ratio = ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ratio" +
      (if (failedShapes.nonEmpty) s" (failing shapes: $failedShapes)" else ""))

    val metrics = if (cfg.trace) m.perLayer else e2e
    val correct = failed == 0 && m.phaseProblem.isEmpty && attempted > 0
    log(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    0
  }

  /** Set-up, warm-up and the measured phase(s) of one workload, which is
    * closed before this returns.
    */
  def measure(cfg: Config, spark: SparkSession, cores: Int): Measured = {
    val wl = make(cfg, spark)
    Config.validate(math.max(wl.clients, wl.warmClients), cfg.slots, cores)
    log(s"workload ${wl.name}: seed=${cfg.seed} seconds=${cfg.seconds} trace=${if (cfg.trace) 1 else 0} " +
      s"clients=${wl.clients} (closed loop) slots=${cfg.slots} cores=$cores")

    // set-up, several times; the last fixture is the one measured. One
    // untimed set-up first, so the timed ones do not pay JIT warm-up, and
    // a full GC before each, so none pays to collect the fixture before it.
    wl.setup(0)
    // each over the time the VM ran, at reference speed (see HostSteal,
    // HostSpeed: the probe runs right after each set-up)
    (1 to 200).foreach(_ => HostSpeed.sample())
    val setupReps = (1 to wl.setupReps).map { rep =>
      wl.close()
      System.gc()
      val s0 = HostSteal.read()
      val t0 = System.nanoTime()
      wl.setup(rep)
      val s = (System.nanoTime() - t0) / 1e9
      val steal = HostSteal.share(s0, HostSteal.read())
      (s, steal, HostSpeed.factor((1 to 20).map(_ => HostSpeed.sample())))
    }
    val setupS = setupReps.map { case (s, steal, f) => s * (1.0 - steal) * f }
    wl.settings.foreach { case (k, v) => log(s"setting $k = $v") }
    log(f"setup_s reps: ${setupReps.map { case (s, st, f) => f"$s%.3f (steal $st%.3f, host $f%.3f)" }.mkString(" ")}")

    val tracer0 = new Tracer(false)
    val noSpans = new ConcurrentHashMap[Long, java.lang.Long]()
    val w0 = System.nanoTime()
    wl.warmup(new OpCtx(spark, 0L, tracer0, noSpans))
    if (wl.warmSeconds > 0)
      phase(spark, wl, wl.warmSeconds, None, clientBase = WarmClientBase, clients = wl.warmClients)
    val warmupS = (System.nanoTime() - w0) / 1e9
    log(f"warmup_s = $warmupS%.3f s")
    wl.stub.foreach(StubLogs.clear)

    val fBefore = floors(spark)
    // a traced run measures an untraced half (the overhead baseline) and
    // then a traced half
    val plain = phase(spark, wl, if (cfg.trace) cfg.seconds / 2.0 else cfg.seconds, None)
    val traced = if (!cfg.trace) None else {
      val ledger = new SparkLedger
      spark.sparkContext.addSparkListener(ledger)
      val replayStub = new LokiStubServer
      replayStub.start()
      val tracer = new Tracer(true)
      val tr = Traced(tracer, ledger, new Layers, new Replayer(replayStub, tracer))
      try Some((phase(spark, wl, cfg.seconds / 2.0, Some(tr)), tr))
      finally {
        replayStub.stop()
        spark.sparkContext.removeSparkListener(ledger)
      }
    }
    val fAfter = floors(spark)
    log(f"floor_1stage_ms before=${fBefore._1}%.2f after=${fAfter._1}%.2f; " +
      f"floor_2stage_ms before=${fBefore._2}%.2f after=${fAfter._2}%.2f")
    val floor1 = (fBefore._1 + fAfter._1) / 2
    val floor2 = (fBefore._2 + fAfter._2) / 2

    val layerMetrics = traced match {
      case None => Nil
      case Some((b, tr)) =>
        val overhead = Seq(
          "query_p50_ms" -> (Stats.median(b.queryMs) - Stats.median(plain.queryMs)),
          "queries_per_s" -> (b.ops / b.programWallS - plain.ops / plain.programWallS))
        overhead.foreach { case (k, v) => log(f"trace overhead $k = $v%+.4f (traced minus untraced)") }
        val pl = perLayer(plain, b, tr, floor1, floor2)
        pl.foreach { case (k, (v, u)) => log(f"layer $k = $v%.4f $u") }
        TraceArtifact.write(cfg, wl, tr.tracer, tr.ledger, pl, overhead, b, floor1, floor2)
        pl
    }
    val phases = plain +: traced.map(_._1).toSeq
    val problem = phases.flatMap(wl.verifyPhase).headOption
    wl.close()
    Measured(plain, traced.map(_._1), setupS, problem, layerMetrics)
  }

  final case class Traced(tracer: Tracer, ledger: SparkLedger, layers: Layers, replay: Replayer)

  def endToEnd(p: PhaseStats, setupS: Seq[Double], heapMb: Double): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (Stats.median(setupS), "s"),
    "query_p50_ms" -> (p.hostWall(Stats.median(p.queryMs)), "ms"),
    "queries_per_s" -> (p.ops / p.hostWall(p.programWallS), "1/s"),
    "cpu_ms_per_op" -> (p.programCpuMs * p.hostFactor / math.max(1L, p.ops), "ms"),
    "heap_live_mb" -> (heapMb, "MB"))

  /** Printed, not in the result: `scan_rows_per_s` is `bulk_scan`'s headline
    * but varies with the query mix elsewhere, and the insert metrics exist
    * on `ingest_tail` only.
    */
  def workloadOnly(p: PhaseStats): Seq[(String, (Double, String))] =
    Seq("scan_rows_per_s" -> (p.scanRows / p.programWallS, "rows/s")) ++
    (if (p.insertMs.isEmpty) Nil
    else Seq(
      "insert_rows_per_s" -> (p.insertRows / p.programWallS, "rows/s"),
      "insert_p50_ms" -> (Stats.median(p.insertMs), "ms")))

  /** Tail latencies, printed at p95 when the sample has at least ten ops
    * above it, and otherwise at the highest percentile it supports, under
    * that percentile's own name and with the count.
    */
  def tails(p: PhaseStats): Seq[String] =
    Seq("query" -> p.queryMs, "insert" -> p.insertMs).filter(_._2.nonEmpty).map { case (what, xs) =>
      val k = math.min(95, Stats.supportedPct(xs.size))
      if (k == 0) s"metric ${what}_tail_ms: none supported (${xs.size} ops, need more than 10)"
      else f"metric ${what}_p${k}_ms = ${Stats.pct(xs, k.toDouble)}%.4f ms (${xs.size} ops" +
        (if (k < 95) s"; p95 needs 200)" else ")")
    }

  /** Next op index per client stream: a client's ops continue across
    * phases, so no op (an insert batch above all) is ever issued twice.
    */
  private val nextK = new ConcurrentHashMap[Int, AtomicLong]()

  /** One measured phase: `clients` closed-loop threads until the deadline. */
  def phase(spark: SparkSession, wl: Workload, seconds: Double, traced: Option[Traced],
      clientBase: Int = 0, clients: Int = -1): PhaseStats = {
    val nClients = if (clients > 0) clients else wl.clients
    val st = new PhaseStats
    val tracer = traced.map(_.tracer).getOrElse(new Tracer(false))
    val execSpans = new ConcurrentHashMap[Long, java.lang.Long]()
    val lock = new ReentrantReadWriteLock()
    val opIds = new AtomicLong(0)
    val replayHits = new AtomicLong(0)
    val replayReqs = new AtomicLong(0)
    val replayServe = new AtomicLong(0)
    val opsByShape = new ConcurrentHashMap[Long, String]()
    val stub0 = (LokiStubServer.reqs.get, LokiStubServer.cacheHits.get, LokiStubServer.serveNs.get)
    val cpu0 = cpuNs
    val steal0 = HostSteal.read()
    val gc0 = gcMs
    val t0 = System.nanoTime()
    st.startNs = t0
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until nClients).map { c =>
      new Thread(() => {
        val ks = nextK.computeIfAbsent(clientBase + c, _ => new AtomicLong(0L))
        var k = ks.get
        while (System.nanoTime() < deadline) {
          val spec = wl.op(clientBase + c, k)
          val id = opIds.incrementAndGet()
          if (traced.isDefined) spark.sparkContext.setLocalProperty(SparkLedger.OpKey, id.toString)
          val ctx = new OpCtx(spark, id, tracer, execSpans)
          lock.readLock().lock()
          val out =
            try wl.run(spec, ctx)
            catch {
              case e: Throwable => Outcome(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400), 0L)
            } finally lock.readLock().unlock()
          spark.sparkContext.setLocalProperty(SparkLedger.OpKey, null)
          val facts = ctx.bench(out.plans.map(PlanFacts.of))
          opsByShape.put(id, spec.shape)
          traced.foreach { tr =>
            lock.writeLock().lock()
            try {
              val before = (LokiStubServer.reqs.get, LokiStubServer.cacheHits.get, LokiStubServer.serveNs.get)
              layerFacts(spark, wl, id, out, facts, tr)
              replayReqs.addAndGet(LokiStubServer.reqs.get - before._1)
              replayHits.addAndGet(LokiStubServer.cacheHits.get - before._2)
              replayServe.addAndGet(LokiStubServer.serveNs.get - before._3)
            } finally lock.writeLock().unlock()
          }
          ctx.bench(wl.stub.foreach(StubLogs.clear))
          st.probeNs += ctx.bench(HostSpeed.sample())
          st.record(spec.shape, out, facts.map(_.scanRows).sum, ctx.bench)
          k += 1
          ks.set(k)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    st.wallS = (System.nanoTime() - t0) / 1e9
    st.stealShare = HostSteal.share(steal0, HostSteal.read())
    st.cpuMs = (cpuNs - cpu0) / 1e6
    st.clients = nClients
    st.gcMs = (gcMs - gc0).toDouble
    st.stubReqs = LokiStubServer.reqs.get - stub0._1 - replayReqs.get
    st.stubHits = LokiStubServer.cacheHits.get - stub0._2 - replayHits.get
    st.stubServeMs = (LokiStubServer.serveNs.get - stub0._3 - replayServe.get) / 1e6
    traced.foreach { tr =>
      org.apache.spark.graft.ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext, 10000)
      // listener stage spans, parented to the op's execute span
      opsByShape.keySet().asScala.foreach { op =>
        val parent = Option(execSpans.get(op)).map(_.longValue).getOrElse(0L)
        tr.ledger.stagesOf(op).foreach(s =>
          tr.tracer.addWall(s"stage ${s.stageId}", op, parent, s.submitMs, s.doneMs))
      }
      st.opShapes = opsByShape.asScala.map { case (k, v) => k.longValue -> v }.toMap
    }
    st
  }

  /** Per-op plan facts and replays for the traced run (caller holds the
    * exclusive lock, so replays see no concurrent op).
    */
  private def layerFacts(spark: SparkSession, wl: Workload, op: Long, out: Outcome,
      facts: Seq[PlanFacts], tr: Traced): Unit = {
    val L = tr.layers
    val log = wl.stub.map(StubLogs.ranges).getOrElse(Nil)
    val pushes = wl.stub.map(StubLogs.pushes).getOrElse(Nil)
    facts.foreach { f =>
      L.add("LokiScan.rows", f.scanRows.toDouble)
      L.add("LokiScan.useful_rows", f.usefulRows.toDouble)
      L.add("LokiMetricScan.samples", f.metricSamples.toDouble)
      if (f.residual) L.add("plan.residual_plans", 1)
      tr.replay.scans(op, f, log, L)
    }
    if (facts.exists(_.residual)) L.add("plan.residual_ops", 1)
    // metric-rule candidates: an aggregate the rule answered server-side,
    // or one left over a Loki row scan
    val aggOverScan = out.plans.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.BaseAggregateExec])) && facts.exists(_.lokiScans.nonEmpty)
    if (aggOverScan || facts.exists(_.metricScans.nonEmpty)) {
      L.add("LokiMetricAggRule.candidates", 1)
      if (facts.exists(_.metricScans.nonEmpty)) L.add("LokiMetricAggRule.rewritten", 1)
    }
    if (out.written.nonEmpty) {
      L.add("LokiWrite.push_requests", pushes.size.toDouble)
      L.add("LokiWrite.push_bytes", pushes.map(_.getBytes("UTF-8").length.toLong).sum.toDouble)
      L.add("LokiWrite.rows", out.written.size.toDouble)
      tr.replay.writes(op, out.written, spark.sparkContext.defaultParallelism, pushes, L)
    }
  }

  def perLayer(a: PhaseStats, b: PhaseStats, tr: Traced,
      floor1: Double, floor2: Double): Seq[(String, (Double, String))] = {
    val ledger = tr.ledger
    val L = tr.layers
    val ops = math.max(1L, b.attempted).toDouble
    val spans = tr.tracer.all
    val opIds = b.opShapes.keys.toSeq
    val stages = opIds.map(ledger.stagesOf)
    val jobs = opIds.map(ledger.jobsOf).sum.toDouble
    val nStages = stages.map(_.size).sum.toDouble
    val floorMs = jobs * floor1 + math.max(0.0, nStages - jobs) * math.max(0.0, floor2 - floor1)
    def per(k: String) = L.get(k) / ops
    def ratio(n: Double, d: Double, empty: Double) = if (d == 0) empty else n / d
    Seq(
      "plan.ms_per_op" -> (spans.filter(_.name == "plan").map(_.durNs).sum / 1e6 / ops, "ms"),
      "plan.residual_ops_ratio" -> (L.get("plan.residual_ops") / ops, "ratio"),
      "LokiMetricAggRule.rewritten_ratio" ->
        (ratio(L.get("LokiMetricAggRule.rewritten"), L.get("LokiMetricAggRule.candidates"), 0.0), "ratio"),
      "spark.jobs_per_op" -> (jobs / ops, "count"),
      "spark.stages_per_op" -> (nStages / ops, "count"),
      "spark.tasks_per_op" -> (stages.flatten.map(_.tasks).sum / ops, "count"),
      "spark.floor_ms_per_op" -> (floorMs / ops, "ms"),
      "spark.task_ms_per_op" -> (stages.flatten.map(_.runMs).sum / ops, "ms"),
      "spark.task_cpu_ms_per_op" -> (stages.flatten.map(_.cpuNs).sum / 1e6 / ops, "ms"),
      "spark.shuffle_bytes_per_op" -> (stages.flatten.map(_.shuffleWriteB).sum / ops, "bytes"),
      "LokiScan.partitions_per_op" -> (per("LokiScan.partitions"), "count"),
      "LokiScan.rows_per_op" -> (per("LokiScan.rows"), "rows"),
      "LokiScan.read_ms_per_op" -> (per("LokiScan.read_ms"), "ms"),
      "LokiScan.decode_ms_per_op" ->
        (math.max(0.0, per("LokiScan.read_ms") - per("LokiHttp.query_range_ms")), "ms"),
      "LokiScan.useful_rows_ratio" ->
        (ratio(L.get("LokiScan.useful_rows"), L.get("LokiScan.rows"), 1.0), "ratio"),
      "LokiHttp.requests_per_op" -> (per("LokiHttp.requests"), "count"),
      "LokiHttp.bytes_per_op" -> (per("LokiHttp.bytes"), "bytes"),
      "LokiHttp.query_range_ms_per_op" -> (per("LokiHttp.query_range_ms"), "ms"),
      "LokiHttp.push_ms_per_op" -> (per("LokiHttp.push_ms"), "ms"),
      "LokiWrite.push_requests_per_op" -> (per("LokiWrite.push_requests"), "count"),
      "LokiWrite.push_bytes_per_row" ->
        (ratio(L.get("LokiWrite.push_bytes"), L.get("LokiWrite.rows"), 0.0), "bytes"),
      "LokiWrite.encode_ms_per_op" -> (per("LokiWrite.encode_ms"), "ms"),
      "LokiMetricScan.samples_per_op" -> (per("LokiMetricScan.samples"), "count"),
      "stub.requests_per_op" -> (b.stubReqs / ops, "count"),
      "stub.serve_ms_per_op" -> (b.stubServeMs / ops, "ms"),
      "stub.cache_hit_ratio" -> (ratio(b.stubHits.toDouble, b.stubReqs.toDouble, 1.0), "ratio"),
      // GC is read over the untraced half: replays would inflate it
      "jvm.gc_ms_per_op" -> (a.gcMs / math.max(1L, a.attempted), "ms"),
      "trace.overhead_p50_ms" -> (Stats.median(b.queryMs) - Stats.median(a.queryMs), "ms"))
  }
}
