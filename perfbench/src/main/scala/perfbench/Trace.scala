package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. Times are ns since the run's origin; spans of one
  * op share `op`; `parent` is 0 for an op's root span.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. When disabled it records nothing and hands
  * out span id 0, so untraced code paths run the same calls.
  */
final class Tracer(val enabled: Boolean) {
  val originNs: Long = System.nanoTime()
  val originWallMs: Long = System.currentTimeMillis()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def now: Long = System.nanoTime() - originNs

  def span[A](name: String, op: Long, parent: Long)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val s = now
      try body(id)
      finally { spans.add(Span(id, parent, op, name, s, now)); () }
    }

  /** A span measured elsewhere (listener stages: epoch-ms clock). */
  def addWall(name: String, op: Long, parent: Long, startMs: Long, endMs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), parent, op, name,
        (startMs - originWallMs) * 1000000L, (endMs - originWallMs) * 1000000L))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))
}

object Tracer {
  /** Self time of every span: its duration minus the part of its interval
    * that its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spark scheduler ledger from a listener: jobs and stages attributed to
  * ops through the `perfbench.op` local property the client thread sets.
  */
final class SparkLedger extends SparkListener {
  import SparkLedger.StageRec

  private val jobs = mutable.Map.empty[Long, Int]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  private def opOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SparkLedger.OpKey)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    if (op != 0) jobs(op) = jobs.getOrElse(op, 0) + 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = opOf(e.properties)
    if (op != 0) stageOp(e.stageInfo.stageId) = op
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOp.remove(si.stageId).foreach { op =>
      val m = si.taskMetrics
      stages += StageRec(op, si.stageId, si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def jobsOf(op: Long): Int = synchronized(jobs.getOrElse(op, 0))
  def stagesOf(op: Long): Seq[StageRec] = synchronized(stages.filter(_.op == op).toSeq)
}

object SparkLedger {
  val OpKey = "perfbench.op"

  final case class StageRec(op: Long, stageId: Int, tasks: Int, submitMs: Long,
      doneMs: Long, runMs: Long, cpuNs: Long, shuffleWriteB: Long)
}

/** The traced run's artifact: every span, self time per span name, the
  * per-op layer ledger (jobs, stages, task ms, scheduler floor ms) and the
  * per-layer metrics, written when the run ends.
  */
object TraceArtifact {
  def write(cfg: Config, wl: Workload, tracer: Tracer, ledger: SparkLedger,
      perLayer: Seq[(String, (Double, String))], overhead: Seq[(String, Double)],
      traced: PhaseStats, floor1: Double, floor2: Double): Unit = {
    val spans = tracer.all
    val self = Tracer.selfTimes(spans)
    val byName = spans.groupBy(s => if (s.name.startsWith("stage ")) "stage" else s.name)
      .toSeq.sortBy(_._1).map { case (n, ss) =>
        n -> Json.obj(Seq("count" -> ss.size.toString,
          "total_ms" -> Json.num(ss.map(_.durNs).sum / 1e6),
          "self_ms" -> Json.num(ss.map(s => self(s.id)).sum / 1e6)))
      }
    val opSpan = spans.filter(_.name == "op").map(s => s.op -> s).toMap
    val rows = traced.opShapes.toSeq.sortBy(_._1).map { case (op, shape) =>
      val st = ledger.stagesOf(op)
      val jobs = ledger.jobsOf(op)
      val floorMs = jobs * floor1 + math.max(0, st.size - jobs) * math.max(0.0, floor2 - floor1)
      Json.obj(Seq(
        "op" -> op.toString, "shape" -> Json.str(shape),
        "wall_ms" -> Json.num(opSpan.get(op).map(_.durNs / 1e6).getOrElse(Double.NaN)),
        "jobs" -> jobs.toString, "stages" -> st.size.toString,
        "tasks" -> st.map(_.tasks).sum.toString,
        "task_ms" -> st.map(_.runMs).sum.toString,
        "floor_ms" -> Json.num(floorMs),
        "shuffle_bytes" -> st.map(_.shuffleWriteB).sum.toString))
    }
    val spanJson = spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
      "name" -> Json.str(s.name), "start_us" -> (s.startNs / 1000).toString,
      "end_us" -> (s.endNs / 1000).toString, "self_us" -> (self(s.id) / 1000).toString)))
    val doc = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> cfg.seed.toString,
      "settings" -> Json.obj(wl.settings.map { case (k, v) => k -> Json.str(v) }),
      "floor_1stage_ms" -> Json.num(floor1), "floor_2stage_ms" -> Json.num(floor2),
      "tracing_overhead" -> Json.obj(overhead.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(perLayer.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "span_summary" -> Json.obj(byName),
      "ledger" -> rows.mkString("[\n", ",\n", "\n]"),
      "spans" -> spanJson.mkString("[\n", ",\n", "\n]")))
    val path = java.nio.file.Paths.get(cfg.work, s"trace-${wl.name}-seed${cfg.seed}.json")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, doc)
    System.out.println(s"trace written: ${spans.size} spans, ${rows.size} ledger rows -> " +
      s"${cfg.work.split('/').takeRight(2).mkString("/")}/${path.getFileName}")
  }
}
