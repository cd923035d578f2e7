package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.sources.loki.testkit.LokiStubServer

/** `bulk_scan`: one closed-loop client running unbounded 24 h scans under
  * an aggregation, against a table configured like a real Loki deployment
  * (5,000-entry server caps, paged reads, 4 partitions). The ops cycle
  * through 8 seeded windows; the warm-up encodes each window's pages once
  * so the stub answers from its response cache while the connector's cost
  * is measured.
  */
final class BulkScan(spark: SparkSession, seed: Long) extends Workload {
  import BulkScan._

  val name = "bulk_scan"
  val clients = 1
  private val fx = new LokiFixture(spark, seed, Dashboard.Entries, Cap,
    Map("server_max_entries" -> Cap.toString, "query_limit" -> Cap.toString,
      "partitions" -> Partitions.toString), "bulk")
  def stub: Option[LokiStubServer] = Option(fx.stub)

  val windows: Vector[Window] = BulkScan.windows(seed)

  def setup(rep: Int): Unit = fx.setup(rep)

  def settings: Seq[(String, String)] =
    Seq("corpus.entries" -> Dashboard.Entries.toString,
      "table.options" -> s"server_max_entries=$Cap,query_limit=$Cap,partitions=$Partitions",
      "windows" -> windows.size.toString) ++ StubLogs.describe(fx.stub)

  def op(client: Int, k: Long): OpSpec = windows((k % windows.size).toInt)

  def warmup(ctx: OpCtx): Unit = {
    fx.byApp
    windows.foreach(w => run(w, ctx))
  }

  override def warmSeconds: Double = 4.0

  private val expected = new Memo[Window, Set[(String, Long, Long)]](w =>
    fx.window(w.t0, w.t1)
      .filter(e => Envs(e.labels("env")))
      .map(e => (e, e.line.codePointCount(0, e.line.length)))
      .filter(_._2 > w.minChars)
      .toSeq.groupBy(_._1.labels("level"))
      .map { case (l, es) => (l, es.size.toLong, es.map(_._2.toLong).sum) }.toSet)

  def run(o: OpSpec, ctx: OpCtx): Outcome = {
    val w = o.asInstanceOf[Window]
    val t0 = System.nanoTime()
    val (rows, plan) = ctx.op(ctx.query(spark.sql(w.sql(fx.catalog))))
    val ns = System.nanoTime() - t0
    val bad = ctx.bench(Check.sameMultiset(
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq, expected(w).toSeq))
    Outcome(bad.isEmpty, bad.getOrElse(""), ns, plans = Seq(plan))
  }

  /** Every measured request must be a stub cache hit: a fixture change
    * must not silently move `scan_rows_per_s`.
    */
  override def verifyPhase(p: PhaseStats): Option[String] =
    if (p.stubReqs > 0 && p.stubHits < p.stubReqs)
      Some(f"stub.cache_hit_ratio ${p.stubHits.toDouble / p.stubReqs}%.4f < 1.0 " +
        s"(${p.stubHits}/${p.stubReqs}) during measurement")
    else None

  def close(): Unit = fx.close()
}

object BulkScan {
  val Cap = 5000
  val Partitions = 4
  val Windows = 6
  val Envs = Set("prod", "staging")

  final case class Window(t0: Long, minChars: Int) extends OpSpec {
    val shape = "scan24h"
    def t1: Long = t0 + Corpus.DayNs
    def sql(cat: String): String =
      s"""SELECT labels['level'] AS level, count(*) AS n, sum(length(line)) AS chars
         |FROM $cat.default.loki
         |WHERE labels['env'] RLIKE '^(prod|staging)$$' AND length(line) > $minChars
         |  AND timestamp >= ${Sql.ts(t0)} AND timestamp < ${Sql.ts(t1)}
         |GROUP BY 1""".stripMargin
  }

  def windows(seed: Long): Vector[Window] = {
    val r = new SplittableRandom(seed ^ 0xB01CL)
    val hours = (Corpus.Days - 1) * 24
    Vector.fill(Windows)(Window(Corpus.T0Ns + r.nextInt(hours + 1) * Corpus.HourNs,
      110 + r.nextInt(30)))
  }
}
