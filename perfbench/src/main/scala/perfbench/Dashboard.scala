package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.loki.testkit.LokiStubServer

/** Log store shared by the read workloads: a seeded corpus in a stub
  * seeded directly (Loki's injected labels are part of the corpus), plus
  * a per-app ts-sorted index the oracles answer from.
  */
final class LokiFixture(spark: SparkSession, seed: Long, entries: Int,
    serverCap: Int, tableOptions: Map[String, String], prefix: String) {
  var stub: LokiStubServer = _
  var catalog: String = _
  private var corpus: Array[Entry] = _
  private var reseed: () => Unit = () => ()

  /** Put the stub back to the seeded corpus: drop every pushed entry. */
  def reset(): Unit = reseed()

  def setup(rep: Int): Unit = {
    close()
    corpus = Corpus.generate(seed, entries)
    val s = new LokiStubServer
    s.start()
    StubLogs.pin(s, serverCap)
    val base = StubLogs.toRows(s, corpus)
    s.seed(base)
    reseed = () => { s.clear(); s.seed(base) }
    // a fresh catalog name per fixture: Spark keeps a catalog plugin (and
    // the endpoint it was initialised with) for the session's lifetime
    val cat = s"${prefix}_$rep"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.endpoint", s.endpoint)
    tableOptions.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.$cat.$k", v) }
    stub = s
    catalog = cat
  }

  /** Per-app entries sorted by ts, built once after set-up (oracle work). */
  lazy val byApp: Map[String, Array[Entry]] =
    corpus.groupBy(_.app).view.mapValues(_.sortBy(_.tsNs)).toMap

  /** The app's entries with ts in [t0, t1). */
  def window(app: String, t0: Long, t1: Long): Array[Entry] = {
    val es = byApp.getOrElse(app, Array.empty[Entry])
    es.slice(lowerBound(es, t0), lowerBound(es, t1))
  }

  /** All entries with ts in [t0, t1), any app. */
  def window(t0: Long, t1: Long): Iterator[Entry] =
    byApp.valuesIterator.flatMap(es => es.slice(lowerBound(es, t0), lowerBound(es, t1)))

  private def lowerBound(es: Array[Entry], t: Long): Int = {
    var lo = 0
    var hi = es.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (es(m).tsNs < t) lo = m + 1 else hi = m
    }
    lo
  }

  /** Stop the stub and drop the corpus, so a full GC before the next
    * set-up finds them garbage.
    */
  def close(): Unit = {
    if (stub != null) {
      stub.stop()
      stub.clear()
      stub = null
    }
    corpus = null
    reseed = () => ()
  }
}

object LogRows {
  def triple(r: Row): (Long, Map[String, String], String) =
    (Check.ts(r.get(0)), Check.labels(r.get(1)), r.getString(2))
  def triple(e: Entry): (Long, Map[String, String], String) = (e.tsUs, e.labels, e.line)
}

/** `dashboard`: two closed-loop clients refreshing dashboard panels over
  * 1,000,000 entries. Queries come from a seeded pool of ~200 with Zipf
  * popularity, in three shapes: log browser, metric panel, parsed-field
  * filter.
  */
final class Dashboard(spark: SparkSession, seed: Long) extends Workload {
  import Dashboard._

  val name = "dashboard"
  val clients = 1
  private val fx = new LokiFixture(spark, seed, Entries, 0, Map.empty, "dash")
  def stub: Option[LokiStubServer] = Option(fx.stub)

  val pool: Vector[Q] = Dashboard.pool(seed)
  private val popularity = Corpus.zipfCdf(pool.size)

  def setup(rep: Int): Unit = fx.setup(rep)

  def settings: Seq[(String, String)] =
    Seq("corpus.entries" -> Entries.toString, "pool.size" -> pool.size.toString,
      "table.options" -> "(defaults)") ++ StubLogs.describe(fx.stub)

  /** The sequence of pool positions is the same for every seed, so every
    * seed repeats the same queries as often (and hits the same caches); the
    * seed decides what the queries at those positions are.
    */
  def op(client: Int, k: Long): OpSpec = {
    val r = new SplittableRandom(OpStreamSeed + client * 7919L + k)
    pool(Corpus.sample(popularity, r.nextDouble()))
  }

  /** The JIT needs tens of seconds of this load before an op's cost
    * settles, so the untimed phase runs on every core.
    */
  override def warmSeconds: Double = 12.0
  override def warmClients: Int = Runtime.getRuntime.availableProcessors

  def warmup(ctx: OpCtx): Unit = {
    fx.byApp
    // every shape once, so class loading and codegen are done
    Seq("browser", "metric", "parsed").foreach { sh =>
      pool.filter(_.shape == sh).take(1).foreach(q => run(q, ctx))
    }
  }

  private val expected = new Memo[Q, Seq[Any]](q => q match {
    case b: Browser =>
      fx.window(b.app, b.t0, b.t1).filter(_.line.contains(b.token)).map(LogRows.triple).toSeq
    case m: Metric =>
      fx.window(m.app, m.t0, m.t1).toSeq
        .groupBy(e => (Math.floorDiv(e.tsUs, Corpus.HourNs / 1000) * (Corpus.HourNs / 1000),
          e.labels("level")))
        .map { case ((b, l), es) => (b, l, es.size.toLong) }.toSeq
    case p: Parsed =>
      fx.window(p.app, p.t0, p.t1).filter(_.status == p.status).map(LogRows.triple).toSeq
  })

  def run(o: OpSpec, ctx: OpCtx): Outcome = {
    val q = o.asInstanceOf[Q]
    val sql = q.sql(fx.catalog)
    val t0 = System.nanoTime()
    val (rows, plan) = ctx.op(ctx.query(spark.sql(sql)))
    val ns = System.nanoTime() - t0
    val bad = ctx.bench(check(q, rows))
    Outcome(bad.isEmpty, bad.getOrElse(""), ns, plans = Seq(plan))
  }

  private def check(q: Q, rows: Array[Row]): Option[String] = {
    val exp = expected(q)
    q match {
      case _: Browser =>
        Check.topN(rows.map(LogRows.triple).toSeq,
          exp.asInstanceOf[Seq[(Long, Map[String, String], String)]], BrowserLimit)
      case _: Metric =>
        Check.sameMultiset(
          rows.map(r => (Check.ts(r.get(0)), r.getString(1), r.getLong(2))).toSeq, exp)
      case _: Parsed =>
        Check.sameMultiset(rows.map(LogRows.triple).toSeq, exp)
    }
  }

  def close(): Unit = fx.close()
}

object Dashboard {
  val Entries = 1000000
  val PoolSize = 200
  val BrowserLimit = 100
  /** Fixed seed of the op streams' popularity draws (not a run input). */
  private val OpStreamSeed = 0xDA5B0A2DL * 1000003L

  sealed trait Q extends OpSpec { def sql(cat: String): String }

  private def where(app: String, t0: Long, t1: Long) =
    s"labels['app'] = ${Sql.str(app)} AND timestamp >= ${Sql.ts(t0)} AND timestamp < ${Sql.ts(t1)}"

  /** Log browser: selector + LIKE line filter + 1 h window, newest 100. */
  final case class Browser(app: String, token: String, t0: Long) extends Q {
    val shape = "browser"
    def t1: Long = t0 + Corpus.HourNs
    def sql(cat: String): String =
      s"""SELECT timestamp, labels, line FROM $cat.default.loki
         |WHERE ${where(app, t0, t1)} AND line LIKE ${Sql.str("%" + token + "%")}
         |ORDER BY timestamp DESC LIMIT $BrowserLimit""".stripMargin
  }

  /** Metric panel: hourly counts per level over a 6 h window. */
  final case class Metric(app: String, t0: Long) extends Q {
    val shape = "metric"
    def t1: Long = t0 + 6 * Corpus.HourNs
    def sql(cat: String): String =
      s"""SELECT date_trunc('hour', timestamp) AS bucket, labels['level'] AS level,
         |       count(*) AS n
         |FROM $cat.default.loki WHERE ${where(app, t0, t1)}
         |GROUP BY 1, 2""".stripMargin
  }

  /** Parsed-field filter: status equality through the app's line format. */
  final case class Parsed(app: String, status: Int, t0: Long) extends Q {
    val shape = "parsed"
    def t1: Long = t0 + Corpus.HourNs
    def sql(cat: String): String = {
      val field =
        if (Corpus.isJson(app)) "get_json_object(line, '$.status')"
        else "logfmt_get(line, 'status')"
      s"""SELECT timestamp, labels, line FROM $cat.default.loki
         |WHERE ${where(app, t0, t1)} AND $field = '$status'""".stripMargin
    }
  }

  /** The pool's structure (shape, target app slot, line token, status
    * by position) is the same for every seed, so its cost profile is too;
    * the seed picks the windows and, through the app slots, the names.
    */
  def pool(seed: Long): Vector[Q] = {
    val r = new SplittableRandom(seed ^ 0xDA5B0A2DL)
    val slots = Corpus.appSlots(seed)
    val fixed = new SplittableRandom(0x5107L)
    val hours = Corpus.Days * 24
    def app = slots(fixed.nextInt(slots.size))
    def hour(span: Int) = Corpus.T0Ns + r.nextInt(hours - span + 1) * Corpus.HourNs
    Vector.tabulate(PoolSize) { i =>
      (i % 3) match {
        case 0 => Browser(app, Corpus.Tokens(fixed.nextInt(Corpus.Tokens.size)), hour(1))
        case 1 => Metric(app, hour(6))
        case _ => Parsed(app, Vector(500, 503, 404, 429, 201)(fixed.nextInt(5)), hour(1))
      }
    }
  }
}
