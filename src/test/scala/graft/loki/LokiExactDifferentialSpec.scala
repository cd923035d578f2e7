package graft.loki

import scala.reflect.runtime.universe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sources.loki.{LogQL, LokiScan}
import graft.sources.loki.testkit.LokiStubServer

/** The scan half of the Exact contract, as a differential: every WHERE
  * predicate runs twice against one stub — once as planned, with
  * [[graft.plans.LokiPushdownRule]] capturing what [[LogQL.translate]]
  * accepts, and once with the Loki rules excluded from the optimizer, so
  * the scan reads the table's whole default window and Spark evaluates
  * every conjunct itself. The two must return the same rows, and a
  * conjunct the translator accepts must leave no residual behind (the
  * absent-label matchers excepted: they are pushed and kept).
  *
  * The corpus is generated from one seed (set `-Dgraft.exact.seed=N` to
  * replay; failures print it): non-ASCII lines, JSON and logfmt bodies
  * with duplicate keys and nulls, label values with a quote, a backslash
  * or a newline, bursts of rows at one nanosecond, and rows one
  * nanosecond either side of the timestamp bounds, and words whose RE2
  * case fold differs from Spark's lowercasing (`ſ`, `İ`, `µ`) or agrees
  * with it off ASCII (the Kelvin sign), and rows labelled only `team`,
  * without the table's `default_label` (`app`): the unfiltered table does
  * not read them, so no pushed matcher may return them either.
  */
class LokiExactDifferentialSpec extends SparkTestBase
    with BeforeAndAfterAll with PredicateHelper {

  private val seed =
    sys.props.get("graft.exact.seed").map(_.toLong).getOrElse(20261019L)
  private val stub = new LokiStubServer
  private val view = "loki_exact_diff"

  private val hourNs = 3600L * 1000000000L
  // inside the default now − 30 d window, µs-aligned, in the past
  private val baseNs = (System.currentTimeMillis() / 1000L - 4 * 3600L) * 1000000000L
  // the bound every timestamp form is tried at: a µs with rows on its
  // first ns, one ns before and one ns after it, and on its last ns
  private val anchorUs = baseNs / 1000L + 3600L * 1000000L + 123L
  private val anchorNs = anchorUs * 1000L

  private val hardValues = Seq("core", "we\"b", "C:\\tmp", "multi\nline", "naïve")

  private def corpus(rnd: scala.util.Random): Seq[(Long, Map[String, String], String)] = {
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val words = Seq("error", "warn", "info", "timeout", "größe", "日本語",
      "🚀 launch", "naïve", "Crème", "tab\there", "cr\rlf", "10.0.3.7",
      "192.168.1.20", "ÜBER", "ok", "ſtop", "İstanbul", "µs", "\u212Aelvin")
    def line(): String = rnd.nextInt(5) match {
      case 0 =>
        val lvl = pick(Seq("\"error\"", "\"info\"", "null", "\"warn\""))
        val dup = if (rnd.nextBoolean()) ""","level":"dup"""" else ""
        s"""{"level":$lvl,"code":${pick(Seq(200, 404, 500))},"msg":"${pick(words)}"$dup}"""
      case 1 =>
        s"level=${pick(Seq("error", "info", "warn"))} code=${pick(Seq(200, 404, 500))} " +
          s"""msg="${pick(words)}""""
      case _ => Seq.fill(1 + rnd.nextInt(3))(pick(words)).mkString(" ")
    }
    def labels(): Map[String, String] =
      Map("app" -> pick(Seq("api", "web", "db"))) ++
        (if (rnd.nextInt(4) > 0) Map("team" -> pick(hardValues)) else Map.empty) ++
        (if (rnd.nextBoolean()) Map("env" -> pick(Seq("prod", "dev"))) else Map.empty)
    val spread = Seq.fill(240)(baseNs + (rnd.nextDouble() * 2 * hourNs).toLong)
    val bursts = Seq.fill(6)(baseNs + (rnd.nextDouble() * 2 * hourNs).toLong)
      .flatMap(ns => Seq.fill(3 + rnd.nextInt(4))(ns))
    val edges = Seq(anchorNs - 1, anchorNs, anchorNs + 1, anchorNs + 999,
      anchorNs + 1000).flatMap(ns => Seq(ns, ns))
    val rows = (spread ++ bursts ++ edges).map(ns => (ns, labels(), line()))
    val teamOnly = hardValues.flatMap(v => Seq.fill(3)(
      (baseNs + (rnd.nextDouble() * 2 * hourNs).toLong, Map("team" -> v), line())))
    rows ++ teamOnly
  }

  override def beforeAll(): Unit = {
    stub.start()
    stub.seed(corpus(new scala.util.Random(seed)).map { case (ns, l, s) =>
      stub.LogRow(ns, l, s)
    })
    spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
      .load().createOrReplaceTempView(view)
  }

  override def afterAll(): Unit = stub.stop()

  /** A SQL string literal holding exactly `v`. */
  private def lit(v: String): String =
    "'" + v.flatMap {
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    } + "'"

  /** A Java regex matching exactly `v`. */
  private def re(v: String): String =
    v.flatMap(c => if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString)

  private val lokiRules = Seq("LokiPushdownRule", "LokiMetricAggRule",
    "LokiMetricTopKRule", "LokiDeleteRule").map("graft.plans." + _).mkString(",")

  private def residualOnly[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, lokiRules)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def query(pred: String): DataFrame =
    spark.sql(s"SELECT timestamp, labels, line FROM $view WHERE $pred")

  /** The Filter conjuncts above the scan, and the scan. */
  private def planned(plan: LogicalPlan): (Seq[Expression], LokiScan) = {
    val scan = plan.collectFirst { case r: DataSourceV2ScanRelation => r.scan }
      .get.asInstanceOf[LokiScan]
    val residual = plan.collectFirst {
      case Filter(c, _: DataSourceV2ScanRelation) => splitConjunctivePredicates(c)
    }.getOrElse(Nil)
    (residual, scan)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      val ls = r.getMap[String, String](1).toSeq.sorted
      s"${r.getTimestamp(0).toInstant}|$ls|${r.getString(2)}"
    }.sorted

  /** The conjuncts' translations, from the plan that kept them all. */
  private def translations(pred: String): Seq[Option[LogQL.Pushed]] = {
    val (conjuncts, _) = residualOnly(planned(query(pred).queryExecution.optimizedPlan))
    conjuncts.map(LogQL.translate(_, pushParsers = true))
  }

  /** `pushes`: some conjunct of each predicate translates; otherwise none
    * may.
    */
  private def differential(
      preds: Seq[String], pushes: Boolean = true): Unit = preds.foreach { pred =>
    withClue(s"seed=$seed predicate=[$pred]: ") {
      val (all, baseScan) =
        residualOnly(planned(query(pred).queryExecution.optimizedPlan))
      // the oracle plan pushed nothing: whole default window, default matcher
      assert(baseScan.logql == """{app=~".+"}""" &&
        baseScan.startNs.isEmpty && baseScan.endNs.isEmpty, baseScan.logql)
      val pieces = all.map(LogQL.translate(_, pushParsers = true))
      assert(pieces.exists(_.isDefined) == pushes,
        if (pushes) "nothing in it translates" else s"it translates: $pieces")
      val expectedResidual = pieces.count {
        case None => true
        case Some(m: LogQL.LabelMatcher) => LogQL.matchesAbsentLabel(m)
        case Some(_) => false
      }
      val (residual, _) = planned(query(pred).queryExecution.optimizedPlan)
      assert(residual.size == expectedResidual, residual)
      val want = residualOnly(rows(query(pred)))
      val got = rows(query(pred))
      val (extra, missing) = (got.diff(want), want.diff(got))
      assert(extra.isEmpty && missing.isEmpty,
        s"extra rows $extra; missing rows $missing")
    }
  }

  private val ts = Seq(
    ">" -> false, ">=" -> false, "<" -> false, "<=" -> false,
    ">" -> true, ">=" -> true, "<" -> true, "<=" -> true)
  private val tsPreds: Seq[String] =
    (for {
      us <- Seq(anchorUs - 1, anchorUs, anchorUs + 1)
      (op, flipped) <- ts
    } yield
      if (flipped) s"timestamp_micros($us) $op timestamp"
      else s"timestamp $op timestamp_micros($us)") ++ Seq(
      "timestamp <= TIMESTAMP '9999-12-31 23:59:59'",
      s"timestamp >= timestamp_micros(${anchorUs - 60000000L}) AND " +
        s"timestamp >= timestamp_micros(${anchorUs - 1}) AND " +
        s"timestamp <= timestamp_micros($anchorUs)")

  private val labelPreds: Seq[String] =
    Seq("labels['app'] = 'api'", "'web' = labels['app']",
      "labels['app'] != 'api'", "labels['app'] RLIKE '^(api|db)$'",
      "labels['app'] NOT RLIKE 'we'", "labels['env'] = ''",
      "labels['env'] RLIKE 'p.*'", "labels['env'] NOT RLIKE 'prod'",
      "element_at(labels, 'env') = 'dev'") ++
      hardValues.flatMap { v =>
        Seq(s"labels['team'] = ${lit(v)}", s"labels['team'] != ${lit(v)}",
          s"labels['team'] RLIKE ${lit(re(v))}",
          s"labels['team'] NOT RLIKE ${lit(re(v))}")
      }

  private val linePreds: Seq[String] = Seq(
    "line LIKE '%error%'", "line NOT LIKE '%error%'", "line LIKE '%日本%'",
    "line ILIKE '%ERROR%'", "line NOT ILIKE '%warn%'",
    "line RLIKE 'code=5[0-9]+'", "line NOT RLIKE 'lf$'", "line RLIKE 'cr.lf'",
    "contains(line, 'größe')", "lower(line) LIKE '%ok%'",
    "loki_pattern_match(line, 'level=<_> code=<_> <_>')",
    "NOT loki_pattern_match(line, 'level=<_> code=<_> <_>')",
    "loki_line_ip(line, '10.0.0.0/8')", "NOT loki_line_ip(line, '192.168.1.0/24')")

  /** Case-insensitive line filters that Spark and RE2 fold differently:
    * each stays a residual.
    */
  private val foldResidual: Seq[String] = Seq(
    "line ILIKE '%s%'", "line NOT ILIKE '%STOP%'", "line ILIKE '%ſ%'",
    "line ILIKE '%I%'", "line NOT ILIKE '%stan%'", "lower(line) LIKE '%i%'",
    "lower(line) LIKE '%s%'", "line ILIKE '%µ%'", "lower(line) LIKE '%µs%'",
    "line ILIKE '%ÜBER%'", "line NOT ILIKE '%crème%'", "lower(line) LIKE '%naïve%'")

  /** Ones over `k`, which both fold alike (the Kelvin sign included):
    * they push.
    */
  private val foldPushed: Seq[String] =
    Seq("line ILIKE '%K%'", "lower(line) LIKE '%kelv%'", "line NOT ILIKE '%k%'")

  private val parsedPreds: Seq[String] = Seq(
    "logfmt_get(line, 'level') = 'error'", "logfmt_get(line, 'level') != 'error'",
    "logfmt_get(line, 'code') RLIKE '^(404|500)$'",
    "logfmt_get(line, 'msg') NOT RLIKE 'ok'",
    "loki_json_get(line, 'level') = 'error'", "loki_json_get(line, 'level') != 'info'",
    "loki_json_get(line, 'msg') RLIKE 'é'",
    "get_json_object(line, '$.level') = 'error'",
    "get_json_object(line, '$.code') = '500'",
    "loki_regexp_get(line, 'code=(?<c>[0-9]+)', 'c') = '404'")

  private val combined: Seq[String] = Seq(
    s"labels['app'] = 'api' AND line LIKE '%error%' AND " +
      s"timestamp >= timestamp_micros($anchorUs)",
    s"labels['team'] != ${lit("we\"b")} AND logfmt_get(line, 'level') = 'warn' " +
      s"AND timestamp < timestamp_micros(${anchorUs + 1})",
    "loki_json_get(line, 'level') = 'error' AND length(line) > 40")

  test("timestamp bounds: all 8 forms at, and 1 ns around, a row's ns") {
    differential(tsPreds)
  }

  test("label matchers: =, !=, =~, !~ over quotes, backslashes and newlines") {
    differential(labelPreds)
  }

  test("line filters: LIKE, ILIKE, regex, contains, pattern and ip forms") {
    differential(linePreds)
  }

  test("ILIKE and lower(line) push only where Spark and RE2 fold case alike") {
    differential(foldResidual, pushes = false)
    differential(foldPushed)
  }

  test("parsed predicates: logfmt, json and regexp stages") {
    differential(parsedPreds)
  }

  test("conjunctions mix pushed pieces with a residual") {
    differential(combined)
  }

  test("every case of the translator's output is generated") {
    def leaves(s: universe.ClassSymbol): Set[String] =
      if (s.isTrait) s.knownDirectSubclasses.map(_.asClass).flatMap(leaves)
      else Set(s.name.toString)
    val all = leaves(universe.typeOf[LogQL.Pushed].typeSymbol.asClass)
    assert(all.size >= 5, all)
    val seen = (tsPreds ++ labelPreds ++ linePreds ++ parsedPreds ++ combined)
      .flatMap(translations).flatten.map(_.getClass.getSimpleName).toSet
    assert(all -- seen == Set.empty, s"never generated: ${all -- seen}")
  }
}
