package graft.loki

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sources.loki.testkit.LokiStubServer

/** Parser-stage pushdown end to end (round 15): predicates over
  * `get_json_object` / `logfmt_get` / `loki_json_get` become pushed
  * `| json` / `| logfmt` stages + label filters on the wire, the plan
  * discloses them, rejected shapes stay host residuals, and — the
  * strongest check — every pushed query returns EXACTLY the rows the
  * same query computes with `push_parsers=false` (host evaluation over
  * a full scan), on a corpus salted with the adversarial shapes the
  * exactness contract is about (missing keys, empty values, json null,
  * malformed lines, stream-label collisions).
  */
class LokiParserPushdownSpec extends SparkTestBase with BeforeAndAfterAll {

  private val stub = new LokiStubServer
  private val base = 1704067200000000000L // 2024-01-01T00:00:00Z

  override def beforeAll(): Unit = {
    stub.start()
    val jsonLines = Seq(
      """{"level":"error","msg":"boom","code":500}""",
      """{"level":"error","msg":"kaput","code":502}""",
      """{"level":"info","msg":"ok","code":200}""",
      """{"level":"","msg":"empty level"}""",
      """{"level":null,"msg":"null level"}""",
      """{"msg":"no level at all"}""",
      """not json at all""",
      """{"level":"error","broken": }""",
      """{"nested":{"level":"error"},"level":"info"}""",
      // a json field named like a STREAM label: the explicit-expression
      // push reads the FIELD via its gp<N> target, never the stream label
      """{"app":"spoof","level":"error"}""")
    val logfmtLines = Seq(
      "level=error msg=boom code=500",
      "level=error msg=kaput code=502",
      "level=info msg=ok code=200",
      "level= msg=empty",
      "msg=\"no level\"",
      "level=\"quoted error\" msg=q",
      "garbage without pairs",
      "level=\"unterminated msg=x",
      "level=error level=info msg=dup")
    stub.seed(
      jsonLines.zipWithIndex.map { case (l, i) =>
        stub.LogRow(base + i * 60L * 1000000000L, Map("app" -> "json"), l)
      } ++ logfmtLines.zipWithIndex.map { case (l, i) =>
        stub.LogRow(base + (100 + i) * 60L * 1000000000L, Map("app" -> "lf"), l)
      })
  }

  override def afterAll(): Unit = stub.stop()

  private def df(pushParsers: Boolean = true): DataFrame =
    spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
      .option("push_parsers", pushParsers.toString)
      .load()

  private def lines(d: DataFrame): Seq[String] =
    d.select("line").collect().map(_.getString(0)).toSeq.sorted

  /** The differential: pushed ≡ host-evaluated on the same stub. Also
    * returns the pushed plan text for wire pins.
    */
  private def differential(build: DataFrame => DataFrame): String = {
    val pushed = build(df())
    val host = build(df(pushParsers = false))
    val hostPlan = host.queryExecution.executedPlan.toString
    assert(!hostPlan.contains("| json") && !hostPlan.contains("| logfmt"),
      s"push_parsers=false must keep the host residual:\n$hostPlan")
    assert(lines(pushed) == lines(host),
      s"pushed rows diverge from host evaluation")
    pushed.queryExecution.executedPlan.toString
  }

  test("get_json_object equality pushes as | json gp0 stage; rows exact") {
    val plan = differential(_.filter(
      get_json_object(col("line"), "$.level") === "error"))
    assert(plan.contains("""| json gp0="level" | gp0="error""""), plan)
    // the filter is Exact: no host-side re-filter remains
    assert(!plan.contains("get_json_object"), plan)
  }

  test("nested get_json_object path pushes dotted") {
    val plan = differential(_.filter(
      get_json_object(col("line"), "$.nested.level") === "error"))
    assert(plan.contains("""| json gp0="nested.level" | gp0="error""""), plan)
  }

  test("logfmt_get =, != (missing-guarded), =~ and !~ push; rows exact") {
    val eq = differential(_.filter(
      graft.functions.GraftFunctions.logfmt_get(col("line"), lit("level"))
        === "error"))
    assert(eq.contains("""| logfmt gp0="level" | gp0="error""""), eq)
    val ne = differential(_.filter(
      graft.functions.GraftFunctions.logfmt_get(col("line"), lit("level"))
        =!= "error"))
    assert(ne.contains("""| logfmt gp0="level" | gp0!="" | gp0!="error""""), ne)
    val re = differential(_.filter(
      graft.functions.GraftFunctions.logfmt_get(col("line"), lit("level"))
        .rlike("err")))
    assert(re.contains("""| logfmt gp0="level" | gp0=~"""), re)
    val nre = differential(_.filter(
      !graft.functions.GraftFunctions.logfmt_get(col("line"), lit("level"))
        .rlike("err")))
    assert(nre.contains("""| gp0!="" | gp0!~"""), nre)
  }

  test("loki_json_get carries the full op surface") {
    val eq = differential(_.filter(
      graft.functions.GraftFunctions.loki_json_get(col("line"), lit("level"))
        === "error"))
    assert(eq.contains("""| json gp0="level" | gp0="error""""), eq)
    val ne = differential(_.filter(
      graft.functions.GraftFunctions.loki_json_get(col("line"), lit("msg"))
        =!= "boom"))
    assert(ne.contains("""| json gp0="msg" | gp0!="" | gp0!="boom""""), ne)
  }

  test("SQL idiom composes with label matchers and line filters") {
    df().createOrReplaceTempView("parser_push_probe")
    val d = spark.sql(
      """SELECT line FROM parser_push_probe
        |WHERE labels['app'] = 'json'
        |  AND line LIKE '%level%'
        |  AND get_json_object(line, '$.level') = 'error'""".stripMargin)
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("""{app="json"}"""), plan)
    assert(plan.contains("""|= `level` | json gp0="level" | gp0="error""""), plan)
    val host = df(pushParsers = false)
      .filter(element_at(col("labels"), "app") === "json" &&
        col("line").like("%level%") &&
        get_json_object(col("line"), "$.level") === "error")
    assert(lines(d) == lines(host))
  }

  test("untranslatable shapes keep their residual (fallback contract)") {
    def residual(b: DataFrame => DataFrame): Unit = {
      val plan = b(df()).queryExecution.executedPlan.toString
      assert(!plan.contains("| json") && !plan.contains("| logfmt"),
        s"expected host residual, got pushed stage:\n$plan")
    }
    // empty comparison literal: wire `| x=""` keeps missing/empty rows
    // SQL's NULL semantics drop
    residual(_.filter(get_json_object(col("line"), "$.level") === ""))
    // composite-looking and null-sentinel literals
    residual(_.filter(get_json_object(col("line"), "$.level") === "{\"a\":1}"))
    residual(_.filter(get_json_object(col("line"), "$.level") === "null"))
    // float-looking literal (Spark re-renders float json numbers)
    residual(_.filter(get_json_object(col("line"), "$.code") === "1.5"))
    // get_json_object != : Spark's '' result for an empty json string
    // diverges from the label model — only the graft accessors carry !=
    residual(_.filter(get_json_object(col("line"), "$.level") =!= "error"))
    // array-index / bracket paths
    residual(_.filter(get_json_object(col("line"), "$.a[0]") === "x"))
    // regex matching the empty string would keep missing rows
    residual(_.filter(
      graft.functions.GraftFunctions.logfmt_get(col("line"), lit("level"))
        .rlike("err|")))
    // key outside the label grammar
    residual(_.filter(
      graft.functions.GraftFunctions.logfmt_get(col("line"), lit("le vel"))
        === "x"))
    // push_parsers=false disables the whole channel
    val off = df(pushParsers = false)
      .filter(get_json_object(col("line"), "$.level") === "error")
    assert(!off.queryExecution.executedPlan.toString.contains("| json"))
  }

  test("integer comparison literals stay pushable (canonicalized)") {
    val plan = differential(_.filter(
      get_json_object(col("line"), "$.code") === "500"))
    assert(plan.contains("""| json gp0="code" | gp0="500""""), plan)
  }

  test("pattern accessor pushes with renamed/anonymized captures") {
    // `<t> value=<v>`: the pushed template renames the filtered capture
    // to gp0 and anonymizes the rest — `| pattern "<_> value=<gp0>"`
    val eq = differential(_.filter(
      graft.functions.GraftFunctions.loki_pattern_get(
        col("line"), lit("<t> value=<v>"), lit("v")) === "6.55"))
    assert(eq.contains("""| pattern "<_> value=<gp0>" | gp0="6.55""""), eq)
    val re = differential(_.filter(
      graft.functions.GraftFunctions.loki_pattern_get(
        col("line"), lit("<t> value=<v>"), lit("t")).rlike("err")))
    assert(re.contains("""| pattern "<gp0> value=<_>" | gp0=~"""), re)
    // fallback: invalid templates / absent fields / '<' in a literal
    def residual(b: DataFrame => DataFrame): Unit = {
      val plan = b(df()).queryExecution.executedPlan.toString
      assert(!plan.contains("| pattern"), s"expected residual:\n$plan")
    }
    residual(_.filter(graft.functions.GraftFunctions.loki_pattern_get(
      col("line"), lit("no captures"), lit("v")) === "x"))
    residual(_.filter(graft.functions.GraftFunctions.loki_pattern_get(
      col("line"), lit("<a><b>"), lit("a")) === "x"))
    residual(_.filter(graft.functions.GraftFunctions.loki_pattern_get(
      col("line"), lit("<t> value=<v>"), lit("zz")) === "x"))
    residual(_.filter(graft.functions.GraftFunctions.loki_pattern_get(
      col("line"), lit("a<b <v>"), lit("v")) === "x"))
  }

  test("regexp accessor pushes with renamed/anonymized named groups") {
    // round 16, the fourth parser: the target named group renames into
    // the reserved gp<N> namespace (RE2 spelling), every other named
    // group anonymizes to (?:…)
    val eq = differential(_.filter(
      graft.functions.GraftFunctions.loki_regexp_get(
        col("line"), lit("code=(?<code>[0-9]+)"), lit("code")) === "500"))
    assert(eq.contains("""| regexp "code=(?P<gp0>[0-9]+)" | gp0="500""""), eq)
    val re = differential(_.filter(
      graft.functions.GraftFunctions.loki_regexp_get(
        col("line"), lit("level=(?<lv>[a-z]+) (?<rest>[a-z=]+)"), lit("lv"))
        .rlike("^err")))
    assert(re.contains("""| regexp "level=(?P<gp0>[a-z]+) (?:[a-z=]+)" | gp0=~"""),
      re)
    // fallbacks: backrefs / lookaround / boundary / duplicate names /
    // absent target keep the host residual
    def residual(b: DataFrame => DataFrame): Unit = {
      val plan = b(df()).queryExecution.executedPlan.toString
      assert(!plan.contains("| regexp"), s"expected residual:\n$plan")
    }
    def rx(pat: String, grp: String): DataFrame => DataFrame =
      _.filter(graft.functions.GraftFunctions.loki_regexp_get(
        col("line"), lit(pat), lit(grp)) === "x")
    residual(rx("(?<a>x)\\k<a>", "a"))      // named backref
    residual(rx("(?=x)(?<a>y)", "a"))       // lookahead
    residual(rx("(?<=x)(?<a>y)", "a"))      // lookbehind
    residual(rx("(?<a>x)(?<a>y)", "a"))     // duplicate name (Java error)
    residual(rx("(?<a>x)", "b"))            // absent target group
    residual(rx("\\b(?<a>x)", "a"))         // divergent boundary
  }

  test("metric rewrite groups on a regexp-extracted label and unwraps it") {
    val d = df()
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(graft.functions.GraftFunctions.loki_regexp_get(
        col("line"), lit("level=(?<lv>[a-z]+)"), lit("lv")).as("lv"))
      .agg(count(lit(1)).as("cnt"),
        max(graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.loki_regexp_get(
            col("line"), lit("code=(?<c>[0-9]+)"), lit("c")))).as("max_code"))
      .orderBy("lv")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("LokiMetricScan") &&
      plan.contains("""| regexp "level=(?P<gp0>[a-z]+)"""") &&
      plan.contains("""| regexp "code=(?P<gp1>[0-9]+)" | gp1!=""""") &&
      plan.contains("| unwrap gp1 | __error__=\"\""), plan)
    val host = df(pushParsers = false)
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(graft.functions.GraftFunctions.loki_regexp_get(
        col("line"), lit("level=(?<lv>[a-z]+)"), lit("lv")).as("lv"))
      .agg(count(lit(1)).as("cnt"),
        max(graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.loki_regexp_get(
            col("line"), lit("code=(?<c>[0-9]+)"), lit("c")))).as("max_code"))
      .orderBy("lv")
    def rows(x: DataFrame) = x.collect().map(r =>
      (r.getString(0), r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(rows(d).toSeq == rows(host).toSeq, s"got=${rows(d).toSeq}")
  }

  test("metric rewrite groups on a pattern-extracted label") {
    val d = df()
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(graft.functions.GraftFunctions.loki_pattern_get(
        col("line"), lit("<t> value=<v>"), lit("t")).as("t"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("t")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("LokiMetricScan") &&
      plan.contains("""sum by (gp0) (count_over_time(""") &&
      plan.contains("""| pattern "<gp0> value=<_>""""), plan)
    val host = df(pushParsers = false)
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(graft.functions.GraftFunctions.loki_pattern_get(
        col("line"), lit("<t> value=<v>"), lit("t")).as("t"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("t")
    assert(d.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      host.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("metric rewrite groups on a parsed label via sum by (gp0)") {
    val d = df()
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(graft.functions.GraftFunctions
        .logfmt_get(col("line"), lit("level")).as("level"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("level")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("LokiMetricScan") &&
      plan.contains("""sum by (gp0) (count_over_time(""") &&
      plan.contains("""| logfmt gp0="level""""), plan)
    // host truth: group the full scan the same way
    val host = df(pushParsers = false)
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(graft.functions.GraftFunctions
        .logfmt_get(col("line"), lit("level")).as("level"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("level")
    assert(d.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      host.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    // grouping on get_json_object is NOT pushable ('' vs absent): falls
    // back to the scan, still correct
    val gjo = df()
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(get_json_object(col("line"), "$.level").as("level"))
      .agg(count(lit(1)).as("cnt"))
    assert(!gjo.queryExecution.executedPlan.toString.contains("LokiMetricScan"))
  }

  test("metric rewrite consumes parsed FILTER predicates too") {
    val d = df()
      .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp") &&
        get_json_object(col("line"), "$.level") === "error")
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("app")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("LokiMetricScan") &&
      plan.contains("""| json gp0="level" | gp0="error""""), plan)
    assert(d.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("json", 3L)))
  }

  test("unwrap over loki_json_get keeps every line the host reads") {
    // lines Spark's json reader accepts and a strict parser rejects (a
    // raw tab, single quotes, bytes after the root `}`): the explicit
    // `| json gp0="d"` stage must not mark them `__error__`, or the
    // unwrap render's `| __error__=""` drops samples the host counts
    val own = new LokiStubServer
    own.start()
    try {
      own.seed(Seq(
        "{\"x\":\"a\tb\",\"d\":\"5\"}",
        "{'d':'7'}",
        """{"d":"9"} trailing""",
        """{"d":null,"d":"4"}""",
        """{"d":"2"}""",
        """{"d":"x"}""",
        """{"d":"3","broken": }""",
        "not json").zipWithIndex.map { case (l, i) =>
        own.LogRow(base + i * 60L * 1000000000L, Map("app" -> "json"), l)
      })
      def acc = graft.functions.GraftFunctions.loki_unwrap(
        graft.functions.GraftFunctions.loki_json_get(col("line"), lit("d")))
      def q(push: Boolean) = spark.read.format("loki")
        .option("endpoint", own.endpoint)
        .option("default_label", "app")
        .option("push_metric", push.toString)
        .option("push_parsers", push.toString)
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
        .groupBy(element_at(col("labels"), "app").as("app"))
        .agg(avg(acc), min(acc), max(acc), sum(acc))
      val pushed = q(push = true)
      val plan = pushed.queryExecution.executedPlan.toString
      assert(plan.contains("LokiMetricScan") &&
        plan.contains("""| json gp0="d" | gp0!="" | unwrap gp0 | __error__="""""),
        plan)
      def rows(d: DataFrame) = d.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4))).toSeq
      val host = rows(q(push = false))
      assert(host == Seq(("json", 5.4, 2.0, 9.0, 27.0)))
      val got = rows(pushed)
      assert(got.map(_.copy(_2 = 0.0)) == host.map(_.copy(_2 = 0.0)) &&
        math.abs(got.head._2 - host.head._2) < 1e-9, s"got=$got")
    } finally own.stop()
  }
}
