package graft.loki

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.loki.LogQL

/** Case-table tests for the three expression→LogQL translators — the part
  * of the reference with the densest branching (src/expr.rs). Mirrors its
  * whitelist exactly: what it accepts we accept, what it rejects we reject.
  */
class LogQLSpec extends AnyFunSuite {

  private val labels = AttributeReference("labels",
    MapType(StringType, StringType, valueContainsNull = false), nullable = false)()
  private val line = AttributeReference("line", StringType, nullable = false)()
  private val ts = AttributeReference("timestamp", TimestampType, nullable = false)()

  private def s(v: String) = Literal(UTF8String.fromString(v), StringType)
  private def key(k: String) = GetMapValue(labels, s(k))
  private def tsLit(us: Long) = Literal(us, TimestampType)

  test("label matchers: =, !=, =~, !~ (expr.rs:11-47)") {
    assert(LogQL.labelMatcher(EqualTo(key("app"), s("x"))).map(_.render)
      .contains("""app="x""""))
    assert(LogQL.labelMatcher(EqualTo(s("x"), key("app"))).map(_.render)
      .contains("""app="x"""")) // literal on either side
    assert(LogQL.labelMatcher(Not(EqualTo(key("app"), s("x")))).map(_.render)
      .contains("""app!="x""""))
    // full-match matcher wrapped to find semantics (Spark rlike ≡ find);
    // round 14: the user dot translates to the explicit Java-dot class
    // (RE2's dot admits \r etc.) and the wrapper carries its own (?s)
    // so it can cross newlines under real RE2 (no blanket dotall)
    assert(LogQL.labelMatcher(RLike(key("app"), s("a.*"))).map(_.render)
      .contains("""app=~"(?s).*(?:a[^\n\r\x{85}\x{2028}\x{2029}]*).*""""))
    assert(LogQL.labelMatcher(Not(RLike(key("app"), s("a.*")))).map(_.render)
      .contains("""app!~"(?s).*(?:a[^\n\r\x{85}\x{2028}\x{2029}]*).*""""))
  }

  test("label matcher: NULL literal treated as empty string (expr.rs:34-35)") {
    assert(LogQL.labelMatcher(EqualTo(key("app"), Literal(null, StringType)))
      .map(_.render).contains("app=\"\""))
  }

  test("label matcher rejects non-label shapes") {
    assert(LogQL.labelMatcher(EqualTo(line, s("x"))).isEmpty)
    assert(LogQL.labelMatcher(GreaterThan(key("app"), s("x"))).isEmpty)
  }

  test("line filters: the LIKE whitelist is %x% with no underscore (expr.rs:98)") {
    def like(p: String) = Like(line, s(p), '\\')
    assert(LogQL.lineFilter(like("%bbb%")).map(_.render).contains("|= `bbb`"))
    assert(LogQL.lineFilter(Not(like("%bbb%"))).map(_.render).contains("!= `bbb`"))
    assert(LogQL.lineFilter(like("bbb%")).isEmpty,  "prefix pattern not pushable")
    assert(LogQL.lineFilter(like("%b_b%")).isEmpty, "underscore wildcard not pushable")
    assert(LogQL.lineFilter(like("%b%b%")).isEmpty, "inner % not pushable")
  }

  test("line filters: ILIKE → (?i) regex; regex ops (expr.rs:63-80,100-105)") {
    assert(LogQL.lineFilter(ILike(line, s("%ERR%"), '\\')).map(_.render)
      .contains("|~ `(?i)ERR`"))
    assert(LogQL.lineFilter(Not(ILike(line, s("%ERR%"), '\\'))).map(_.render)
      .contains("!~ `(?i)ERR`"))
    // regex metachars in the LIKE literal are escaped before embedding
    assert(LogQL.lineFilter(ILike(line, s("%a.b%"), '\\')).map(_.render)
      .contains("|~ `(?i)a\\.b`"))
    assert(LogQL.lineFilter(RLike(line, s("a{3}"))).map(_.render)
      .contains("|~ `a{3}`"))
    assert(LogQL.lineFilter(Not(RLike(line, s("a{3}")))).map(_.render)
      .contains("!~ `a{3}`"))
    // post-LikeSimplification shapes
    assert(LogQL.lineFilter(Contains(line, s("x"))).map(_.render)
      .contains("|= `x`"))
    assert(LogQL.lineFilter(Contains(Lower(line), s("x"))).map(_.render)
      .contains("|~ `(?i)x`"))
  }

  test("line filter guard: expression must reference the line column (expr.rs:50-57)") {
    val other = AttributeReference("other", StringType, nullable = false)()
    assert(LogQL.lineFilter(Contains(other, s("x"))).isEmpty)
  }

  test("timestamp bounds flip with literal on the left (expr.rs:129-147)") {
    import LogQL.{End, Start}
    // [start, end) window: strict > excludes the boundary ns (+1), <= includes it
    assert(LogQL.timestampBound(GreaterThan(ts, tsLit(5L))).contains(Start(5001L)))
    assert(LogQL.timestampBound(GreaterThanOrEqual(ts, tsLit(5L))).contains(Start(5000L)))
    assert(LogQL.timestampBound(LessThan(ts, tsLit(5L))).contains(End(5000L)))
    assert(LogQL.timestampBound(LessThanOrEqual(ts, tsLit(5L))).contains(End(5001L)))
    assert(LogQL.timestampBound(GreaterThan(tsLit(5L), ts)).contains(End(5000L)))
    assert(LogQL.timestampBound(LessThan(tsLit(5L), ts)).contains(Start(5001L)))
    // '=' unsupported, like the reference
    assert(LogQL.timestampBound(EqualTo(ts, tsLit(5L))).isEmpty)
  }

  test("round-9 soundness guards: escapes, case, RE2 dialect, ns overflow") {
    import LogQL.{End, Start}
    // a LIKE pattern containing its escape char is NOT pushed: the raw
    // pattern text would ship the escape sequence verbatim (silent row
    // loss under the Exact claim) — it stays a residual Filter
    assert(LogQL.lineFilter(Like(line, s("%a\\\\b%"), '\\')).isEmpty)
    assert(LogQL.lineFilter(Like(line, s("%a!!b%"), '!')).isEmpty)
    assert(LogQL.lineFilter(ILike(line, s("%a\\\\b%"), '\\')).isEmpty)
    // lower(line) CONTAINS an uppercase literal is vacuously false in
    // SQL; pushing (?i) would RETURN rows — only lowercase literals push
    assert(LogQL.lineFilter(Contains(Lower(line), s("ERROR"))).isEmpty)
    assert(LogQL.lineFilter(Contains(Lower(line), s("error"))).isDefined)
    // Java-only regex constructs (lookaround, backrefs, possessive) are
    // rejected by Loki's RE2 at runtime — they stay residual
    assert(LogQL.lineFilter(RLike(line, s("(?!debug).*err"))).isEmpty)
    assert(LogQL.lineFilter(RLike(line, s("(a)\\1"))).isEmpty)
    assert(LogQL.lineFilter(RLike(line, s("a*+b"))).isEmpty)
    assert(LogQL.labelMatcher(RLike(key("app"), s("(?=x)y"))).isEmpty)
    assert(LogQL.lineFilter(RLike(line, s("a{3}"))).isDefined, "RE2-valid stays pushable")
    // ns overflow saturates instead of wrapping: TIMESTAMP '9999-12-31'
    // (µs ≈ 2.53e17) must clamp to the int64-ns horizon, not go negative
    val farFuture = 253402300799000000L // 9999-12-31T23:59:59 in µs
    assert(LogQL.timestampBound(LessThanOrEqual(ts, tsLit(farFuture)))
      .contains(End(Long.MaxValue)))
    assert(LogQL.timestampBound(GreaterThan(ts, tsLit(farFuture)))
      .contains(Start(Long.MaxValue)))
    // DSv2-side conversion saturates identically
    val inst = java.time.Instant.parse("9999-12-31T23:59:59Z")
    LogQL.fromSourceFilter(
      org.apache.spark.sql.sources.LessThanOrEqual("timestamp", inst)) match {
      case Some(scala.Right(End(ns))) => assert(ns == Long.MaxValue)
      case other => fail(s"expected saturated End bound, got $other")
    }
  }

  test("LokiOptions.from(toMap) is the identity — overlay round-trip drift guard") {
    // the per-read overlay works by re-parsing toMap ++ overrides; a new
    // LokiOptions field whose toMap rendering is forgotten would be
    // silently RESET to its default on every per-read override. Pin the
    // round trip on a fully non-default instance.
    import graft.sources.loki.LokiOptions
    val full = LokiOptions.from(Map(
      "endpoint" -> "http://x:3100/", "default_label" -> "app",
      "partitions" -> "7", "push_batch_size" -> "1234",
      "escape_logql" -> "true", "check_connection" -> "false",
      "strict_bounds" -> "false", "split" -> "stats",
      "stats_budget_ms" -> "999", "stats_probe_parallelism" -> "3",
      "query_limit" -> "77", "server_max_entries" -> "88",
      "push_count" -> "true", "push_metric" -> "false",
      "push_parsers" -> "false",
      "report_statistics" -> "true",
      "group_streams" -> "true",
      "structured_metadata" -> "true",
      "stream_start_ns" -> "123", "stream_end_ns" -> "456",
      "stream_lag_ms" -> "11", "max_rows_per_batch" -> "500",
      "max_bytes_per_batch" -> "65536", "min_rows_per_batch" -> "32",
      "min_batch_delay_ms" -> "12345",
      "selector" -> """{app="x"} |= "err"""", "direction" -> "backward"))
    assert(LokiOptions.from(full.toMap) == full,
      s"round trip drifted:\n${LokiOptions.from(full.toMap)}\nvs\n$full")
    // every case-class field must be representable: the field count is
    // pinned so adding a field forces this test (and toMap) to be updated
    assert(full.productArity == 27,
      "LokiOptions gained/lost a field — update toMap AND this round trip")
    // direction is validated at option time
    assertThrows[IllegalArgumentException](
      LokiOptions.from(Map("endpoint" -> "http://x:3100", "direction" -> "sideways")))
  }

  test("repeated ts conjuncts: tightest-wins default vs last-wins parity (table.rs:106-110)") {
    import org.apache.spark.sql.{sources => sf}
    import graft.sources.loki.{LokiOptions, LokiScan, LokiScanBuilder, LokiTable}
    def scanWith(strict: Boolean): LokiScan = {
      val b = new LokiScanBuilder(LokiTable(LokiOptions.from(Map(
        "endpoint" -> "http://x", "default_label" -> "app",
        "check_connection" -> "false", "strict_bounds" -> strict.toString))))
      b.pushFilters(Array[sf.Filter](
        sf.GreaterThanOrEqual("timestamp", java.time.Instant.ofEpochSecond(200)),
        sf.GreaterThanOrEqual("timestamp", java.time.Instant.ofEpochSecond(100)),
        sf.LessThan("timestamp", java.time.Instant.ofEpochSecond(300)),
        sf.LessThan("timestamp", java.time.Instant.ofEpochSecond(400))))
      b.build().asInstanceOf[LokiScan]
    }
    // default: every conjunct honored — the WINDOW is the intersection
    val strict = scanWith(strict = true)
    assert(strict.startNs.contains(200L * 1000000000L))
    assert(strict.endNs.contains(300L * 1000000000L))
    // strict_bounds=false is reference parity: the LAST bound of each kind
    // wins (table.rs:106-110), silently WIDENING the window to
    // [100s, 400s) — rows the 200s/300s conjuncts excluded come back even
    // though the filters were claimed Exact. That is the reference's
    // behavior, reproduced only behind the flag.
    val parity = scanWith(strict = false)
    assert(parity.startNs.contains(100L * 1000000000L))
    assert(parity.endNs.contains(400L * 1000000000L))
  }

  test("assemble matches the reference selector shape (table.rs:124-128)") {
    val q = LogQL.assemble(
      Seq(LogQL.LabelMatcher("app", "=", "x"), LogQL.LabelMatcher("env", "=~", "p.*")),
      Seq(LogQL.LineFilter("|=", "y"), LogQL.LineFilter("!~", "z")))
    assert(q == """{app="x", env=~"p.*"} |= `y` !~ `z`""")
    assert(LogQL.assemble(Seq(LogQL.defaultMatcher("app")), Nil) == """{app=~".+"}""")
  }

  test("escape_logql: raw by default (parity), safe behind the flag (§7.4(d))") {
    val m = LogQL.LabelMatcher("app", "=", """va"lue""")
    assert(m.render == """app="va"lue"""")                // raw: broken, like the reference
    assert(m.render(escape = true) == """app="va\"lue"""")
    val lf = LogQL.LineFilter("|=", "has`tick")
    assert(lf.render == "|= `has`tick`")                  // raw: broken, like the reference
    assert(lf.render(escape = true) == """|= "has`tick"""")
    assert(LogQL.assemble(Seq(m), Seq(lf), escape = true) ==
      """{app="va\"lue"} |= "has`tick"""")
  }

  test("parseSelector: matchers, all four ops, line stages, both string forms") {
    val (ms, ls) = LogQL.parseSelector(
      """{app="api", env!="dev", pod=~"web-.*", zone!~`us-(east|west)`} |= "error" != "noise" |~ `\d{3}` !~ "debug"""")
    assert(ms == Seq(
      LogQL.LabelMatcher("app", "=", "api"),
      LogQL.LabelMatcher("env", "!=", "dev"),
      LogQL.LabelMatcher("pod", "=~", "web-.*"),
      LogQL.LabelMatcher("zone", "!~", "us-(east|west)")))
    assert(ls == Seq(
      LogQL.PLine(LogQL.LineFilter("|=", "error")),
      LogQL.PLine(LogQL.LineFilter("!=", "noise")),
      LogQL.PLine(LogQL.LineFilter("|~", "\\d{3}")),
      LogQL.PLine(LogQL.LineFilter("!~", "debug"))))
    // round trip through the raw renderer (backtick regex re-renders
    // backticked, quoted values re-render quoted — same query semantics)
    assert(LogQL.assemble(ms, ls.collect { case LogQL.PLine(f) => f }) ==
      """{app="api", env!="dev", pod=~"web-.*", zone!~"us-(east|west)"} |= `error` != `noise` |~ `\d{3}` !~ `debug`""")
  }

  test("parseSelector: Go escapes decode; unknown escapes keep their backslash") {
    val (ms, _) = LogQL.parseSelector("""{a="q\"b", b="back\\slash", c="tab\there", d=~"re\d+"}""")
    assert(ms(0).value == "q\"b")
    assert(ms(1).value == "back\\slash")
    assert(ms(2).value == "tab\there")
    assert(ms(3).value == "re\\d+") // \d is regex, not a Go escape — kept
  }

  test("parseSelector: empty selector and whitespace tolerance") {
    assert(LogQL.parseSelector("{}") == ((Nil, Nil)))
    assert(LogQL.parseSelector("""  { app = "x" }  |=  "y"  """) ==
      ((Seq(LogQL.LabelMatcher("app", "=", "x")),
        Seq(LogQL.PLine(LogQL.LineFilter("|=", "y"))))))
  }

  test("selector option re-renders ESCAPED regardless of escape_logql (round-13 review fix)") {
    // the option is parsed (escape-decoded) at load; a raw re-render of a
    // value that needed escaping would ship a malformed wire query while
    // "validated at option time" still claimed success
    import graft.sources.loki.{LokiOptions, LokiScan, LokiTable}
    val opts = LokiOptions.from(Map(
      "endpoint" -> "http://127.0.0.1:1", "check_connection" -> "false",
      "selector" -> """{msg="say \"hi\""} |= "tick`mark""""))
    val scan = LokiTable(opts)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
      .build().asInstanceOf[LokiScan]
    assert(scan.logql == """{msg="say \"hi\""} |= "tick`mark"""", scan.logql)
    assert(scan.selector == """{msg="say \"hi\""}""")
    // the wire query re-parses to exactly the pieces the user stated
    val (ms, ls) = LogQL.parseSelector(scan.logql)
    assert(ms == Seq(LogQL.LabelMatcher("msg", "=", "say \"hi\"")))
    assert(ls == Seq(LogQL.PLine(LogQL.LineFilter("|=", "tick`mark"))))
  }

  test("parseSelector: malformed input fails loudly at parse time") {
    for (bad <- Seq(
      "app=\"x\"",              // no braces
      "{app=\"x\"",             // unterminated selector
      "{app~\"x\"}",            // bad operator
      "{app=\"x}",              // unterminated string
      "{app=\"x\"} |= noquote", // unquoted stage value
      "{app=\"x\"} | \"y\"",    // bad stage op
      "{=\"x\"}"))              // missing label name
      assertThrows[IllegalArgumentException](LogQL.parseSelector(bad))
  }
}
