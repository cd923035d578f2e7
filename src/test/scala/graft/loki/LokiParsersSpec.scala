package graft.loki

import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, Literal}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.loki.LokiParsers

/** Unit pins for the SHARED parser-stage semantics (LokiParsers) — the
  * one implementation behind the host `logfmt_get`/`loki_json_get`
  * expressions, the pushdown translators, and the stub's stage
  * evaluation (round 15). See LokiParsersProps for the get_json_object
  * differential.
  */
class LokiParsersSpec extends AnyFunSuite {

  // ---------------------------------------------------------- logfmt

  test("logfmt: plain, quoted, bare keys, missing, empty, last-wins") {
    assert(LokiParsers.logfmtGet("a=1 b=two", "a") == "1")
    assert(LokiParsers.logfmtGet("a=1 b=two", "b") == "two")
    assert(LokiParsers.logfmtGet("msg=\"hello world\" x=1", "msg") == "hello world")
    assert(LokiParsers.logfmtGet("msg=\"a\\\"b\\\\c\\nd\"", "msg") == "a\"b\\c\nd")
    // bare key: present with empty value — and empty ≡ absent
    assert(LokiParsers.logfmtGet("click value=7", "click") == null)
    assert(LokiParsers.logfmtGet("click value=7", "value") == "7")
    assert(LokiParsers.logfmtGet("a=1", "zz") == null)
    assert(LokiParsers.logfmtGet("a= b=2", "a") == null) // explicit empty
    assert(LokiParsers.logfmtGet("a=1 a=2", "a") == "2") // last wins
  }

  test("logfmt: unterminated quote is a parse error (null + Left)") {
    assert(LokiParsers.logfmtGet("msg=\"oops x=1", "x") == null)
    assert(LokiParsers.logfmtAll("msg=\"oops").isLeft)
    assert(LokiParsers.logfmtAll("k\"ey=1").isLeft) // quote inside a key
  }

  // ------------------------------------------------------------- json

  test("json: scalars keep literal text, strings decode, null/empty absent") {
    assert(LokiParsers.jsonGet("""{"k":"v"}""", "k") == "v")
    assert(LokiParsers.jsonGet("""{"k":1.50}""", "k") == "1.50")
    assert(LokiParsers.jsonGet("""{"k":5e2}""", "k") == "5e2")
    assert(LokiParsers.jsonGet("""{"k":true}""", "k") == "true")
    assert(LokiParsers.jsonGet("""{"k":null}""", "k") == null)
    assert(LokiParsers.jsonGet("""{"k":""}""", "k") == null)
    assert(LokiParsers.jsonGet("""{"k":"a\nbA"}""", "k") == "a\nbA")
    assert(LokiParsers.jsonGet("""{"x":1}""", "k") == null)
    assert(LokiParsers.jsonGet("not json", "k") == null)
  }

  test("json: dotted paths, composites raw, first match, trailing garbage") {
    assert(LokiParsers.jsonGet("""{"a":{"b":"c"}}""", "a.b") == "c")
    assert(LokiParsers.jsonGet("""{"a":{"b":{"c":3}}}""", "a.b.c") == "3")
    // composite value: the raw text slice, verbatim
    assert(LokiParsers.jsonGet("""{"k":{"a": 1}}""", "k") == """{"a": 1}""")
    assert(LokiParsers.jsonGet("""{"k":[1,2]}""", "k") == "[1,2]")
    // path descending into a non-object is absent
    assert(LokiParsers.jsonGet("""{"a":[{"b":1}]}""", "a.b") == null)
    // duplicate keys: first successful full-path capture wins, and ALL
    // occurrences are explored (the probed get_json_object shape)
    assert(LokiParsers.jsonGet("""{"k":"one","k":"two"}""", "k") == "one")
    assert(LokiParsers.jsonGet("""{"a":{"x":1},"a":{"k":"v"}}""", "a.k") == "v")
    // the ROOT object must parse completely; only bytes after its close
    // are ignored
    assert(LokiParsers.jsonGet("""{"k":"v"} trailing""", "k") == "v")
    assert(LokiParsers.jsonGet("""{"k":"v","bad": }""", "k") == null)
    assert(LokiParsers.jsonGet("""{"bad": ,"k":"v"}""", "k") == null)
    assert(LokiParsers.jsonGet("""{"k":"v"""", "k") == null)
    // strict JSON number grammar; integers canonicalize like Jackson
    assert(LokiParsers.jsonGet("""{"k":-0}""", "k") == "0")
    assert(LokiParsers.jsonGet("""{"k":01}""", "k") == null)
    assert(LokiParsers.jsonGet("""{"k":+1}""", "k") == null)
  }

  private def gjo(line: String, path: String): String = {
    val r = GetJsonObject(
      Literal(UTF8String.fromString(line)),
      Literal(UTF8String.fromString("$." + path))).eval(null)
    if (r == null) null else r.toString
  }

  // Inputs where Spark's get_json_object finds a value: a json null on an
  // earlier duplicate key does not end the search, and Spark's reader
  // accepts raw control characters and single-quoted strings. A null
  // here would make the pushed equality filter drop the row.
  Seq(
    ("null on an earlier duplicate key",
      """{"bb":null,"k":"","bb":"w","bb":"null"}""", "bb", "w"),
    ("null on an earlier nested duplicate",
      """{"a":{"b":null},"a":{"b":"w"}}""", "a.b", "w"),
    ("raw control character in the line",
      "{\"x\":\"a\tb\",\"k\":\"v\"}", "k", "v"),
    ("single-quoted strings", "{'k':'v'}", "k", "v")).foreach {
    case (name, line, path, want) =>
      test(s"json: $name reads like get_json_object") {
        assert(gjo(line, path) == want, s"get_json_object on [$line]")
        assert(LokiParsers.jsonGet(line, path) == want, s"jsonGet on [$line]")
      }
  }

  // ---------------------------------------------------------- pattern

  test("pattern: anchored both ends, lazy captures, trailing capture") {
    val t = "<ip> - <user> [<_>] <msg>"
    assert(LokiParsers.patternAll("1.2.3.4 - bob [x] hello world", t)
      == Seq("ip" -> "1.2.3.4", "user" -> "bob", "msg" -> "hello world"))
    // lazy: the FIRST occurrence of the next literal delimits
    assert(LokiParsers.patternGet("a - b - c", "<x> - <y>", "x") == "a")
    assert(LokiParsers.patternGet("a - b - c", "<x> - <y>", "y") == "b - c")
    // leading literal anchors at position 0
    assert(LokiParsers.patternGet("XQ v=1", "Q v=<v>", "v") == null)
    assert(LokiParsers.patternGet("Q v=1", "Q v=<v>", "v") == "1")
    // trailing literal anchors at the end
    assert(LokiParsers.patternGet("a=1 END junk", "a=<v> END", "v") == null)
    assert(LokiParsers.patternGet("a=1 END", "a=<v> END", "v") == "1")
    // empty capture ≡ absent; non-match ≡ absent
    assert(LokiParsers.patternGet(" - x", "<a> - <b>", "a") == null)
    assert(LokiParsers.patternGet("no delimiter here", "<a>--<b>", "a") == null)
  }

  test("pattern: template validation") {
    assert(LokiParsers.patternCompile("<a> <b>").isRight)
    assert(LokiParsers.patternCompile("no captures").isLeft)
    assert(LokiParsers.patternCompile("<a><b>").isLeft) // nothing delimits
    assert(LokiParsers.patternCompile("<a> x <a>").isLeft) // duplicate
    // a bare '<' not opening a valid capture is a literal
    assert(LokiParsers.patternGet("x<y v=1", "x<y v=<v>", "v") == "1")
  }

  test("jsonValid is the strict gate; flatten joins with _ and skips arrays") {
    assert(LokiParsers.jsonValid("""{"k":"v"}"""))
    assert(!LokiParsers.jsonValid("""{"k":"v"} trailing"""))
    assert(!LokiParsers.jsonValid("""{"k":}"""))
    assert(LokiParsers.jsonFlatten("""{"a":{"b":"c"},"d":1,"e":[9],"f":"","g":null}""")
      == Right(Seq("a_b" -> "c", "d" -> "1")))
    assert(LokiParsers.jsonFlatten("""{"we-ird":"x","0lead":"y"}""")
      == Right(Seq("we_ird" -> "x", "_0lead" -> "y")))
    assert(LokiParsers.jsonFlatten("nope").isLeft)
  }

  test("unwrapValue: Go-ParseFloat subset, rejects trims/suffixes/range") {
    def u(s: String): java.lang.Double = LokiParsers.unwrapValue(s)
    assert(u("123") == 123.0 && u("1.5e-3") == 0.0015 && u("-0.5") == -0.5)
    assert(u("1.") == 1.0 && u(".5") == 0.5 && u("+7") == 7.0)
    assert(u("Inf").isInfinite && u("-infinity").isInfinite && u("NaN").isNaN)
    assert(u(" 1") == null) // Go trims nothing
    assert(u("1.5d") == null && u("1.5f") == null) // Java-only suffixes
    assert(u("0x1p3") == null && u("1_000") == null) // Go-only dialects
    assert(u("1e999") == null) // range overflow = Go ErrRange = Loki error
    assert(u("") == null && u("abc") == null && u("1..2") == null)
  }

  test("durationSeconds: Go time.ParseDuration model") {
    def d(s: String): java.lang.Double = LokiParsers.durationSeconds(s)
    assert(d("250ms") == 0.25 && d("1s") == 1.0 && d("2m") == 120.0)
    assert(d("1h30m") == 5400.0 && d("1.5h") == 5400.0)
    assert(d("100ns") == 100 * 1e-9 && d("5us") == 5 * 1e-6 &&
      d("5µs") == 5 * 1e-6)
    assert(d("-2s") == -2.0 && d("0") == 0.0)
    assert(d("10") == null) // bare number without unit errors (Go)
    assert(d("ms") == null && d("") == null && d("1x") == null)
    assert(d("1.2.3s") == null)
  }

  test("bytesValue: humanized SI + IEC units, case-insensitive") {
    def b(s: String): java.lang.Double = LokiParsers.bytesValue(s)
    assert(b("42") == 42.0 && b("42B") == 42.0 && b("42 B") == 42.0)
    assert(b("5kB") == 5000.0 && b("5KB") == 5000.0 && b("5 kb") == 5000.0)
    assert(b("3MiB") == 3145728.0 && b("3 mib") == 3145728.0)
    assert(b("2.5KiB") == 2560.0 && b("1GB") == 1e9 && b("1GiB") == 1073741824.0)
    assert(b("KiB") == null && b("") == null && b("1 2 KiB") == null)
    assert(b("1XB") == null)
  }

  test("ip(): strict IPv4 parse, three pattern forms, maximal-run line scan") {
    import LokiParsers.{ipPatternRange, ipValue, lineContainsIp}
    assert(ipValue("10.0.0.1") == ((10L << 24) | 1L))
    assert(ipValue("255.255.255.255") == 0xffffffffL)
    assert(ipValue("0.0.0.0") == 0L && ipValue("007.0.0.1") >= 0)
    assert(ipValue("256.0.0.1") == -1L && ipValue("1.2.3") == -1L &&
      ipValue("1.2.3.4.5") == -1L && ipValue("1..2.3") == -1L &&
      ipValue("") == -1L && ipValue("a.b.c.d") == -1L &&
      ipValue("1.2.3.4 ") == -1L)
    // single / range / CIDR
    assert(ipPatternRange("10.0.0.7").toSeq ==
      Seq(ipValue("10.0.0.7"), ipValue("10.0.0.7")))
    assert(ipPatternRange("10.0.0.5-10.0.0.59").toSeq ==
      Seq(ipValue("10.0.0.5"), ipValue("10.0.0.59")))
    assert(ipPatternRange("10.0.0.32/27").toSeq ==
      Seq(ipValue("10.0.0.32"), ipValue("10.0.0.63")))
    assert(ipPatternRange("10.0.0.0/0").toSeq == Seq(0L, 0xffffffffL))
    assert(ipPatternRange("10.0.0.1/32").toSeq ==
      Seq(ipValue("10.0.0.1"), ipValue("10.0.0.1")))
    // CIDR base bits below the mask are zeroed (network semantics)
    assert(ipPatternRange("10.0.0.37/27").toSeq ==
      Seq(ipValue("10.0.0.32"), ipValue("10.0.0.63")))
    assert(ipPatternRange("10.0.0.1/33") == null &&
      ipPatternRange("10.0.0.9-10.0.0.5") == null &&
      ipPatternRange("::1") == null && ipPatternRange("nope") == null)
    // line scan: maximal digit/dot runs that parse in ENTIRETY
    val r = ipPatternRange("10.0.0.0/24")
    assert(lineContainsIp("conn from 10.0.0.7 ok", r(0), r(1)))
    assert(!lineContainsIp("conn from 10.0.1.7 ok", r(0), r(1)))
    assert(lineContainsIp("x=1 src=10.0.0.254", r(0), r(1)))
    // a longer run does NOT yield a prefix match (documented rule)
    assert(!lineContainsIp("v=0.110.0.0.5 after", r(0), r(1)))
    assert(!lineContainsIp("value=0.5 no ip here", r(0), r(1)))
  }

  test("patternMatchUTF8: anchored boolean match; invalid template is NULL") {
    import org.apache.spark.unsafe.types.UTF8String
    def m(l: String, t: String): java.lang.Boolean =
      LokiParsers.patternMatchUTF8(
        UTF8String.fromString(l), UTF8String.fromString(t))
    assert(m("click value=0.5", "<_>value=0.<_>") == java.lang.Boolean.TRUE)
    assert(m("click value=1.5", "<_>value=0.<_>") == java.lang.Boolean.FALSE)
    // anchored at both ends: a leading literal must be the line's
    // prefix, trailing text after the final literal fails
    assert(m("xclick v", "click <_>") == java.lang.Boolean.FALSE)
    assert(m("click v", "click <_>") == java.lang.Boolean.TRUE)
    assert(m("a v tail", "a <_> v") == java.lang.Boolean.FALSE)
    // wildcard captures may match empty
    assert(m("value=1", "<_>value=1<_>") == java.lang.Boolean.TRUE)
    // invalid templates (no captures / consecutive captures) ≡ SQL NULL
    assert(m("anything", "no captures here") == null)
    assert(m("anything", "<a><b>") == null)
  }
}
