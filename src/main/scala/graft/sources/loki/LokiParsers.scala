package graft.sources.loki

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.unsafe.types.UTF8String

/** SHARED semantics for LogQL parser stages (`| json`, `| logfmt`) — the
  * single definition used by all three sides of the parser-stage
  * pushdown (round 15):
  *
  *   - the host Catalyst expressions `logfmt_get` / `loki_json_get`
  *     ([[graft.functions.LogfmtGet]] / [[graft.functions.LokiJsonGet]]),
  *   - the pushdown translators ([[LogQL.parsedPredicate]]) that turn
  *     predicates over those expressions into pushed pipeline stages,
  *   - the testkit stub's stage evaluation
  *     ([[graft.sources.loki.testkit.LokiStubServer]]).
  *
  * Because the host expression and the wire conformance surface run the
  * SAME code, a pushed `logfmt_get(line,'k') = 'v'` is exact by
  * construction — there is no second implementation to diverge. The
  * reference stops at selectors + line filters (src/expr.rs:49-112);
  * parser stages are the beyond-parity completion of its pushdown
  * surface on the single most common real-Loki idiom
  * (`{app="x"} | json | level="error"`).
  *
  * Value semantics (Prometheus label model): a parser-extracted value is
  * a STRING label, and the empty string is indistinguishable from
  * absence — both host functions therefore return SQL NULL for a
  * missing key, an empty extracted value, a json null, or a parse
  * failure, exactly matching what a pushed `| parser x="k" | x…` label
  * filter can see.
  *
  * Loki-fidelity notes (documented modeling decisions, pinned by the
  * stub rather than a live server, like the ILIKE case-fold caveat):
  *
  *   - json: every json input is read by Jackson. Explicit-expression
  *     extraction walks a parser configured like Spark's
  *     `get_json_object` (its `SharedFactory`: `ALLOW_UNESCAPED_CONTROL_CHARS`
  *     and `ALLOW_SINGLE_QUOTES`) the way Spark's evaluator walks it,
  *     property-pinned in LokiParsersProps (the equality pushdown idiom
  *     rides on the agreement): full root-object validation, trailing
  *     bytes after the root close ignored, duplicate keys explored with
  *     the first non-null capture winning — see [[jsonGet]]. Real Loki's
  *     jsonexpr (buger/jsonparser) is more lenient on malformed tails;
  *     where the two differ, the Spark-builtin contract wins and the
  *     deviation is this documented line. Non-integer numbers keep
  *     their literal text (`1.50` stays `"1.50"` — Spark re-renders
  *     them, so float-looking comparison literals are rejected by the
  *     translator); strings decode their escapes; composite values
  *     return their raw text slice verbatim. The bare `| json` stage
  *     ([[jsonValid]], [[jsonFlatten]]) reads with Jackson's strict
  *     defaults; the explicit-expression stage marks `__error__` only
  *     on lines [[jsonReadable]] rejects, so the unwrap render's
  *     `| __error__=""` never drops a value the host reads.
  *   - logfmt: go-logfmt shapes — bare keys get an empty value, quoted
  *     values decode Go escapes, an unterminated quote is a parse error
  *     (real Loki sets `__error__=LogfmtParserErr`). Repeated keys:
  *     LAST wins (label re-Set overwrites, grafana/loki behavior);
  *     json's first-match is jsonparser behavior — the asymmetry is
  *     each upstream library's, kept verbatim.
  *   - metric queries over parser stages (r15 advice): real Loki REJECTS
  *     a metric query whose pipeline yields `__error__` rows ("pipeline
  *     error: … consider __error__=\"\""), while this stub folds a
  *     malformed line's missing extraction into the absent-label series
  *     of a `sum by (gpN) (…)` — so a pushed bare-extraction GROUP BY
  *     (`| logfmt gp0="k"` with no trailing filter) is exact against the
  *     stub but would 400 against a real server whenever any matched
  *     line is malformed. Appending `| __error__=""` is NOT a fix: it
  *     would drop malformed lines from the host's NULL group instead of
  *     counting them there. Deployments that need real-server fidelity
  *     for parsed-label grouping should exclude the metric rewrite
  *     (`graft.plans.LokiMetricAggRule` in
  *     `spark.sql.optimizer.excludedRules`) or disable the parser stages
  *     (`push_parsers=false`);
  *     predicate-push (`| gpN="v"` etc.) and the round-16 UNWRAP render
  *     (`| gpN!="" | unwrap gpN | __error__=""`) are unaffected — their
  *     pipelines filter every would-be error row before sample
  *     extraction, so real Loki accepts them.
  */
object LokiParsers {

  private final val SP = ' '
  private final val TAB = '	'

  // ------------------------------------------------------------------
  // logfmt
  // ------------------------------------------------------------------

  /** `| logfmt` value of `key` under Loki semantics: null when the key
    * is missing, its value is empty, or the line is malformed
    * (unterminated quote). Last occurrence wins.
    */
  def logfmtGet(line: String, key: String): String =
    logfmtAll(line) match {
      case Right(pairs) =>
        var found: String = null
        pairs.foreach { case (k, v) => if (k == key) found = v }
        if (found == null || found.isEmpty) null else found
      case Left(_) => null
    }

  /** All logfmt pairs in input order (repeats preserved — the caller
    * applies last-wins), or Left(errorType) on malformed input.
    */
  def logfmtAll(line: String): Either[String, Seq[(String, String)]] = {
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    val n = line.length
    while (i < n) {
      while (i < n && (line.charAt(i) == SP || line.charAt(i) == TAB)) i += 1
      if (i < n) {
        // key: up to '=' or whitespace; a quote inside a key is malformed
        val k0 = i
        while (i < n && line.charAt(i) != '=' &&
          line.charAt(i) != SP && line.charAt(i) != TAB &&
          line.charAt(i) != '"') i += 1
        if (i < n && line.charAt(i) == '"') return Left("LogfmtParserErr")
        val key = line.substring(k0, i)
        if (i < n && line.charAt(i) == '=') {
          i += 1
          if (i < n && line.charAt(i) == '"') {
            i += 1
            val sb = new StringBuilder
            var closed = false
            while (i < n && !closed) {
              line.charAt(i) match {
                case '\\' if i + 1 < n =>
                  line.charAt(i + 1) match {
                    case '"' => sb += '"'; i += 2
                    case '\\' => sb += '\\'; i += 2
                    case 'n' => sb += '\n'; i += 2
                    case 'r' => sb += '\r'; i += 2
                    case 't' => sb += TAB; i += 2
                    case 'u' if i + 5 < n &&
                      line.substring(i + 2, i + 6).forall(isHex) =>
                      sb += Integer.parseInt(line.substring(i + 2, i + 6), 16).toChar
                      i += 6
                    case c => sb += '\\'; sb += c; i += 2
                  }
                case '"' => closed = true; i += 1
                case c => sb += c; i += 1
              }
            }
            if (!closed) return Left("LogfmtParserErr")
            if (key.nonEmpty) out += ((key, sb.toString))
          } else {
            val v0 = i
            while (i < n && line.charAt(i) != SP && line.charAt(i) != TAB) i += 1
            if (key.nonEmpty) out += ((key, line.substring(v0, i)))
          }
        } else if (key.nonEmpty) {
          // bare key: present with an empty value (go-logfmt)
          out += ((key, ""))
        }
      }
    }
    Right(out.result())
  }

  // ------------------------------------------------------------------
  // json
  // ------------------------------------------------------------------

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** The tokenizer Spark's `get_json_object` reads with (its
    * `SharedFactory`): Jackson plus `ALLOW_UNESCAPED_CONTROL_CHARS` and
    * `ALLOW_SINGLE_QUOTES`, both enabled there for Hive compatibility.
    */
  private val sparkJson: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** Strict JSON: Jackson's defaults, and a tree read fails on anything
    * but whitespace after the value. The bare `| json` stage, the Loki
    * HTTP response decoders and the stub's push decoder all read with it.
    */
  private[loki] val strictJson: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Extraction of a dotted path (`a` or `a.b.c`) from a json-object
    * line, with the outcome Spark's `get_json_object` gives — the
    * equality pushdown idiom rides on the agreement, property-pinned in
    * LokiParsersProps. The same Jackson walk as Spark's
    * `GetJsonObjectEvaluator`, over a parser configured like Spark's
    * (see [[sparkJson]]: raw control characters and single-quoted
    * strings are accepted):
    *
    *   - the ROOT OBJECT must parse completely (a malformed field
    *     anywhere — even after the match — or an unclosed root yields
    *     null); bytes after the root's closing `}` are ignored;
    *   - duplicate keys: occurrences are explored in order and the FIRST
    *     capture wins, where a json `null` is no capture (Spark's rule) —
    *     `{"k":null,"k":"w"}` yields `w`;
    *   - numbers: strict JSON grammar (no `01`, `+1`, `.5`), INTEGER
    *     tokens canonicalize through `BigInteger` (`-0` → `0`) while
    *     float tokens keep their literal text (Spark re-renders floats —
    *     `5e2` → `500.0` — so the translator rejects float-looking
    *     comparison literals);
    *   - null for missing key / parse failure / json null / empty
    *     string value (empty ≡ absent); strings decode; composites
    *     return their raw slice.
    */
  def jsonGet(line: String, path: String): String = {
    val segs = path.split('.')
    if (segs.isEmpty || segs.exists(_.isEmpty)) return null
    try {
      val p = sparkJson.createParser(line)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return null
        val v = captureIn(p, line, segs, 0)
        if (v == null || v.isEmpty) null else v
      } finally p.close()
    } catch { case _: JsonProcessingException => null }
  }

  /** With `p` on a START_OBJECT: read the object to its END_OBJECT and
    * return the first non-null capture of `segs(from..)`, or null.
    */
  private def captureIn(
      p: JsonParser, line: String, segs: Array[String], from: Int): String = {
    var found: String = null
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val hit = found == null && p.currentName == segs(from)
      val t = p.nextToken()
      if (hit && from == segs.length - 1) found = valueText(p, line, t)
      else if (hit && t == JsonToken.START_OBJECT)
        found = captureIn(p, line, segs, from + 1)
      else p.skipChildren()
    }
    found
  }

  /** The text of the value at `p` (token `t`): null for json null, the
    * raw slice for a composite, canonical integers, literal floats,
    * decoded strings, `true`/`false`.
    */
  private def valueText(p: JsonParser, line: String, t: JsonToken): String =
    t match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
        val from = p.currentTokenLocation().getCharOffset.toInt
        p.skipChildren()
        line.substring(from, p.currentLocation().getCharOffset.toInt)
      case JsonToken.VALUE_NUMBER_INT => p.getBigIntegerValue.toString
      case _ => p.getText
    }

  /** Whether [[jsonGet]] can read the line at all: a root object that
    * parses completely under Spark's configuration, bytes after its
    * close ignored. The explicit-expression `| json k="…"` stage marks
    * `__error__` only when this fails, so every line the host accessor
    * reads a value from keeps its sample under the unwrap render's
    * `| __error__=""`.
    */
  def jsonReadable(line: String): Boolean =
    try {
      val p = sparkJson.createParser(line)
      try p.nextToken() == JsonToken.START_OBJECT && { p.skipChildren(); true }
      finally p.close()
    } catch { case _: JsonProcessingException => false }

  /** Whether the line parses as one complete json value (with only
    * whitespace after it) — the strictness gate the BARE `| json` stage
    * (jsoniter full parse in real Loki) applies, unlike the lenient
    * jsonexpr walk above.
    */
  def jsonValid(line: String): Boolean =
    try {
      val p = strictJson.createParser(line)
      try p.nextToken() != null && { p.skipChildren(); p.nextToken() == null }
      finally p.close()
    } catch { case _: JsonProcessingException => false }

  /** Full `| json` flatten: nested objects join with '_', arrays are
    * skipped (grafana/loki json parser), scalar values keep literal
    * text, keys sanitize to the label charset. Left(errorType) when the
    * line is not one valid json OBJECT.
    */
  def jsonFlatten(line: String): Either[String, Seq[(String, String)]] = {
    val out = Seq.newBuilder[(String, String)]
    def walk(p: JsonParser, prefix: String): Unit =
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val k = sanitizeLabelName(p.currentName)
        val key = if (prefix.isEmpty) k else prefix + "_" + k
        p.nextToken() match {
          case JsonToken.START_OBJECT => walk(p, key)
          case JsonToken.START_ARRAY => p.skipChildren() // arrays skipped
          case t =>
            val v = valueText(p, line, t)
            if (v != null && v.nonEmpty) out += ((key, v)) // null/empty ≡ absent
        }
      }
    try {
      val p = strictJson.createParser(line)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return Left("JSONParserErr")
        walk(p, "")
        if (p.nextToken() != null) Left("JSONParserErr") else Right(out.result())
      } finally p.close()
    } catch { case _: JsonProcessingException => Left("JSONParserErr") }
  }

  // ------------------------------------------------------------------
  // pattern (`| pattern "<ip> - <_> [<ts>]"`) — Loki's third parser
  // ------------------------------------------------------------------

  /** One compiled pattern-template token: a literal run or a capture
    * (None = the anonymous `<_>`).
    */
  sealed trait PatTok
  final case class PatLit(s: String) extends PatTok
  final case class PatCap(name: Option[String]) extends PatTok

  /** Compile a pattern template. Grammar (grafana/loki pattern stage):
    * `<ident>` captures, `<_>` anonymous, everything else literal (a
    * bare '<' not opening a valid capture is a literal character).
    * Invalid — and Left — when: no capture at all, two captures with no
    * literal between them (nothing can delimit them), or a named
    * capture repeated.
    */
  def patternCompile(template: String): Either[String, Seq[PatTok]] = {
    val toks = Seq.newBuilder[PatTok]
    val lit = new StringBuilder
    var i = 0
    val n = template.length
    var caps = 0
    val seen = scala.collection.mutable.Set.empty[String]
    var lastWasCap = false
    def flushLit(): Unit =
      if (lit.nonEmpty) { toks += PatLit(lit.toString); lit.clear(); lastWasCap = false }
    while (i < n) {
      val c = template.charAt(i)
      if (c == '<') {
        val close = template.indexOf('>', i + 1)
        val name = if (close > i + 1) template.substring(i + 1, close) else ""
        if (close > i + 1 && (name == "_" || LogQL.validLabelName(name))) {
          flushLit()
          if (lastWasCap) return Left("consecutive captures")
          if (name != "_") {
            if (!seen.add(name)) return Left(s"duplicate capture <$name>")
            toks += PatCap(Some(name))
          } else toks += PatCap(None)
          caps += 1
          lastWasCap = true
          i = close + 1
        } else { lit += c; i += 1 }
      } else { lit += c; i += 1 }
    }
    flushLit()
    if (caps == 0) Left("no captures") else Right(toks.result())
  }

  /** Match a line against a compiled template — SHARED-IMPLEMENTATION
    * semantics (the host accessor, the translator's claim, and the
    * stub's stage evaluation all run this code): anchored at BOTH ends
    * (a leading literal must be the line's prefix; trailing content
    * after the final literal fails the match), captures are LAZY
    * (shortest text up to the next literal's first occurrence), a
    * trailing capture takes the rest. Returns the named captures on a
    * match (empty-valued ones omitted — empty ≡ absent), or null when
    * the line does not match.
    */
  def patternAll(line: String, template: String): Seq[(String, String)] = {
    val toks = patternCompile(template) match {
      case Right(t) => t
      case Left(_) => return null
    }
    val out = Seq.newBuilder[(String, String)]
    var pos = 0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case PatLit(s) =>
          if (!line.startsWith(s, pos)) return null
          pos += s.length
        case PatCap(name) =>
          val end = toks.lift(i + 1) match {
            case Some(PatLit(s)) =>
              val at = line.indexOf(s, pos)
              if (at < 0) return null
              at
            case _ => line.length // trailing capture (compile bars Cap,Cap)
          }
          name.foreach { nm =>
            val v = line.substring(pos, end)
            if (v.nonEmpty) out += ((nm, v))
          }
          pos = end
      }
      i += 1
    }
    if (pos != line.length) return null // anchored at the end too
    out.result()
  }

  /** `| pattern` value of one capture: null when the template is
    * invalid, the line does not match, the capture is absent from the
    * template, or its matched text is empty.
    */
  def patternGet(line: String, template: String, field: String): String = {
    val all = patternAll(line, template)
    if (all == null) return null
    all.collectFirst { case (k, v) if k == field => v }.orNull
  }

  def patternGetUTF8(
      line: UTF8String, template: UTF8String, field: UTF8String): UTF8String = {
    val r = patternGet(line.toString, template.toString, field.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  // ------------------------------------------------------------------
  // ip() matchers (round 16) — `|= ip("…")` line filters and
  // `| lbl = ip("…")` label filters, grafana/loki's access-log idiom.
  // IPv4 only (single address, range "a-b", CIDR "a/n") — the
  // documented subset; IPv6 keeps host-side evaluation.
  // ------------------------------------------------------------------

  /** Strict IPv4 of a WHOLE string as an unsigned-int long, or -1:
    * exactly four dot-separated octets, 1-3 digits each, value ≤ 255
    * (leading zeros tolerated, Go net.ParseIP-style).
    */
  def ipValue(s: String): Long = {
    var acc = 0L
    var octet = -1L
    var octets = 0
    var digits = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        octet = (if (octet < 0) 0L else octet) * 10 + (c - '0')
        digits += 1
        if (digits > 3 || octet > 255) return -1L
      } else if (c == '.') {
        if (octet < 0 || octets == 3) return -1L
        acc = (acc << 8) | octet
        octets += 1; octet = -1L; digits = 0
      } else return -1L
      i += 1
    }
    if (octet < 0 || octets != 3) return -1L
    (acc << 8) | octet
  }

  /** Parse an ip() pattern into an inclusive [lo, hi] unsigned range:
    * `"a.b.c.d"` (single), `"a.b.c.d-e.f.g.h"` (range),
    * `"a.b.c.d/n"` (CIDR). Null when the pattern is outside the
    * (documented, IPv4-only) subset.
    */
  def ipPatternRange(p: String): Array[Long] = {
    val t = p.trim
    val dash = t.indexOf('-')
    val slash = t.indexOf('/')
    if (dash >= 0) {
      val lo = ipValue(t.substring(0, dash).trim)
      val hi = ipValue(t.substring(dash + 1).trim)
      if (lo < 0 || hi < 0 || lo > hi) null else Array(lo, hi)
    } else if (slash >= 0) {
      val base = ipValue(t.substring(0, slash).trim)
      val bits =
        try t.substring(slash + 1).trim.toInt catch { case _: Exception => -1 }
      if (base < 0 || bits < 0 || bits > 32) null
      else {
        val mask = if (bits == 0) 0L else (0xffffffffL << (32 - bits)) & 0xffffffffL
        val lo = base & mask
        Array(lo, lo | (~mask & 0xffffffffL))
      }
    } else {
      val v = ipValue(t)
      if (v < 0) null else Array(v, v)
    }
  }

  /** Label-filter form: the WHOLE value is an IPv4 in the pattern's
    * range. Unparsable value (or missing ≡ "") is simply no-match —
    * `!= ip(…)` keeps it, the negation convention. Null for a pattern
    * outside the subset (the host expression's SQL-NULL convention;
    * a push requires a valid pattern).
    */
  def ipMatchUTF8(v: UTF8String, p: UTF8String): java.lang.Boolean = {
    val r = ipPatternRange(p.toString)
    if (r == null) return null
    val x = ipValue(v.toString)
    java.lang.Boolean.valueOf(x >= 0 && x >= r(0) && x <= r(1))
  }

  /** Line-filter form: does the line CONTAIN an IPv4 in range? A
    * candidate is a MAXIMAL run of digits/dots that parses as a strict
    * IPv4 in its entirety — the deterministic boundary rule all three
    * consumers (host expression, translator claim, stub evaluation)
    * share, so the push is exact by construction. (Loki's own scanner
    * may extract a prefix out of a longer run like `1.2.3.4.5`; the
    * shared-impl rule declines such runs — a documented deviation in
    * the same class as the pattern-parser notes.)
    */
  def lineContainsIp(line: String, lo: Long, hi: Long): Boolean = {
    var i = 0
    val n = line.length
    def ipChar(c: Char): Boolean = (c >= '0' && c <= '9') || c == '.'
    while (i < n) {
      if (ipChar(line.charAt(i)) && (i == 0 || !ipChar(line.charAt(i - 1)))) {
        var j = i
        while (j < n && ipChar(line.charAt(j))) j += 1
        val v = ipValue(line.substring(i, j))
        if (v >= 0 && v >= lo && v <= hi) return true
        i = j
      } else i += 1
    }
    false
  }

  def lineIpUTF8(line: UTF8String, p: UTF8String): java.lang.Boolean = {
    val r = ipPatternRange(p.toString)
    if (r == null) null
    else java.lang.Boolean.valueOf(lineContainsIp(line.toString, r(0), r(1)))
  }

  /** Boolean template match for the Loki 3.x pattern LINE FILTERS
    * (`|>` / `!>`, round 16 third tranche): the SAME anchored/lazy
    * matcher as `| pattern` ([[patternAll]]), answering "does the line
    * fit the template" instead of extracting. An invalid template is
    * SQL NULL (the host accessor convention; real Loki rejects the
    * query at parse — the translator only pushes compile-valid
    * templates, so the NULL-vs-400 divergence never reaches a wire).
    */
  def patternMatchUTF8(
      line: UTF8String, template: UTF8String): java.lang.Boolean = {
    val t = template.toString
    if (patternCompile(t).isLeft) null
    else java.lang.Boolean.valueOf(patternAll(line.toString, t) != null)
  }

  // ------------------------------------------------------------------
  // regexp (`| regexp "(?P<name>re)"`) — Loki's fourth parser (round 16)
  // ------------------------------------------------------------------

  /** `| regexp` value of one named capture, HOST side: the pattern is
    * JAVA dialect (the SQL author writes `(?<name>…)`), evaluated as an
    * unanchored find — the same first-match semantics Go's regexp
    * FindStringSubmatch applies (Go regexp is leftmost-first like
    * Java/Perl, NOT POSIX-longest). Null when the pattern does not
    * compile (e.g. duplicate group names — a Go-ism Java rejects), the
    * line does not match, the group did not participate, or its text is
    * empty (empty ≡ absent, the label model).
    *
    * The pushdown claim ([[LogQL.javaToRe2Named]]) is exact only for
    * patterns whose translation to RE2 exists — the translated output
    * contains only engine-agreeing constructs, so Java-eval here ≡
    * RE2-eval on the wire, capture boundaries included (same match
    * semantics ⇒ same submatch spans). Untranslatable patterns keep the
    * host residual: this function still answers them, with documented
    * Java semantics.
    */
  def regexpGet(line: String, pattern: String, group: String): String = {
    val p =
      try java.util.regex.Pattern.compile(pattern)
      catch { case _: java.util.regex.PatternSyntaxException => return null }
    val m = p.matcher(line)
    if (!m.find()) return null
    val v =
      try m.group(group)
      catch { case _: IllegalArgumentException => return null } // no such group
    if (v == null || v.isEmpty) null else v
  }

  def regexpGetUTF8(
      line: UTF8String, pattern: UTF8String, group: UTF8String): UTF8String = {
    val r = regexpGet(line.toString, pattern.toString, group.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  /** All named captures of a WIRE-dialect regexp stage (`(?P<n>…)`),
    * for the stub's stage evaluation: the pattern arrives in RE2
    * spelling (only engine-agreeing constructs — the translator's
    * output), so converting the group syntax back to Java's and
    * evaluating with Java regex IS the RE2 evaluation. Non-matching
    * lines extract nothing (rows are kept; only a label filter drops);
    * an uncompilable pattern returns null (the caller errors — real
    * Loki rejects the query at parse).
    */
  def regexpAllWire(line: String, re2Pattern: String): Seq[(String, String)] = {
    val names = {
      val b = Seq.newBuilder[String]
      val m = java.util.regex.Pattern.compile("\\(\\?P<([A-Za-z0-9_]+)>")
        .matcher(re2Pattern)
      while (m.find()) b += m.group(1)
      b.result()
    }
    val p =
      try java.util.regex.Pattern.compile(re2Pattern.replace("(?P<", "(?<"))
      catch { case _: java.util.regex.PatternSyntaxException => return null }
    val m = p.matcher(line)
    if (!m.find()) return Seq.empty
    names.flatMap { n =>
      val v = try m.group(n) catch { case _: IllegalArgumentException => null }
      if (v == null || v.isEmpty) None else Some((n, v))
    }
  }

  // ------------------------------------------------------------------
  // unwrap (`| unwrap duration`) — numeric sample extraction (round 16)
  // ------------------------------------------------------------------

  /** `| unwrap x` value conversion — the SHARED semantics behind the
    * host expression [[graft.functions.LokiUnwrap]], the metric
    * rewrite's pushed `| unwrap` stage, and the stub's sample
    * extraction, so a pushed `avg_over_time(… | unwrap gpN …)` is exact
    * by construction.
    *
    * Models Go `strconv.ParseFloat(v, 64)` (grafana/loki
    * convertFloat) on the subset Java and Go agree on byte for byte:
    * optional sign + decimal digits with optional fraction/exponent
    * (`1`, `1.`, `.5`, `1.5e-3`), and the case-insensitive `inf` /
    * `infinity` / `nan` specials. Deliberate deviations, erring toward
    * REJECTION (a null here is the host NULL ≡ wire `__error__` ≡
    * dropped-by-`| __error__=""` row, so a false null only shrinks the
    * result the same way on both sides):
    *   - Go-isms Java parses differently or not at all are null: hex
    *     floats (`0x1p-2`), underscore digit separators (`1_000`);
    *   - a finite-looking literal that overflows to ±Inf (`1e999`) is
    *     null — Go returns ErrRange and real Loki treats that as a
    *     conversion error;
    *   - no whitespace trimming (Go trims nothing; Java trims — the
    *     regex screen runs on the raw text, so `" 1"` is null here as
    *     on the wire).
    */
  def unwrapValue(s: String): java.lang.Double = {
    if (s == null || s.isEmpty) return null
    val body = if (s.charAt(0) == '+' || s.charAt(0) == '-') s.substring(1) else s
    val lc = body.toLowerCase(java.util.Locale.ROOT)
    if (lc == "inf" || lc == "infinity")
      return java.lang.Double.valueOf(
        if (s.charAt(0) == '-') Double.NegativeInfinity else Double.PositiveInfinity)
    if (lc == "nan") return java.lang.Double.valueOf(Double.NaN)
    if (!unwrapNumRe.matcher(s).matches()) return null
    val d = java.lang.Double.parseDouble(s)
    if (java.lang.Double.isInfinite(d)) null // Go ErrRange ⇒ Loki error
    else java.lang.Double.valueOf(d)
  }

  private val unwrapNumRe = java.util.regex.Pattern.compile(
    "[+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)(?:[eE][+-]?[0-9]+)?")

  def unwrapUTF8(v: UTF8String): java.lang.Double =
    if (v == null) null else unwrapValue(v.toString)

  /** `| unwrap duration_seconds(x)` conversion — Go `time.ParseDuration`
    * model (grafana/loki convertDuration): one or more
    * `<decimal><unit>` components summed, units ns/us/µs/ms/s/m/h,
    * optional leading sign, plain `"0"` allowed, anything else — a bare
    * number without a unit included — is a conversion error (null here
    * ≡ wire `__error__`). Result in float64 SECONDS (Loki divides the
    * ns duration by 1e9).
    */
  def durationSeconds(s: String): java.lang.Double = {
    if (s == null || s.isEmpty) return null
    var i = 0
    var sign = 1.0
    if (s.charAt(0) == '+' || s.charAt(0) == '-') {
      if (s.charAt(0) == '-') sign = -1.0
      i = 1
    }
    if (i >= s.length) return null
    if (s.substring(i) == "0") return java.lang.Double.valueOf(0.0)
    var total = 0.0
    var any = false
    while (i < s.length) {
      val numStart = i
      while (i < s.length && (s.charAt(i) == '.' ||
        (s.charAt(i) >= '0' && s.charAt(i) <= '9'))) i += 1
      val numTok = s.substring(numStart, i)
      if (numTok.isEmpty || numTok == "." ||
        numTok.count(_ == '.') > 1) return null
      val unitStart = i
      while (i < s.length && !(s.charAt(i) == '.' ||
        (s.charAt(i) >= '0' && s.charAt(i) <= '9'))) i += 1
      val mult = s.substring(unitStart, i) match {
        case "ns" => 1e-9
        case "us" | "µs" | "μs" => 1e-6 // µs: micro sign + mu
        case "ms" => 1e-3
        case "s" => 1.0
        case "m" => 60.0
        case "h" => 3600.0
        case _ => return null // missing/unknown unit (Go errors too)
      }
      total += java.lang.Double.parseDouble(numTok) * mult
      any = true
    }
    if (!any || java.lang.Double.isInfinite(total)) null
    else java.lang.Double.valueOf(sign * total)
  }

  def durationSecondsUTF8(v: UTF8String): java.lang.Double =
    if (v == null) null else durationSeconds(v.toString)

  /** `| unwrap bytes(x)` conversion — go-humanize `ParseBytes` model:
    * `<decimal>[ ]<unit>` with SI (kB/MB/… ×1000ⁿ) and IEC
    * (KiB/MiB/… ×1024ⁿ) units, case-insensitive, at most one space
    * before the unit, a bare number meaning bytes. Documented
    * deviation: the float product is kept exact (real humanize
    * truncates to uint64 — sub-byte fractions), and a null here ≡ wire
    * `__error__` like every conversion failure.
    */
  def bytesValue(s: String): java.lang.Double = {
    if (s == null || s.isEmpty) return null
    var i = 0
    while (i < s.length && (s.charAt(i) == '.' ||
      (s.charAt(i) >= '0' && s.charAt(i) <= '9'))) i += 1
    val numTok = s.substring(0, i)
    if (numTok.isEmpty || numTok == "." || numTok.count(_ == '.') > 1)
      return null
    var unit = s.substring(i)
    if (unit.startsWith(" ")) unit = unit.substring(1)
    if (unit.contains(" ")) return null
    val lower = unit.toLowerCase(java.util.Locale.ROOT)
    val mult: Double = lower match {
      case "" | "b" => 1.0
      case "kb" | "k" => 1e3
      case "mb" | "m" => 1e6
      case "gb" | "g" => 1e9
      case "tb" | "t" => 1e12
      case "pb" | "p" => 1e15
      case "kib" | "ki" => 1024.0
      case "mib" | "mi" => 1048576.0
      case "gib" | "gi" => 1073741824.0
      case "tib" | "ti" => 1099511627776.0
      case "pib" | "pi" => 1125899906842624.0
      case _ => return null
    }
    val v = java.lang.Double.parseDouble(numTok) * mult
    if (java.lang.Double.isInfinite(v)) null else java.lang.Double.valueOf(v)
  }

  def bytesValueUTF8(v: UTF8String): java.lang.Double =
    if (v == null) null else bytesValue(v.toString)

  /** Prometheus label-charset sanitization for extracted keys: every
    * char outside `[a-zA-Z0-9_]` becomes '_', a leading digit gains a
    * '_' prefix.
    */
  def sanitizeLabelName(s: String): String = {
    val mapped = s.map(c =>
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_') c else '_')
    if (mapped.nonEmpty && mapped.charAt(0) >= '0' && mapped.charAt(0) <= '9')
      "_" + mapped
    else mapped
  }

  // ------------------------------------------------------------------
  // UTF8String entry points (codegen-callable, null-passing)
  // ------------------------------------------------------------------

  def logfmtGetUTF8(line: UTF8String, key: UTF8String): UTF8String = {
    val r = logfmtGet(line.toString, key.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  def jsonGetUTF8(line: UTF8String, path: UTF8String): UTF8String = {
    val r = jsonGet(line.toString, path.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
}
