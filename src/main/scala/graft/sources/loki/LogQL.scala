package graft.sources.loki

import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Contains, ElementAt, EqualTo, Expression, GetMapValue,
  GreaterThan, GreaterThanOrEqual, ILike, LessThan, LessThanOrEqual, Like,
  Literal, Lower, Not, RLike}
import org.apache.spark.sql.types.{MapType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** LogQL fragments + the expression translators, mirroring the
  * reference's `src/expr.rs`:
  *
  *   - label matchers  (expr_to_label_filter, expr.rs:11-47)
  *   - line filters    (expr_to_line_filter, expr.rs:49-112)
  *   - timestamp bounds (parse_timestamp_bound, expr.rs:114-152)
  *   - parsed-label predicates (beyond the reference: `| json` /
  *     `| logfmt` / `| pattern` / `| regexp` stages)
  *
  * [[translate]] is the one cascade over them — the analog of the
  * reference's `supports_filters_pushdown` (table.rs:140-156) — and every
  * rule that pushes a WHERE conjunct calls it. Translators return None for
  * anything outside the reference's whitelist — a rejected predicate stays
  * as a residual Spark Filter (the analog of
  * `TableProviderFilterPushDown::Unsupported`), so pushdown is only claimed
  * where Loki fully enforces it (SURVEY.md §7.4(e)).
  *
  * Unlike the reference, which interpolates values raw
  * (expr.rs:38-41,65-78,101-104), every value renders through one escaping
  * renderer ([[quote]]): a quote, backslash or control character
  * in a pushed value would otherwise change the query on the wire under
  * the Exact claim (SURVEY.md §7.4(d), resolved in favour of §7.4(e)).
  */
object LogQL {

  /** What one WHERE conjunct becomes on the wire ([[translate]]): a
    * window bound, a selector matcher, a line filter or a parser-stage
    * predicate.
    */
  sealed trait Pushed

  /** `{app="x"}` piece: label name + operator + value. */
  final case class LabelMatcher(label: String, op: String, value: String)
    extends Pushed {
    def render: String = s"""$label$op${quote(value)}"""
  }

  /** `|= "x"` / `|~ `re`` piece. */
  final case class LineFilter(op: String, pattern: String) extends Pushed {
    def render: String =
      // ip() forms (round 16): ops "|=ip" / "!=ip" — the pattern is a
      // validated [0-9./\- ] IPv4 spec, always safely double-quotable
      if (op.endsWith("ip")) s"""${op.dropRight(2)} ip("$pattern")"""
      // backtick literals take the pattern verbatim but cannot contain a
      // backtick; such a pattern falls back to the quoted-string form
      else if (pattern.contains('`')) s"$op ${quote(pattern)}"
      else s"$op `$pattern`"
  }

  /** `s` as a `"…"`-delimited string, appended to `sb` — the one
    * escaper in the program. LogQL strings follow Go syntax, and Go and
    * JSON escape a quote, a backslash and a control character alike, so
    * the same text is a pushed LogQL value, a push-payload or stub
    * response JSON string, and an `oracle_sql.json` entry. A raw newline
    * or tab inside a double-quoted LogQL string is a parse error, and a
    * pushed value always re-parses to itself (parse∘render is the
    * identity, property-pinned in LogQLProps).
    */
  def quoteTo(sb: java.lang.StringBuilder, s: String): java.lang.StringBuilder = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** `s` as an escaped `"…"` string ([[quoteTo]]). */
  def quote(s: String): String =
    quoteTo(new java.lang.StringBuilder(s.length + 2), s).toString

  /** A bound of Loki's [start, end) window, in ns. */
  sealed trait TsBound extends Pushed { def ns: Long }
  final case class Start(ns: Long) extends TsBound
  final case class End(ns: Long) extends TsBound

  /** A parser-stage predicate before its extraction label is assigned
    * ([[parsedPredicate]]'s result); [[labelled]] names it.
    */
  final case class Parsed(
      parser: String, key: String, filters: Seq[(String, String)])
    extends Pushed {
    def labelled(label: String): ParsedFilter =
      ParsedFilter(parser, key, label, filters)
  }

  /** One pushed PARSER-stage predicate (round 15): an extraction stage
    * (`| json gp0="key"` / `| logfmt gp0="key"`, explicit-expression
    * form) followed by label-filter stages over the extracted label.
    * `label` is a generated name in the reserved `gp<N>` namespace —
    * the explicit-expression form plus a reserved target name is what
    * makes the push exact: a BARE `| json | key="v"` would silently
    * read the STREAM label `key` instead of the parsed field whenever a
    * stream carries that label (Loki renames conflicting extractions to
    * `key_extracted`), and no plan-time check can see stream labels.
    * Streams carrying literal `gp<N>` labels are outside the supported
    * surface (documented reservation).
    *
    * `filters` empty = extraction only — the metric rewrite's `sum by`
    * grouping over a parsed label.
    */
  final case class ParsedFilter(
      parser: String,
      key: String,
      label: String,
      filters: Seq[(String, String)]) {
    /** Identity without the generated label (idempotent re-capture). */
    def pred: Parsed = Parsed(parser, key, filters)
    /** Wire rendering. For `pattern`, `key` is the whole template with
      * the target capture's name spelled as the NUL placeholder
      * (substituted with the generated label here — a capture name can't
      * be chosen at translation time, the rule assigns it) and every
      * other named capture anonymized.
      */
    def render: String = {
      val ext = parser match {
        // pattern AND (round 16) regexp carry the placeholder-marked
        // template/pattern as `key`
        case "pattern" | "regexp" =>
          s"| $parser ${quote(key.replace("\u0000", label))}"
        case _ => s"| $parser $label=${quote(key)}"
      }
      (ext +: filters.map { case (op, v) => s"| $label$op${quote(v)}" })
        .mkString(" ")
    }
  }

  /** Render matchers as one `{…}` selector, line filters appended
    * (reference table.rs:124-128).
    */
  def assemble(matchers: Seq[LabelMatcher], lines: Seq[LineFilter]): String =
    (matchers.map(_.render).mkString("{", ", ", "}") +: lines.map(_.render))
      .mkString(" ")

  /** One log query as it goes on the wire: `query` is the full LogQL,
    * `selector` its matcher-only `{…}` part (what index/stats probes
    * take).
    */
  final case class LogQuery(selector: String, query: String)

  /** The one assembler of a log query, shared by the scan, the metric
    * rewrite and DELETE. Matchers: the `selector` option's, then the
    * pushed ones. Without a `selector` option the table's row set is the
    * `default_label` matcher `{label=~".+"}`, and it stays in the query
    * unless a pushed matcher already requires that label to be non-empty
    * (an `=` or `=~` that rejects ""): a pushed matcher on another label
    * would otherwise widen the query to streams without the default
    * label, which the unfiltered table does not read. The reference adds
    * the default matcher only when no matcher is pushed at all
    * (table.rs:116-122). Stages: the option's (user
    * order), then the pushed line filters, then the parser stages —
    * line filters are cheaper and LogQL applies stages in order, so
    * filtering lines before parsing them is the shape a human would
    * write. None when there is no matcher and no default label: LogQL
    * requires one, and each caller decides what that means (the scan
    * throws, the metric rewrite declines, DELETE refuses).
    */
  def logQuery(
      options: LokiOptions,
      matchers: Seq[LabelMatcher],
      lines: Seq[LineFilter],
      parsed: Seq[ParsedFilter]): Option[LogQuery] = {
    val (optMatchers, optStages) =
      options.selector.map(parseSelector).getOrElse((Nil, Nil))
    val ms =
      if (optMatchers.nonEmpty) Some(optMatchers ++ matchers)
      else options.defaultLabel match {
        case Some(l) if !matchers.exists(m => m.label == l &&
            (m.op == "=" || m.op == "=~") && !matchesAbsentLabel(m)) =>
          Some(defaultMatcher(l) +: matchers)
        case _ => Some(matchers).filter(_.nonEmpty)
      }
    ms.map { m =>
      val selector = assemble(m, Nil)
      val stages = optStages.map(_.render) ++ lines.map(_.render) ++
        parsed.map(_.render)
      LogQuery(selector, (selector +: stages).mkString(" "))
    }
  }

  def defaultMatcher(defaultLabel: String): LabelMatcher =
    LabelMatcher(defaultLabel, "=~", ".+")

  /** A user-stated pipeline stage from the `selector` option, re-rendered
    * in USER ORDER on the wire (round 15 extended the option past line
    * filters to the full stage grammar: parser stages and label filters,
    * so a streaming TAIL — whose scans DSv2 filter pushdown never
    * reaches — can run `{app="x"} | json | level="error"` server-side).
    */
  sealed trait PipeStage { def render: String }
  final case class PLine(f: LineFilter) extends PipeStage {
    def render: String = f.render
  }
  /** `| json` / `| logfmt`, bare (full extraction) or with explicit
    * expressions `lbl="key"` (shorthand `lbl` ≡ `lbl="lbl"`).
    */
  final case class PParser(kind: String, exprs: Seq[(String, String)])
    extends PipeStage {
    def render: String = kind match {
      // one string operand — the template/pattern, carried as the
      // single expr's key (label slot unused)
      case "pattern" | "regexp" => s"| $kind ${quote(exprs.head._2)}"
      case _ =>
        if (exprs.isEmpty) s"| $kind"
        else s"| $kind " + exprs.map { case (l, k) => s"$l=${quote(k)}" }
          .mkString(", ")
    }
  }
  /** Post-parser label filter `| lbl op "v"` (string ops), or the ip()
    * form `| lbl=ip("…")` / `| lbl!=ip("…")` (ops "=ip" / "!=ip",
    * round 16) — the value is then an IPv4 single/range/CIDR pattern.
    */
  final case class PLabelFilter(label: String, op: String, value: String)
    extends PipeStage {
    def render: String =
      if (op.endsWith("ip")) s"""| $label${op.dropRight(2)}ip("$value")"""
      else s"| $label$op${quote(value)}"
  }
  /** `| line_format "template"` (round 16) — rewrites the returned line
    * from a Go-template over the effective labels. The connector
    * accepts the `{{.label}}` interpolation subset (documented; full Go
    * templates carry functions/pipelines no host check could validate).
    */
  final case class PLineFormat(template: String) extends PipeStage {
    def render: String = s"| line_format ${quote(template)}"
  }
  /** `| label_format dst=src, dst2="template"` (round 16) — ident
    * operands RENAME (move src's value to dst, Loki semantics), quoted
    * operands SET dst from the rendered template.
    */
  final case class PLabelFormat(ops: Seq[(String, Either[String, String])])
    extends PipeStage {
    def render: String =
      "| label_format " + ops.map {
        case (dst, Left(src)) => s"$dst=$src"
        case (dst, Right(t)) => s"$dst=${quote(t)}"
      }.mkString(", ")
  }

  /** `| decolorize` (round 16, third tranche) — strips ANSI SGR color
    * sequences from the line, server-side; downstream stages see the
    * clean text (grafana/loki pipeline semantics). No operands.
    */
  case object PDecolorize extends PipeStage {
    def render: String = "| decolorize"
  }

  /** `| keep a, b="v"` / `| drop a, b="v"` (round 16, third tranche) —
    * label-set surgery over the effective labels: `drop` removes the
    * named labels (a value-qualified operand only where the value
    * matches); `keep` removes every label NOT named (error labels
    * exempt — grafana/loki keep_labels.go skips `__error__`/
    * `__error_details__`). Equality-qualified operands only, the
    * documented subset (full matcher operands carry regex semantics the
    * host never needs to validate — the stage rewrites output, not
    * selection).
    */
  final case class PKeepDrop(kind: String, ops: Seq[(String, Option[String])])
    extends PipeStage {
    def render: String =
      s"| $kind " + ops.map {
        case (l, None) => l
        case (l, Some(v)) => s"$l=${quote(v)}"
      }.mkString(", ")
  }

  /** Parse a raw LogQL log-selector string — the `selector` option's
    * value: `{label op "v", …}` (ops `=`, `!=`, `=~`, `!~`; values
    * double-quoted with Go-style escapes or backtick-raw) followed by
    * optional pipeline stages: line filters (`|=`, `!=`, `|~`, `!~`),
    * parser stages (`| json` / `| logfmt`, bare or with expression
    * lists), and label filters (`| lbl op "v"`). This is the matcher
    * model of reference table.rs:116-128 plus the stage grammar,
    * accepted as user text so a STREAMING read can push a full query:
    * Spark applies no DSv2 filter pushdown to micro-batch scans, and
    * without this option a filtered tail reads the full firehose and
    * filters host-side.
    *
    * Semantics are Loki's, verbatim — including Prometheus matcher
    * treatment of ABSENT labels (`{k!="v"}` also matches streams with no
    * label `k`, see [[matchesAbsentLabel]]), and parser-stage label
    * semantics (missing ≡ "", `_extracted` stream-label conflicts,
    * `__error__` rows kept unless filtered). The option states what goes
    * on the wire; no host-side residual is added or implied.
    *
    * Throws IllegalArgumentException with position context on malformed
    * input — at option-parse time, not first-task time.
    */
  def parseSelector(s: String): (Seq[LabelMatcher], Seq[PipeStage]) = {
    var i = 0
    def err(msg: String): Nothing = throw new IllegalArgumentException(
      s"selector parse error at offset $i: $msg (in: $s)")
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def ident(): String = {
      val st = i
      while (i < s.length &&
        (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      if (i == st) err("expected label name")
      s.substring(st, i)
    }
    // Go-style double-quoted string or raw backtick string. Unknown
    // escapes (e.g. the `\d` of a regex value typed without doubling)
    // pass through backslash-intact — lenient in the direction users
    // expect; the renderer then writes the backslash escaped.
    def str(): String = {
      if (i >= s.length) err("expected a string value")
      s.charAt(i) match {
        case '"' =>
          i += 1
          val sb = new StringBuilder
          while (i < s.length && s.charAt(i) != '"') {
            if (s.charAt(i) == '\\' && i + 1 < s.length) {
              s.charAt(i + 1) match {
                case '"' => sb += '"'; i += 2
                case '\\' => sb += '\\'; i += 2
                case 'n' => sb += '\n'; i += 2
                case 'r' => sb += '\r'; i += 2
                case 't' => sb += '\t'; i += 2
                case 'u' if i + 5 < s.length =>
                  sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
                  i += 6
                case c => sb += '\\'; sb += c; i += 2
              }
            } else { sb += s.charAt(i); i += 1 }
          }
          if (i >= s.length) err("unterminated quoted string")
          i += 1
          sb.toString
        case '`' =>
          i += 1
          val st = i
          while (i < s.length && s.charAt(i) != '`') i += 1
          if (i >= s.length) err("unterminated backtick string")
          val v = s.substring(st, i); i += 1; v
        case c => err(s"expected '\"' or '`', got '$c'")
      }
    }
    def matcherOp(): String = {
      if (i < s.length && (s.charAt(i) == '!' || s.charAt(i) == '=')) {
        val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
        if (two == "!=" || two == "=~" || two == "!~") { i += 2; two }
        else if (s.charAt(i) == '=') { i += 1; "=" }
        else err("expected one of =, !=, =~, !~")
      } else err("expected one of =, !=, =~, !~")
    }
    ws()
    if (i >= s.length || s.charAt(i) != '{') err("selector must start with '{'")
    i += 1
    val matchers = Seq.newBuilder[LabelMatcher]
    ws()
    if (i < s.length && s.charAt(i) != '}') {
      var more = true
      while (more) {
        ws()
        val l = ident(); ws(); val op = matcherOp(); ws(); val v = str()
        matchers += LabelMatcher(l, op, v)
        ws()
        if (i < s.length && s.charAt(i) == ',') { i += 1 } else more = false
      }
    }
    if (i >= s.length || s.charAt(i) != '}') err("expected '}' or ','")
    i += 1
    val stages = Seq.newBuilder[PipeStage]
    // `ip("pattern")` operand after a line/label filter op (round 16):
    // consumed when present, else None and the caller reads a string
    def ipArg(): Option[String] = {
      if (!(i + 2 < s.length && s.charAt(i) == 'i' && s.charAt(i + 1) == 'p' &&
          s.charAt(i + 2) == '(')) return None
      i += 3; ws()
      val p = str(); ws()
      if (i >= s.length || s.charAt(i) != ')') err("expected ')' after ip(…")
      i += 1
      Some(p)
    }
    ws()
    while (i < s.length) {
      s.charAt(i) match {
        case '|' if i + 1 < s.length && s.charAt(i + 1) == '=' =>
          i += 2; ws()
          stages += PLine(ipArg() match {
            case Some(p) => LineFilter("|=ip", p)
            case None => LineFilter("|=", str())
          })
        case '|' if i + 1 < s.length && s.charAt(i + 1) == '~' =>
          i += 2; ws(); stages += PLine(LineFilter("|~", str()))
        case '|' if i + 1 < s.length && s.charAt(i + 1) == '>' =>
          i += 2; ws(); stages += PLine(LineFilter("|>", str()))
        case '!' if i + 1 < s.length && s.charAt(i + 1) == '>' =>
          i += 2; ws(); stages += PLine(LineFilter("!>", str()))
        case '!' if i + 1 < s.length && s.charAt(i + 1) == '=' =>
          i += 2; ws()
          stages += PLine(ipArg() match {
            case Some(p) => LineFilter("!=ip", p)
            case None => LineFilter("!=", str())
          })
        case '!' if i + 1 < s.length && s.charAt(i + 1) == '~' =>
          i += 2; ws(); stages += PLine(LineFilter("!~", str()))
        case '|' =>
          // `| json [exprs]` / `| logfmt [exprs]` / `| label op "v"`
          i += 1; ws()
          val id = ident(); ws()
          if (id == "pattern" || id == "regexp") {
            stages += PParser(id, Seq(("", str())))
          } else if (id == "line_format") {
            stages += PLineFormat(str())
          } else if (id == "label_format") {
            // comma list of dst=src (rename) or dst="template" (set)
            val ops = Seq.newBuilder[(String, Either[String, String])]
            var more = true
            while (more) {
              val dst = ident(); ws()
              if (i >= s.length || s.charAt(i) != '=') err(
                "label_format operand needs dst=src or dst=\"template\"")
              i += 1; ws()
              if (i < s.length && (s.charAt(i) == '"' || s.charAt(i) == '`'))
                ops += ((dst, Right(str())))
              else ops += ((dst, Left(ident())))
              ws()
              if (i < s.length && s.charAt(i) == ',') { i += 1; ws() }
              else more = false
            }
            stages += PLabelFormat(ops.result())
          } else if (id == "decolorize") {
            stages += PDecolorize
          } else if (id == "keep" || id == "drop") {
            // comma list of label names, each optionally ="value"
            val ops = Seq.newBuilder[(String, Option[String])]
            var more = true
            while (more) {
              val l = ident(); ws()
              if (i < s.length && s.charAt(i) == '=' &&
                (i + 1 >= s.length ||
                  (s.charAt(i + 1) != '~' && s.charAt(i + 1) != '='))) {
                i += 1; ws()
                ops += ((l, Some(str())))
              } else ops += ((l, None))
              ws()
              if (i < s.length && s.charAt(i) == ',') { i += 1; ws() }
              else more = false
            }
            stages += PKeepDrop(id, ops.result())
          } else if (id == "json" || id == "logfmt") {
            val exprs = Seq.newBuilder[(String, String)]
            var more = i < s.length && s.charAt(i) != '|' &&
              s.charAt(i) != '!'
            while (more) {
              val lbl = ident(); ws()
              if (i < s.length && s.charAt(i) == '=' &&
                (i + 1 >= s.length || s.charAt(i + 1) != '=')) {
                i += 1; ws()
                exprs += ((lbl, str()))
              } else exprs += ((lbl, lbl)) // shorthand: | logfmt host
              ws()
              if (i < s.length && s.charAt(i) == ',') { i += 1; ws() }
              else more = false
            }
            stages += PParser(id, exprs.result())
          } else {
            val op = matcherOp(); ws()
            stages += (ipArg() match {
              case Some(p) =>
                if (op != "=" && op != "!=")
                  err(s"ip() takes = or !=, not $op")
                PLabelFilter(id, op + "ip", p)
              case None => PLabelFilter(id, op, str())
            })
          }
          ws()
        case _ => err(
          "expected a pipeline stage (|=, !=, |~, !~, | json, | logfmt, " +
            "| label op \"v\")")
      }
      ws()
    }
    (matchers.result(), stages.result())
  }

  /** Whether this matcher also selects streams WITHOUT the label. Loki
    * treats a missing label as "" (Prometheus selector semantics), so:
    * `!=`/`!~` match absent unless they reject "" … `=` matches absent iff
    * the value is empty … `=~` matches absent iff its pattern matches "".
    * Such matchers must keep their Spark-side residual (SQL drops the
    * NULL-map-access rows); the others are safely Exact.
    */
  def matchesAbsentLabel(m: LabelMatcher): Boolean = {
    def emptyMatches(p: String): Boolean =
      scala.util.Try("".matches(s"(?s)(?:$p)")).getOrElse(true) // unparsable → conservative
    m.op match {
      case "=" => m.value.isEmpty
      case "!=" => m.value.nonEmpty
      case "=~" => emptyMatches(m.value)
      case "!~" => !emptyMatches(m.value)
      case _ => true
    }
  }

  // ---------------------------------------------------------------------
  // Catalyst-side translators, composed by [[translate]].
  // ---------------------------------------------------------------------

  /** Loki's label-name grammar (Prometheus: `[a-zA-Z_][a-zA-Z0-9_]*`).
    * A key outside it CANNOT exist in Loki — `labels['foo-bar']` is valid
    * SQL (host-side it is always NULL), but interpolating it raw into a
    * selector or a `sum by (…)` clause ships malformed LogQL: a runtime
    * HTTP 400 on a predicate that previously worked as a residual Filter
    * (round-15 advice). Keys failing the grammar are simply not
    * recognized as label accesses, so every consumer — matcher
    * translation, metric grouping — falls back to host evaluation.
    */
  def validLabelName(k: String): Boolean =
    k.nonEmpty && !(k.charAt(0) >= '0' && k.charAt(0) <= '9') &&
      k.forall(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_')

  private object LabelsKey {
    def unapply(e: Expression): Option[String] = (e match {
      case GetMapValue(a: Attribute, Literal(k: UTF8String, StringType))
          if a.name == "labels" => Some(k.toString)
      // element_at(labels, 'k') — same NULL-on-missing semantics as
      // GetMapValue for maps in every mode since SPARK-40066, so the two
      // forms translate identically
      case ea: ElementAt => (ea.left, ea.right) match {
        case (a: Attribute, Literal(k: UTF8String, StringType))
            if a.name == "labels" && a.dataType.isInstanceOf[MapType] =>
          Some(k.toString)
        case _ => None
      }
      case _ => None
    }).filter(validLabelName)
  }

  private object StrLit {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) => Some(s.toString)
      // reference treats a NULL literal as "" (expr.rs:34-35)
      case Literal(null, StringType) => Some("")
      case _ => None
    }
  }

  /** Loki label matchers (`=~`/`!~`) are FULL-match RE2; Spark's `rlike` is
    * unanchored find. Wrapping the pattern as `(?s).*(?:p).*` makes
    * full-match ≡ find for the translated subset (anchors inside `p` still
    * bind to text start/end under RE2's automaton), so the Exact-pushdown
    * claim stays honest — a gap the reference inherits unwrapped
    * (expr.rs:37-42). The `(?s)` is load-bearing: without it the wrapper's
    * own `.*` cannot cross a newline under RE2 (real Loki compiles
    * matchers without DOTALL), so a label value with an embedded newline
    * would silently fail the full-match even though Spark's find
    * succeeds. It cannot leak into `p`'s semantics because [[javaToRe2]]
    * leaves no bare dots inside `p` — every dot is translated to an
    * explicit class first.
    */
  private def findSemantics(p: String): String = s"(?s).*(?:$p).*"

  /** `labels['k']` / `element_at(labels, 'k')` → the key — public so the
    * metric-aggregation rewrite ([[graft.plans.LokiMetricAggRule]]) can
    * recognize a GROUP BY on a label with the same forms the filter
    * translators accept.
    */
  def labelKey(e: Expression): Option[String] = LabelsKey.unapply(e)

  /** `labels['k'] <op> 'v'` → label matcher (=, !=, =~, !~). */
  def labelMatcher(e: Expression): Option[LabelMatcher] = e match {
    case EqualTo(LabelsKey(k), StrLit(v)) => Some(LabelMatcher(k, "=", v))
    case EqualTo(StrLit(v), LabelsKey(k)) => Some(LabelMatcher(k, "=", v))
    case Not(EqualTo(LabelsKey(k), StrLit(v))) => Some(LabelMatcher(k, "!=", v))
    case Not(EqualTo(StrLit(v), LabelsKey(k))) => Some(LabelMatcher(k, "!=", v))
    case RLike(LabelsKey(k), StrLit(v)) =>
      javaToRe2(v).map(q => LabelMatcher(k, "=~", findSemantics(q)))
    case Not(RLike(LabelsKey(k), StrLit(v))) =>
      javaToRe2(v).map(q => LabelMatcher(k, "!~", findSemantics(q)))
    case _ => None
  }

  /** Escape regex metacharacters (RE2-compatible — no \Q\E dependence). */
  private def regexEscape(s: String): String =
    s.flatMap { c =>
      if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString
    }

  /** Translate a Spark-side (Java) regex into an RE2 pattern with
    * IDENTICAL match semantics, or None when no sound translation exists
    * — the predicate then stays a residual Spark Filter, so pushdown is
    * only claimed where it is provably exact. False rejections merely
    * weaken pushdown; a false acceptance is silent row loss/gain under
    * the Exact claim — every rule below errs toward rejection.
    *
    * Three construct classes (round-14 sweep; the round-13 log_template
    * `\b` divergence proved this class is real, not theoretical):
    *
    *  1. REJECTED — Java-only or divergent with no RE2 equivalent:
    *     lookaround / atomic groups / possessive quantifiers / named
    *     groups / backreferences (RE2 parse errors — a pushed one is a
    *     runtime HTTP 400 with no residual to fall back on); EVERY
    *     inline `(?…)` construct except plain `(?:` — Java's `(?i)`
    *     folds ASCII-only where RE2 (?i) simple-folds Unicode (`(?i)k`
    *     matches KELVIN SIGN U+212A under RE2 only), and `(?m)`'s `$`
    *     honors different terminator sets; `\b`/`\B` (Java's boundary is
    *     Unicode-aware, RE2's is ASCII — the exact divergence
    *     log_template hit on `0000000aé`); `\v\V\h\H\R` (Java whitespace
    *     CLASSES; RE2's `\v` is the vertical-tab CHARACTER); `\e` (no
    *     RE2 escape); `\uXXXX` (RE2 reads a literal `u`); `\Z`/`\G`,
    *     `\b{g}`, octal `\0`, `&&` class intersection, `[` nested inside
    *     a class (Java class union; RE2 literal bracket); `\S` inside a
    *     class (a complement cannot inline into a positive class); a
    *     non-final unescaped `$` (see below); `\p{…}` beyond the 1-2
    *     letter Unicode general categories both engines share.
    *  2. TRANSLATED — divergent but exactly expressible: `.` → the
    *     explicit Java-dot class `[^\n\r\x{85}\x{2028}\x{2029}]` (RE2's
    *     dot excludes only `\n`, so a pushed bare dot would match `\r`
    *     rows Spark rejects); `\s` → Java's whitespace set INCLUDING
    *     vertical tab `[ \t\n\x0B\f\r]` (RE2's `\s` lacks `\x0B`), and
    *     `\S` (outside classes) its complement; a FINAL `$` →
    *     `(?:\r\n|[\n\r\x{85}\x{2028}\x{2029}])?\z` — Java's `$`
    *     matches before a final line terminator, RE2's `$` is
    *     end-of-text, so a pushed `err$` would silently drop `"err\n"`
    *     rows; the consuming rewrite is find-equivalent only when
    *     nothing follows, hence final-position-only.
    *  3. PASSED THROUGH — constructs both engines agree on byte for
    *     byte: literals, character classes, greedy/lazy quantifiers,
    *     alternation, plain groups, `^` (input start in both without
    *     `m`), `\A`/`\z`, `\w\W\d\D` (ASCII in both), `\xhh`/`\x{…}`.
    *
    * The output therefore contains only engine-agreeing constructs —
    * which is what makes the LogQLProps differential honest: Java-eval
    * of the OUTPUT equals RE2-eval of the output by construction, so
    * property-checking Java(out) == Java(in) on adversarial inputs
    * (non-ASCII, VT, CR, NEL, LS) pins RE2(out) == Java(in).
    */
  private[loki] def javaToRe2(p: String): Option[String] =
    javaToRe2Impl(p, null)

  /** [[javaToRe2]] for the `| regexp` PARSER stage (round 16): the same
    * translation, but Java NAMED groups `(?<name>…)` are accepted —
    * they are the stage's whole point — with the TARGET group renamed
    * to the NUL placeholder in RE2 spelling (`(?P<␀>`, substituted with
    * the rule's generated `gp<N>` label at render, the pattern-parser
    * template discipline) and every OTHER named group anonymized to
    * `(?:` (they are not extracted, and anonymizing kills their
    * stream-label `_extracted` shadowing risk). Renaming/anonymizing
    * cannot change match semantics: backrefs are rejected up front, so
    * group names are never referenced. None when the target group is
    * absent, duplicated (a Java compile error — the host expression is
    * all-NULL, inexpressible as a stage), or the pattern is outside the
    * translatable subset. Lookbehind `(?<=`/`(?<!` stays rejected — the
    * `<` dispatch checks the next char.
    */
  private[loki] def javaToRe2Named(p: String, target: String): Option[String] = {
    val st = new NamedState(target)
    javaToRe2Impl(p, st).filter(_ => st.found == 1)
  }

  private final class NamedState(val target: String) {
    var found = 0
    val seen = scala.collection.mutable.Set.empty[String]
  }

  private def javaToRe2Impl(p: String, named: NamedState): Option[String] = {
    // pre-screen for constructs the scanner below does not model.
    // \Q…\E is the sharp one (round-15 advice): inside a Java quoted
    // region the scanner would keep TRANSLATING (a '.' becomes the
    // explicit class), so a passed-through \Q would push a pattern that
    // literally matches the class text — silent row loss under the Exact
    // claim. \cX (Java control-char escape) and \k<name> (named backref)
    // are RE2 parse errors — a pushed one turns a working residual
    // Filter into a runtime HTTP 400 with no fallback.
    val javaOnly = Seq("*+", "++", "?+", "}+", "&&", "\\u", "\\p{java",
      "\\Z", "\\G", "\\b{", "\\0", "\\e", "\\R", "\\v", "\\V", "\\h", "\\H",
      "\\Q", "\\E", "\\c", "\\k")
    if (javaOnly.exists(p.contains) ||
        (1 to 9).exists(i => p.contains(s"\\$i"))) return None
    val sb = new StringBuilder
    var i = 0
    var inClass = false
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\\') {
        if (i + 1 >= p.length) return None // trailing backslash: malformed
        val n = p.charAt(i + 1)
        n match {
          case 'b' | 'B' => return None
          case 's' =>
            sb.append(
              if (inClass) " \\t\\n\\x0B\\f\\r" else "[ \\t\\n\\x0B\\f\\r]")
            i += 2
          case 'S' =>
            if (inClass) return None
            sb.append("[^ \\t\\n\\x0B\\f\\r]")
            i += 2
          case 'p' | 'P' =>
            if (i + 2 >= p.length || p.charAt(i + 2) != '{') return None
            val close = p.indexOf('}', i + 3)
            if (close < 0) return None
            val name = p.substring(i + 3, close)
            if (name.isEmpty || name.length > 2 || !name.charAt(0).isUpper)
              return None
            sb.append(p, i, close + 1)
            i = close + 1
          case _ => sb.append(c).append(n); i += 2
        }
      } else if (inClass) {
        c match {
          case '[' => return None // Java nested-class union; RE2 literal
          case ']' => inClass = false; sb.append(c); i += 1
          case _ => sb.append(c); i += 1
        }
      } else c match {
        case '[' =>
          inClass = true
          sb.append(c)
          i += 1
          if (i < p.length && p.charAt(i) == '^') { sb.append('^'); i += 1 }
          // "[]…]" / "[^]…]": POSIX/RE2 read a literal ']', Java errors —
          // divergent PARSE, reject rather than guess
          if (i < p.length && p.charAt(i) == ']') return None
        case '.' =>
          sb.append("[^\\n\\r\\x{85}\\x{2028}\\x{2029}]"); i += 1
        case '$' =>
          if (i != p.length - 1) return None
          sb.append("(?:\\r\\n|[\\n\\r\\x{85}\\x{2028}\\x{2029}])?\\z")
          i += 1
        case '(' if i + 1 < p.length && p.charAt(i + 1) == '?' =>
          if (i + 2 < p.length && p.charAt(i + 2) == ':') {
            sb.append("(?:"); i += 3
          } else if (named != null && i + 3 < p.length &&
              p.charAt(i + 2) == '<' &&
              p.charAt(i + 3) != '=' && p.charAt(i + 3) != '!') {
            // Java named group (?<name>…) — regexp-stage mode only
            val close = p.indexOf('>', i + 3)
            if (close < 0) return None
            val name = p.substring(i + 3, close)
            // Java's group-name grammar; a duplicate name is a Java
            // compile error (the host expression is all-NULL)
            if (!name.matches("[a-zA-Z][a-zA-Z0-9]*") ||
              !named.seen.add(name)) return None
            if (name == named.target) {
              named.found += 1
              sb.append("(?P<\u0000>")
            } else sb.append("(?:")
            i = close + 1
          } else return None
        case _ => sb.append(c); i += 1
      }
    }
    if (inClass) return None // unterminated class: malformed
    Some(sb.toString)
  }

  private object LineAttr {
    def unapply(e: Expression): Boolean = e match {
      case a: Attribute => a.name == "line"
      case _ => false
    }
  }

  /** `%…%` LIKE pattern with no `_` wildcard → contained text
    * (reference expr.rs:83-108: only this shape is pushable).
    */
  private def containsPattern(p: String): Option[String] =
    if (p.length >= 2 && p.startsWith("%") && p.endsWith("%")) {
      val inner = p.substring(1, p.length - 1)
      if (inner.contains('%') || inner.contains('_')) None else Some(inner)
    } else None

  /** Whether a case-insensitive match of `x` is the same under Spark's
    * `lower` (Java's full lowercasing) and RE2's `(?i)` (simple case-fold
    * orbits). They differ on `ſ` (U+017F, which RE2 folds to `s`), on `İ`
    * (U+0130, which Spark lowers to `i` + U+0307) and on non-ASCII
    * letters such as `µ`/`μ`. So only ASCII literals without `s` or `i`
    * push; `k` is safe, since the Kelvin sign folds to it on both sides.
    */
  private def foldsAlike(x: String): Boolean =
    x.forall(c => c < 0x80 && "sSiI".indexOf(c) < 0)

  /** Predicates on `line` → LogQL line filter. Handles both the raw
    * Like/ILike/RLike forms and the Contains forms Spark's
    * LikeSimplification may already have rewritten them into.
    */
  def lineFilter(e: Expression): Option[LineFilter] = e match {
    // regex ops, mirroring expr.rs:63-80. The literal-on-LEFT form is
    // deliberately NOT translated (deviation from the reference's
    // order-insensitive reading, expr.rs:63-80): Spark's RLike('p', line)
    // means "does 'p' contain a match of the regex stored in line", so
    // pushing it as "line matches p" would change the result set depending
    // on whether the optimizer fired the pushdown — and "push for pruning
    // only" is unsound here too, since the Loki match set is not a superset
    // of the SQL one. The form stays a residual Filter; SQL semantics win.
    case RLike(LineAttr(), StrLit(p)) =>
      javaToRe2(p).map(LineFilter("|~", _))
    case Not(RLike(LineAttr(), StrLit(p))) =>
      javaToRe2(p).map(LineFilter("!~", _))
    // LIKE family (expr.rs:98-105): (neg?, case-insensitive?). A pattern
    // CONTAINING its escape character is not translated: containsPattern
    // reads the raw pattern text, so '%a\\b%' (matching lines with `a\b`)
    // would push the two-character sequence `\b` — silent row loss under
    // the Exact claim. Escape-free patterns need no processing and stay
    // pushable; escaped ones keep their residual Filter.
    case Like(LineAttr(), StrLit(p), esc) if !p.contains(esc) =>
      containsPattern(p).map(x => LineFilter("|=", x))
    case Not(Like(LineAttr(), StrLit(p), esc)) if !p.contains(esc) =>
      containsPattern(p).map(x => LineFilter("!=", x))
    case ILike(LineAttr(), StrLit(p), esc) if !p.contains(esc) =>
      // the LIKE literal is plain text: regex-escape it before embedding in
      // the (?i) regex (a raw dot/paren would change semantics or break the
      // query — the reference pushes it raw, expr.rs:101-104)
      containsPattern(p).filter(foldsAlike)
        .map(x => LineFilter("|~", s"(?i)${regexEscape(x)}"))
    case Not(ILike(LineAttr(), StrLit(p), esc)) if !p.contains(esc) =>
      containsPattern(p).filter(foldsAlike)
        .map(x => LineFilter("!~", s"(?i)${regexEscape(x)}"))
    // post-LikeSimplification forms
    case Contains(LineAttr(), StrLit(x)) => Some(LineFilter("|=", x))
    case Not(Contains(LineAttr(), StrLit(x))) => Some(LineFilter("!=", x))
    // sound only for a lowercase literal: lower(line) can never contain
    // an uppercase character, so the SQL result is empty — pushing the
    // case-insensitive regex would RETURN rows the query must not
    case Contains(Lower(LineAttr()), StrLit(x)) if x == x.toLowerCase && foldsAlike(x) =>
      Some(LineFilter("|~", s"(?i)${regexEscape(x)}"))
    case Not(Contains(Lower(LineAttr()), StrLit(x))) if x == x.toLowerCase && foldsAlike(x) =>
      Some(LineFilter("!~", s"(?i)${regexEscape(x)}"))
    // Loki 3.x pattern LINE FILTERS (round 16, third tranche): `|>` /
    // `!>` — the host expression, this claim, and the conformance
    // surface all run LokiParsers' one anchored-template matcher, so
    // the push is exact by construction. An uncompilable template keeps
    // its residual (host-side it is SQL NULL — every row drops under
    // the filter / its negation — where a pushed filter would 400).
    case graft.functions.LokiPatternMatch(LineAttr(), StrLit(t))
        if LokiParsers.patternCompile(t).isRight =>
      Some(LineFilter("|>", t))
    case Not(graft.functions.LokiPatternMatch(LineAttr(), StrLit(t)))
        if LokiParsers.patternCompile(t).isRight =>
      Some(LineFilter("!>", t))
    // ip() line filters (round 16): `loki_line_ip(line, '10.0.0.0/16')`
    // → `|= ip("…")` — one shared candidate-scan implementation behind
    // host, claim, and stub, so the push is exact; a pattern outside
    // the IPv4 subset keeps its residual (host SQL NULL).
    case graft.functions.LokiLineIp(LineAttr(), StrLit(p))
        if LokiParsers.ipPatternRange(p) != null =>
      Some(LineFilter("|=ip", p))
    case Not(graft.functions.LokiLineIp(LineAttr(), StrLit(p)))
        if LokiParsers.ipPatternRange(p) != null =>
      Some(LineFilter("!=ip", p))
    case _ => None
  }

  // ---------------------------------------------------------------------
  // Parser-stage translators (round 15): predicates and groupings over
  // parsed-label accessors → | json / | logfmt pipeline stages.
  // ---------------------------------------------------------------------

  /** A Loki-semantics parsed-label accessor over the log line:
    * `logfmt_get(line,'k')` / `loki_json_get(line,'a.b')` → (parser,
    * key). Keys are restricted to label-grammar segments — the
    * explicit-expression path syntax both engines agree on; anything
    * fancier stays a host residual.
    */
  private object ParsedAccess {
    def unapply(e: Expression): Option[(String, String)] = e match {
      case graft.functions.LogfmtGet(LineAttr(), Literal(k: UTF8String, StringType))
          if validLabelName(k.toString) =>
        Some(("logfmt", k.toString))
      case graft.functions.LokiJsonGet(LineAttr(), Literal(p: UTF8String, StringType))
          if !p.toString.endsWith(".") && p.toString.split('.').nonEmpty &&
            p.toString.split('.').forall(validLabelName) =>
        Some(("json", p.toString))
      case _ => None
    }
  }

  /** `loki_pattern_get(line, template, field)` → the PUSHED template:
    * the target capture's name replaced by the NUL placeholder (the
    * rule substitutes its generated `gp<N>` label at render — see
    * [[ParsedFilter.render]]) and every OTHER named capture anonymized
    * to `<_>` (they aren't filtered on, and anonymizing kills the
    * stream-label `_extracted` shadowing risk for them too). Pushable
    * when the template compiles, names the field, and no literal
    * contains '<' (a literal '<' could re-parse as a capture after the
    * rebuild — err to rejection).
    */
  private object PatternAccess {
    def unapply(e: Expression): Option[String] = e match {
      case graft.functions.LokiPatternGet(LineAttr(),
          Literal(t: UTF8String, StringType), Literal(f: UTF8String, StringType)) =>
        val field = f.toString
        LokiParsers.patternCompile(t.toString) match {
          case Right(toks)
              if toks.exists {
                case LokiParsers.PatCap(Some(n)) => n == field
                case _ => false
              } && toks.forall {
                case LokiParsers.PatLit(s) => !s.contains('<')
                case _ => true
              } =>
            Some(toks.map {
              case LokiParsers.PatLit(s) => s
              case LokiParsers.PatCap(Some(n)) if n == field => "<\u0000>"
              case LokiParsers.PatCap(_) => "<_>"
            }.mkString)
          case _ => None
        }
      case _ => None
    }
  }

  /** `get_json_object(line, '$.a.b')` → the dotted path, when every
    * segment is label-grammar plain (no `['…']`, no array indexes, no
    * wildcards — the subset whose Jackson-streaming semantics are
    * property-pinned ≡ [[LokiParsers.jsonGet]]).
    */
  private object GetJsonPath {
    def unapply(e: Expression): Option[String] = e match {
      case org.apache.spark.sql.catalyst.expressions.GetJsonObject(
          LineAttr(), Literal(p: UTF8String, StringType)) =>
        val s = p.toString
        // trailing-dot paths split the same as their dotless form here
        // but are a Jackson parse error (NULL) on the Spark side — reject
        if (s.length > 2 && s.startsWith("$.") && !s.endsWith(".") &&
          s.substring(2).split('.').forall(validLabelName))
          Some(s.substring(2))
        else None
      case _ => None
    }
  }

  /** `loki_regexp_get(line, pattern, group)` → the PUSHED RE2 pattern
    * (round 16 — Loki's fourth parser): target group renamed to the NUL
    * placeholder, other named groups anonymized, body translated by
    * [[javaToRe2Named]]'s engine-agreement rules. Pushable when the
    * translation holds and the group name fits the label grammar (the
    * wire substitutes a `gp<N>` label for it, but the HOST extraction
    * uses the Java name, which Java restricts to alphanumerics anyway).
    */
  private object RegexpAccess {
    def unapply(e: Expression): Option[String] = e match {
      case graft.functions.LokiRegexpGet(LineAttr(),
          Literal(pat: UTF8String, StringType),
          Literal(grp: UTF8String, StringType)) =>
        javaToRe2Named(pat.toString, grp.toString)
      case _ => None
    }
  }

  /** Any parsed-label accessor: the json/logfmt pair, the pattern
    * template form, or the regexp named-capture form — one op surface
    * for all four parsers.
    */
  private object AnyParsedAccess {
    def unapply(e: Expression): Option[(String, String)] =
      ParsedAccess.unapply(e)
        .orElse(PatternAccess.unapply(e).map(t => ("pattern", t)))
        .orElse(RegexpAccess.unapply(e).map(t => ("regexp", t)))
  }

  /** The pushed-predicate shape: (parser, key, label-filter ops). The
    * caller assigns the generated label (see [[ParsedFilter]]).
    *
    * Exactness per op (host NULL ≡ wire "" ≡ absent/empty/parse-fail,
    * the shared [[LokiParsers]] model):
    *
    *   - `=  v` (v nonempty): host keeps value==v; wire `| x="v"` —
    *     missing ⇒ "" ≠ v dropped, identical.
    *   - `!= v`: host keeps present-and-≠v (NULL drops); wire needs the
    *     missing-guard `| x!="" | x!="v"` — without the guard Loki KEEPS
    *     rows with the key absent ("" ≠ v) that SQL's NULL drops.
    *   - `=~ p`: RE2-translatable p ([[javaToRe2]]) wrapped to find
    *     semantics, REJECTED when p matches "" (wire would keep missing
    *     rows the host's NULL drops).
    *   - `!~ p`: missing-guard + negated wrapped pattern; no empty-match
    *     screen needed — guarded rows are never "".
    *
    * `get_json_object` equality additionally screens the literal: empty
    * (Spark returns '' for an empty json string where the label model
    * reads absent), composite-looking (`{`/`[` lead — raw-slice vs
    * Jackson re-render whitespace could differ; both sides still agree
    * the compare is false, so rejection just keeps the residual), and
    * `null`/`true`/`false` sentinels conservatively (`null`: Spark
    * yields SQL NULL while a hypothetical engine rendering the keyword
    * text would match — err to rejection; booleans are literal-text on
    * both sides but cost nothing to keep pushable, so they pass).
    */
  /** Whether an RE2 pattern matches "" (unparsable → conservative true). */
  private def re2MatchesEmpty(re2: String): Boolean =
    scala.util.Try("".matches(s"(?s)(?:$re2)")).getOrElse(true)

  /** STREAM-label predicate → guarded label-filter STAGES (round 16, the
    * filtered-aggregate channel): unlike selector MATCHERS — which bind
    * the whole query — stage-form label filters compose per metric
    * KIND, which is what `count(*) FILTER (WHERE labels['env']='prod')`
    * needs. Exactness mirrors [[parsedPredicate]]'s op table (stage
    * semantics read a missing label as ""): `=` needs a nonempty
    * literal, `!=`/`!~` carry the missing-guard, `=~` rejects
    * empty-matching patterns.
    */
  def labelFilterStages(e: Expression): Option[Seq[PLabelFilter]] = e match {
    case EqualTo(LabelsKey(k), StrLit(v)) if v.nonEmpty =>
      Some(Seq(PLabelFilter(k, "=", v)))
    case EqualTo(StrLit(v), LabelsKey(k)) if v.nonEmpty =>
      Some(Seq(PLabelFilter(k, "=", v)))
    case Not(EqualTo(LabelsKey(k), StrLit(v))) =>
      Some(Seq(PLabelFilter(k, "!=", ""), PLabelFilter(k, "!=", v)))
    case Not(EqualTo(StrLit(v), LabelsKey(k))) =>
      Some(Seq(PLabelFilter(k, "!=", ""), PLabelFilter(k, "!=", v)))
    case RLike(LabelsKey(k), StrLit(p)) =>
      javaToRe2(p).filterNot(re2MatchesEmpty)
        .map(q => Seq(PLabelFilter(k, "=~", findSemantics(q))))
    case Not(RLike(LabelsKey(k), StrLit(p))) =>
      javaToRe2(p).map(q =>
        Seq(PLabelFilter(k, "!=", ""), PLabelFilter(k, "!~", findSemantics(q))))
    case _ => None
  }

  def parsedPredicate(e: Expression): Option[(String, String, Seq[(String, String)])] = {
    def eqCase(acc: (String, String), v: String) =
      if (v.nonEmpty) Some((acc._1, acc._2, Seq(("=", v)))) else None
    def gjoValueOk(v: String): Boolean = {
      val t = v.trim
      v.nonEmpty && !t.startsWith("{") && !t.startsWith("[") && v != "null" &&
        // float-looking literals: Spark RE-RENDERS float json numbers
        // (5e2 → 500.0), so `= '1.5'` could match a line whose raw wire
        // text is 1.50 — only pure-integer numerics stay pushable (both
        // sides canonicalize ints; LokiParsersProps pins it)
        !(v.matches("-?[0-9.eE+]+") && !v.matches("-?(0|[1-9][0-9]*)"))
    }
    def matchesEmpty(re2: String): Boolean =
      scala.util.Try("".matches(s"(?s)(?:$re2)")).getOrElse(true)
    e match {
      case EqualTo(AnyParsedAccess(p, k), StrLit(v)) => eqCase((p, k), v)
      case EqualTo(StrLit(v), AnyParsedAccess(p, k)) => eqCase((p, k), v)
      case Not(EqualTo(AnyParsedAccess(p, k), StrLit(v))) =>
        Some((p, k, Seq(("!=", ""), ("!=", v))))
      case Not(EqualTo(StrLit(v), AnyParsedAccess(p, k))) =>
        Some((p, k, Seq(("!=", ""), ("!=", v))))
      case RLike(AnyParsedAccess(p, k), StrLit(pat)) =>
        javaToRe2(pat).filterNot(matchesEmpty)
          .map(q => (p, k, Seq(("=~", findSemantics(q)))))
      case Not(RLike(AnyParsedAccess(p, k), StrLit(pat))) =>
        javaToRe2(pat)
          .map(q => (p, k, Seq(("!=", ""), ("!~", findSemantics(q)))))
      case EqualTo(GetJsonPath(path), StrLit(v)) if gjoValueOk(v) =>
        Some(("json", path, Seq(("=", v))))
      case EqualTo(StrLit(v), GetJsonPath(path)) if gjoValueOk(v) =>
        Some(("json", path, Seq(("=", v))))
      case _ => None
    }
  }

  /** A bare parsed accessor usable as a metric-rewrite GROUP BY key:
    * `GROUP BY logfmt_get(line,'k')` ⇒ `sum by (gp0) (… | logfmt
    * gp0="k" …)`. Only the Loki-semantics accessors qualify — grouping
    * on `get_json_object` is rejected because Spark's '' result for an
    * empty json string value would form its own host-side group where
    * the wire merges it into the absent (NULL) series.
    */
  def parsedGroupKey(e: Expression): Option[(String, String)] =
    AnyParsedAccess.unapply(e)

  private object TsAttr {
    def unapply(e: Expression): Boolean = e match {
      case a: Attribute => a.name == "timestamp" && a.dataType == TimestampType
      case _ => false
    }
  }

  /** µs → ns with SATURATION: timestamps past 2262-04-11 (the int64-ns
    * horizon — e.g. the common `<= TIMESTAMP '9999-12-31'` open-bound
    * sentinel) overflow a plain ×1000, wrapping to a negative bound and
    * silently emptying the scan under an Exact claim. Saturating keeps
    * the pushed window semantically exact: no log can carry an ns
    * timestamp beyond the horizon, so a clamped bound admits/excludes
    * exactly the same rows.
    */
  private[loki] def usToNsSat(us: Long): Long =
    try math.multiplyExact(us, 1000L)
    catch {
      case _: ArithmeticException =>
        if (us > 0) Long.MaxValue else Long.MinValue
    }

  private object TsUs {
    /** A µs timestamp literal (SURVEY.md §7.4(b)). */
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(us: java.lang.Long, TimestampType) => Some(us)
      case _ => None
    }
  }

  /** `timestamp </<=/>/>= literal` → Start/End bound, flipping when the
    * literal is on the left (expr.rs:129-147). `=` unsupported, like the
    * reference. Loki's API window is [start, end) in ns, while Spark reads
    * each row's ns truncated to µs: `ts > T` and `ts <= T` therefore turn
    * on the first ns of the NEXT µs — a row at T·1000 + 1 ns reads as T,
    * so it fails `> T` and passes `<= T`. The reference maps both
    * variants to the bare bound (expr.rs:132-135), which is off at the
    * boundary under an Exact claim.
    */
  def timestampBound(e: Expression): Option[TsBound] = {
    def nextUs(us: Long): Long =
      if (us == Long.MaxValue) Long.MaxValue else usToNsSat(us + 1)
    e match {
      case GreaterThan(TsAttr(), TsUs(us)) => Some(Start(nextUs(us)))
      case GreaterThanOrEqual(TsAttr(), TsUs(us)) => Some(Start(usToNsSat(us)))
      case LessThan(TsAttr(), TsUs(us)) => Some(End(usToNsSat(us)))
      case LessThanOrEqual(TsAttr(), TsUs(us)) => Some(End(nextUs(us)))
      // lit > ts ⇔ ts < lit, and so on
      case GreaterThan(TsUs(us), TsAttr()) => Some(End(usToNsSat(us)))
      case GreaterThanOrEqual(TsUs(us), TsAttr()) => Some(End(nextUs(us)))
      case LessThan(TsUs(us), TsAttr()) => Some(Start(nextUs(us)))
      case LessThanOrEqual(TsUs(us), TsAttr()) => Some(Start(usToNsSat(us)))
      case _ => None
    }
  }

  /** The one pushdown cascade: which LogQL piece a WHERE conjunct
    * becomes, or None when it must stay a residual. Tried in order:
    * window bound, label matcher, line filter, then (when `pushParsers`)
    * a parser-stage predicate. Each caller keeps its own policy over the
    * result — the scan keeps absent-label matchers as a residual too
    * ([[matchesAbsentLabel]]), the metric rewrite and DELETE refuse them.
    */
  def translate(e: Expression, pushParsers: Boolean): Option[Pushed] =
    timestampBound(e)
      .orElse(labelMatcher(e))
      .orElse(lineFilter(e))
      .orElse(
        if (pushParsers) parsedPredicate(e).map { case (p, k, fs) => Parsed(p, k, fs) }
        else None)
}
