package graft.loki

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}

import graft.SeededProperties
import graft.sources.loki.LogQL

/** ScalaCheck properties for the LogQL translators (sbt runs Properties
  * suites natively; no scalatest bridge needed). Generators sweep the
  * label/value/pattern space the reference interpolates raw.
  */
object LogQLProps extends SeededProperties("LogQL") {

  // the Java↔RE2 differential properties hunt rare divergence corners
  // (specific codepoint × construct coincidences) — give every property
  // a deeper sweep than the scalacheck default
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    super.overrideParameters(p).withMinSuccessfulTests(300)

  private val labels = AttributeReference("labels",
    MapType(StringType, StringType, valueContainsNull = false), nullable = false)()
  private val line = AttributeReference("line", StringType, nullable = false)()

  private def s(v: String) = Literal(UTF8String.fromString(v), StringType)

  private val ident: Gen[String] = for {
    h <- Gen.alphaChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString

  private val value: Gen[String] =
    Gen.listOfN(8, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', '.', '*')))
      .map(_.mkString)

  property("label eq round-trips for any key/value") =
    Prop.forAll(ident, value) { (k, v) =>
      LogQL.labelMatcher(EqualTo(GetMapValue(labels, s(k)), s(v)))
        .map(_.render).contains(s"""$k="$v"""")
    }

  property("label eq is side-symmetric") =
    Prop.forAll(ident, value) { (k, v) =>
      LogQL.labelMatcher(EqualTo(GetMapValue(labels, s(k)), s(v))) ==
        LogQL.labelMatcher(EqualTo(s(v), GetMapValue(labels, s(k))))
    }

  property("contains LIKE %x% pushes iff inner has no wildcard") =
    Prop.forAll(value) { x =>
      val pushed = LogQL.lineFilter(Like(line, s(s"%$x%"), '\\'))
      val hasWildcard = x.contains('%') || x.contains('_')
      if (hasWildcard) pushed.isEmpty
      else pushed.map(_.render).contains(s"|= `$x`")
    }

  property("non-%x% LIKE patterns never push") =
    Prop.forAll(value) { x =>
      LogQL.lineFilter(Like(line, s(s"$x%"), '\\')).isEmpty &&
      LogQL.lineFilter(Like(line, s(s"%$x"), '\\')).isEmpty
    }

  property("timestamp bound flips exactly under operand swap") =
    Prop.forAll(Gen.chooseNum(0L, 4102444800000000L)) { us =>
      val ts = AttributeReference("timestamp", TimestampType, nullable = false)()
      val lit = Literal(us, TimestampType)
      // ts > lit ⇔ lit < ts; strict > excludes the whole boundary µs
      (LogQL.timestampBound(GreaterThan(ts, lit)),
        LogQL.timestampBound(LessThan(lit, ts))) match {
        case (Some(LogQL.Start(a)), Some(LogQL.Start(b))) =>
          a == b && a == (us + 1) * 1000L
        case _ => false
      }
    }

  property("matchesAbsentLabel agrees with evaluating the matcher on \"\"") =
    Prop.forAll(ident, value, Gen.oneOf("=", "!=", "=~", "!~")) { (k, v, op) =>
      // ground truth: Loki evaluates a missing label as the empty string —
      // replicate the stub's semantics directly and compare
      val wrapped = op match {
        case "=~" | "!~" => s".*(?:${java.util.regex.Pattern.quote(v)}).*"
        case _ => v
      }
      val m = LogQL.LabelMatcher(k, op, wrapped)
      val evalOnEmpty = op match {
        case "=" => "" == wrapped
        case "!=" => "" != wrapped
        case "=~" => "".matches(s"(?s)(?:$wrapped)")
        case "!~" => !"".matches(s"(?s)(?:$wrapped)")
      }
      LogQL.matchesAbsentLabel(m) == evalOnEmpty
    }

  property("empty-matching positive matchers are flagged, anchored ones not") =
    Prop.forAll(ident) { k =>
      LogQL.matchesAbsentLabel(LogQL.LabelMatcher(k, "=", "")) &&
      !LogQL.matchesAbsentLabel(LogQL.LabelMatcher(k, "=", "x")) &&
      LogQL.matchesAbsentLabel(LogQL.LabelMatcher(k, "=~", ".*")) &&
      !LogQL.matchesAbsentLabel(LogQL.LabelMatcher(k, "=~", ".*(?:^v$).*")) &&
      LogQL.matchesAbsentLabel(LogQL.LabelMatcher(k, "!=", "x")) &&
      !LogQL.matchesAbsentLabel(LogQL.LabelMatcher(k, "!=", ""))
    }

  property("assemble always yields selector-then-filters shape") =
    Prop.forAll(ident, value, value) { (k, v, pat) =>
      val q = LogQL.assemble(
        Seq(LogQL.LabelMatcher(k, "=", v)), Seq(LogQL.LineFilter("|=", pat)))
      q.startsWith(s"""{$k="$v"}""") && q.endsWith(s"`$pat`")
    }

  // ---- split=stats boundary placement (LokiScan.balancedCuts) ----

  private val windowGen: Gen[(Long, Long)] = for {
    s0 <- Gen.chooseNum(0L, 1L << 40)
    w <- Gen.chooseNum(10000L, 1L << 50)
  } yield (s0, s0 + w)

  // synthetic mass: a set of point-clusters with weights inside the window
  private def clustersGen(s0: Long, e0: Long): Gen[Seq[(Long, Long)]] =
    Gen.chooseNum(1, 12).flatMap { k =>
      Gen.listOfN(k, for {
        pos <- Gen.chooseNum(s0, e0 - 1)
        w <- Gen.chooseNum(1L, 100000L)
      } yield (pos, w))
    }

  private def countFn(cl: Seq[(Long, Long)]): (Long, Long) => Long =
    (lo, hi) => cl.collect { case (p, w) if p >= lo && p < hi => w }.sum

  property("balancedCuts covers [s,e) disjointly for any mass structure") =
    Prop.forAll(windowGen) { case (s0, e0) =>
      Prop.forAll(clustersGen(s0, e0), Gen.chooseNum(2, 16)) { (cl, eff) =>
        graft.sources.loki.LokiScan
          .balancedCuts(countFn(cl), s0, e0, eff) match {
          case None => Prop.passed // zero mass: width fallback handles it
          case Some(bounds) =>
            val coverOk = bounds.head._1 == s0 && bounds.last._2 == e0
            val chainOk = bounds.sliding(2).forall {
              case Seq((_, h1), (l2, _)) => h1 == l2
              case _ => true
            }
            val orderOk = bounds.forall { case (l, h) => l < h }
            val countOk = bounds.size <= eff
            Prop(coverOk && chainOk && orderOk && countOk) :|
              s"bounds=$bounds eff=$eff"
        }
      }
    }

  property("balancedCuts is deterministic in the counts: parallel == serial") =
    Prop.forAll(windowGen) { case (s0, e0) =>
      Prop.forAll(clustersGen(s0, e0), Gen.chooseNum(2, 16)) { (cl, eff) =>
        // the level-synchronous frontier decides which bins split from
        // their counts alone — probe order/parallelism must not change
        // the placement (the round-9 parallel-probe rewrite's contract)
        val serial = graft.sources.loki.LokiScan
          .balancedCuts(countFn(cl), s0, e0, eff)
        val par = graft.sources.loki.LokiScan
          .balancedCuts(countFn(cl), s0, e0, eff, probeParallelism = 7)
        Prop(serial == par) :| s"serial=$serial par=$par"
      }
    }

  property("balancedCuts under an immediate stop budget yields the width fallback") =
    Prop.forAll(windowGen) { case (s0, e0) =>
      Prop.forAll(clustersGen(s0, e0), Gen.chooseNum(2, 16)) { (cl, eff) =>
        // wall-clock budget exhausted before any refinement: no interior
        // edge exists, so the only possible placement is ONE slice — a
        // degenerate result that would serialize a partitions=N scan
        // through a single request AND get cached. The contract is None
        // → the caller's (uncached) equal-width fallback.
        val r = graft.sources.loki.LokiScan.balancedCuts(
          countFn(cl), s0, e0, eff, shouldStop = () => true)
        Prop(r.isEmpty) :| s"expected width fallback, got $r"
      }
    }

  property("balancedCuts covers exactly even against a LYING count source") =
    Prop.forAll(windowGen, Gen.chooseNum(2, 8), Gen.long) { case ((s0, e0), eff, seed) =>
      // adversarial: counts are arbitrary (inconsistent, non-additive) —
      // the cover/disjoint/order invariants must hold anyway, because
      // correctness never depends on what the stats endpoint reports
      val rnd = new scala.util.Random(seed)
      val lying: (Long, Long) => Long = (_, _) => rnd.nextLong(1L << 40) + 1
      graft.sources.loki.LokiScan.balancedCuts(lying, s0, e0, eff) match {
        case None => Prop.passed
        case Some(bounds) =>
          Prop(bounds.head._1 == s0 && bounds.last._2 == e0 &&
            bounds.forall { case (l, h) => l < h } &&
            bounds.sliding(2).forall {
              case Seq((_, h1), (l2, _)) => h1 == l2
              case _ => true
            }) :| s"bounds=$bounds"
      }
    }

  // ------------------------------------------------------ selector parser

  private val matcherOp: Gen[String] = Gen.oneOf("=", "!=", "=~", "!~")
  // |>/!> included (round 16): the pattern-filter ops ride the same
  // string renderer, so any value bytes must round-trip for them too
  private val lineOp: Gen[String] =
    Gen.oneOf("|=", "!=", "|~", "!~", "|>", "!>")

  /** Values sweeping the escaping-relevant space: quotes, backslashes,
    * backticks, control chars, regex metachars, unicode.
    */
  private val hardValue: Gen[String] =
    Gen.listOfN(10, Gen.frequency(
      6 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('"', '\\', '`', '\n', '\t', ' '),
      1 -> Gen.oneOf('.', '*', '+', '(', ')', '{', '}', ',', '|'),
      1 -> Gen.oneOf('é', 'λ', '日'))).map(_.mkString)

  private val matcherGen: Gen[LogQL.LabelMatcher] = for {
    k <- ident; op <- matcherOp; v <- hardValue
  } yield LogQL.LabelMatcher(k, op, v)

  private val lineGen: Gen[LogQL.LineFilter] = for {
    op <- lineOp; p <- hardValue
  } yield LogQL.LineFilter(op, p)

  property("parseSelector inverts assemble(escape=true) for ANY value bytes") =
    Prop.forAll(
      Gen.nonEmptyListOf(matcherGen).map(_.take(4)),
      Gen.listOf(lineGen).map(_.take(3))) { (ms, ls) =>
      val q = LogQL.assemble(ms, ls)
      val (pm, pl) = LogQL.parseSelector(q)
      // quoted-string rendering escapes; parse decodes — matcher values
      // and stage patterns must round-trip byte-for-byte. One accepted
      // asymmetry: an escape-free BACKTICK render (`p`) re-parses exactly
      // too, so both renderers are covered by the same property.
      (Prop(pm == ms) :| s"matchers: $pm vs $ms (q=$q)") &&
        (Prop(pl == ls.map(LogQL.PLine)) :| s"lines: $pl vs $ls (q=$q)")
    }

  // full stage grammar (round 15): parser stages and label filters
  // round-trip through the escaping renderer alongside line filters
  private val labelIdent: Gen[String] = for {
    h <- Gen.alphaChar
    t <- Gen.listOfN(4, Gen.oneOf(Gen.alphaNumChar, Gen.const('_')))
  } yield (h :: t).mkString

  private val stageGen: Gen[LogQL.PipeStage] = Gen.frequency(
    3 -> lineGen.map(LogQL.PLine),
    2 -> (for {
      kind <- Gen.oneOf("json", "logfmt")
      n <- Gen.chooseNum(0, 3)
      exprs <- Gen.listOfN(n, for {
        l <- labelIdent; k <- labelIdent
      } yield (l, k))
    } yield LogQL.PParser(kind, exprs)),
    2 -> (for {
      l <- labelIdent; op <- matcherOp; v <- hardValue
    } yield LogQL.PLabelFilter(l, op, v)),
    1 -> (for {
      a <- labelIdent; b <- labelIdent; sep <- Gen.oneOf(" - ", "=", " [")
    } yield LogQL.PParser("pattern", Seq(("", s"<$a>$sep<$b>")))),
    // round-16 stages: | regexp (single string operand like pattern),
    // | line_format, | label_format (rename + template operands)
    1 -> (for {
      a <- labelIdent; b <- labelIdent
    } yield LogQL.PParser("regexp", Seq(("", s"(?P<$a>[a-z]+)=(?P<$b>\\d+)")))),
    1 -> (for {
      a <- labelIdent; lit <- labelIdent
    } yield LogQL.PLineFormat(s"$lit {{.$a}}")),
    1 -> (for {
      a <- labelIdent; b <- labelIdent; c <- labelIdent; t <- labelIdent
      useTemplate <- Gen.oneOf(true, false)
    } yield LogQL.PLabelFormat(
      if (useTemplate)
        Seq((a, scala.util.Left(b)), (c, scala.util.Right(s"{{.$t}}x")))
      else Seq((a, scala.util.Left(b))))),
    // round-16 third tranche: | decolorize (no operands)
    1 -> Gen.const(LogQL.PDecolorize),
    // round-16: ip() line filters — |= ip("…") / != ip("…"), all three
    // pattern forms (the grammar is syntactic; validity is the stub's)
    1 -> (for {
      op <- Gen.oneOf("|=ip", "!=ip")
      a <- Gen.chooseNum(0, 255); b <- Gen.chooseNum(0, 255)
      p <- Gen.oneOf(s"10.$a.$b.1", s"10.$a.0.0-10.$b.255.255",
        s"10.$a.$b.0/24")
    } yield LogQL.PLine(LogQL.LineFilter(op, p))),
    // round-16: ip() label filters — | lbl=ip("…") / | lbl!=ip("…")
    1 -> (for {
      l <- labelIdent
      op <- Gen.oneOf("=ip", "!=ip")
      a <- Gen.chooseNum(0, 255)
    } yield LogQL.PLabelFilter(l, op, s"192.168.$a.0/24")),
    // round-16 third tranche: | keep / | drop — bare and
    // value-qualified operands
    1 -> (for {
      kind <- Gen.oneOf("keep", "drop")
      a <- labelIdent; b <- labelIdent; v <- hardValue
      qualified <- Gen.oneOf(true, false)
    } yield LogQL.PKeepDrop(kind,
      if (qualified) Seq((a, None), (b, Some(v)))
      else Seq((a, None)))))

  property("parseSelector inverts the full stage grammar (escape=true)") =
    Prop.forAll(
      Gen.nonEmptyListOf(matcherGen).map(_.take(3)),
      Gen.listOf(stageGen).map(_.take(4))) { (ms, stages) =>
      val q = (ms.map(_.render).mkString("{", ", ", "}") +:
        stages.map(_.render)).mkString(" ")
      val (pm, ps) = LogQL.parseSelector(q)
      (Prop(pm == ms) :| s"matchers: $pm vs $ms (q=$q)") &&
        (Prop(ps == stages) :| s"stages: $ps vs $stages (q=$q)")
    }

  // ------------------------- Java ↔ RE2 regex-translation differential
  // (round 14). The translator's soundness argument: its OUTPUT contains
  // only constructs Java and RE2 agree on byte-for-byte, so Java-eval of
  // the output equals RE2-eval of the output by construction — and the
  // property below checks Java(out) == Java(in) on adversarial inputs
  // (non-ASCII, VT, CR, NEL, LS, PS — the divergence axes), which
  // together pin RE2(out) == Java(in): the pushed filter selects exactly
  // the rows Spark's evaluator would.

  /** Inputs sweeping the divergence axes: the Unicode word chars that
    * broke `\b` in round 13, the KELVIN SIGN / dotted-İ case-folding
    * traps, and every line-terminator / whitespace character the two
    * engines class differently.
    */
  private val re2Input: Gen[String] =
    Gen.listOfN(12, Gen.frequency(
      8 -> Gen.oneOf('a', 'b', 'c', '0', '1', ' '),
      3 -> Gen.oneOf('é', '日', 'K', 'İ', '_'),
      3 -> Gen.oneOf('\n', '\r', '\u000B', '\u0085', '\u2028', '\u2029', '\t')))
      .map(_.mkString)

  /** Java-regex fragments: agreeing constructs, translatable divergent
    * ones (dot, \s, \S, final $), and rejected ones (\b, inline flags,
    * lookahead, possessives) — so the property exercises pass-through,
    * translation AND keep-residual paths.
    */
  private val pieceGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "0", "é", "ab", "a|b", "(a|0)"),
    3 -> Gen.const("."),
    2 -> Gen.oneOf("[ab0]", "[^ab]", "[a-z]", "[é0]", "[ .]"),
    2 -> Gen.oneOf("\\s", "\\S", "\\w", "\\d", "\\W", "\\D"),
    2 -> Gen.oneOf("\\b", "\\Ba", "(?i)a", "(?m)a", "(?=a)", "a*+", "\\vx"),
    1 -> Gen.oneOf("\\Qa.b\\E", "\\Q(a\\E", "\\cA", "\\k<g>"),
    1 -> Gen.oneOf("a*", "b+", ".?", "[ab]{1,2}", ".*"))

  private val javaPatGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 4)
    ps <- Gen.listOfN(n, pieceGen)
    anchorS <- Gen.oneOf("", "^")
    anchorE <- Gen.oneOf("", "$")
  } yield anchorS + ps.mkString + anchorE

  private def javaFind(p: String, in: String): Option[Boolean] =
    try Some(java.util.regex.Pattern.compile(p).matcher(in).find())
    catch { case _: Exception => None }

  property("pushed |~ patterns select identical rows under Java and the RE2 render") =
    Prop.forAll(javaPatGen, re2Input) { (p, in) =>
      LogQL.lineFilter(RLike(line, s(p))) match {
        case None => Prop.passed // kept residual — Spark semantics win
        case Some(lf) =>
          javaFind(p, in) match {
            case None => Prop.passed // Java-invalid: Spark errors pre-push
            case Some(expected) =>
              val wire = javaFind(lf.pattern, in)
              Prop(wire.contains(expected)) :|
                s"p=[$p] wire=[${lf.pattern}] in=${in.map(c => f"\\u${c.toInt}%04x")} " +
                s"java=$expected wire_eval=$wire"
          }
      }
    }

  property("pushed label =~ full-match wrapper ≡ Spark find on any value bytes") =
    Prop.forAll(ident, javaPatGen, re2Input) { (k, p, v) =>
      LogQL.labelMatcher(RLike(GetMapValue(labels, s(k)), s(p))) match {
        case None => Prop.passed
        case Some(m) =>
          javaFind(p, v) match {
            case None => Prop.passed
            case Some(expected) =>
              // the stub/real-Loki evaluation shape: ^(?:value)$ with NO
              // dotall — the wrapper's own (?s) must ride INSIDE the value
              val full = try Some(java.util.regex.Pattern
                .compile(s"(?:${m.value})", java.util.regex.Pattern.UNICODE_CASE)
                .matcher(v).matches())
              catch { case _: Exception => None }
              Prop(full.contains(expected)) :|
                s"p=[$p] wrapped=[${m.value}] v=${v.map(c => f"\\u${c.toInt}%04x")} " +
                s"java=$expected full=$full"
          }
      }
    }

  property("regexp-stage capture ≡ host accessor under the translated wire pattern") =
    Prop.forAll(javaPatGen, javaPatGen, re2Input) { (pa, pb, in) =>
      // round 16: the pushed | regexp stage must extract EXACTLY the text
      // the host's loki_regexp_get extracts — target renamed to gp0,
      // the other group anonymized, body translated by the engine-
      // agreement rules. The wire pattern contains only constructs both
      // engines agree on, so Java-eval of the WIRE output IS the RE2
      // evaluation (the javaToRe2 differential discipline).
      val orig = s"(?<tgt>$pa)x(?<oth>$pb)"
      val e = EqualTo(
        graft.functions.LokiRegexpGet(line, s(orig), s("tgt")), s("v"))
      LogQL.parsedPredicate(e) match {
        case None => Prop.passed // untranslatable: stays a host residual
        case Some(("regexp", key, _)) =>
          val wire = key.replace("\u0000", "gp0")
          val host = graft.sources.loki.LokiParsers.regexpGet(in, orig, "tgt")
          val kvs = graft.sources.loki.LokiParsers.regexpAllWire(in, wire)
          val wireV =
            if (kvs == null) "<uncompilable>"
            else kvs.collectFirst { case ("gp0", v) => v }.orNull
          Prop(host == wireV) :|
            s"orig=[$orig] wire=[$wire] in=${in.map(c => f"\\u${c.toInt}%04x")} " +
            s"host=$host wire_eval=$wireV"
        case Some(other) => Prop.falsified :| s"unexpected parser: $other"
      }
    }

  property("known-divergent constructs always keep their residual") =
    Prop.forAll(Gen.oneOf(
      "a\\bb", "\\Bx", "(?i)abc", "(?m)^a$", "(?=x)a", "(?!x)a", "(?<g>a)",
      "a*+", "x\\vy", "a\\Rb", "a$b", "[a[b]]", "[\\S]", "\\p{Alpha}",
      "\\u0041", "a\\1",
      // \Q…\E quoting: the scanner would keep translating inside the
      // quoted region (silent row loss); \cX / \k<name> are RE2 parse
      // errors (runtime 400 on a pushed filter) — round-15 advice
      "\\Qa.b\\E", "a\\Q.\\Eb", "\\cA", "\\k<g>a")) { p =>
      LogQL.lineFilter(RLike(line, s(p))).isEmpty &&
        LogQL.labelMatcher(RLike(GetMapValue(labels, s("k")), s(p))).isEmpty
    }

  property("parseSelector rejects junk after the stages (no silent tail drop)") =
    Prop.forAll(ident, hardValue) { (k, v) =>
      val q = LogQL.assemble(Seq(LogQL.LabelMatcher(k, "=", v)), Nil)
      Prop.throws(classOf[IllegalArgumentException])(
        LogQL.parseSelector(q + " garbage"))
    }
}
