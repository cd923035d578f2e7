package graft.functions

import org.scalacheck.{Gen, Prop}

import graft.SeededProperties

/** The native template scanner ([[LogTemplateUtil]]) must be
  * byte-identical to the regex chain it replaces —
  * [[graft.operators.ConnectorOps.templateRules]] applied via
  * `String.replaceAll` is the reference here (java.util.regex, the engine
  * Spark's `regexp_replace` uses), and the DuckDB oracle gates pin the
  * RE2 side. Inputs are adversarial compositions: valid and near-miss
  * uuids/ips/hex runs, 4-digit ip segments, digits-only "hex", uppercase
  * runs, fraction chains, underscores (word chars that break \b),
  * non-ASCII, literal placeholder text, and fragment adjacency with no
  * separators (runs merge across fragment boundaries).
  */
object LogTemplateProps extends SeededProperties("LogTemplate") {

  /** The rules with RE2's ASCII `\b` made explicit via Java lookarounds:
    * Java's own `\b` is Unicode-aware (`é` is a word char to Java, a
    * boundary to RE2), so running the raw rules through
    * `String.replaceAll` would assert the WRONG engine's semantics —
    * the oracle is RE2, and the native scanner implements RE2's.
    * Lookarounds are fine here (only the oracle SQL must stay
    * lookaround-free for RE2).
    */
  private def reference(s: String): String =
    graft.operators.ConnectorOps.templateRules.foldLeft(s) {
      case (x, (p0, r)) =>
        var p = p0
        if (p.startsWith("\\b")) p = "(?<![0-9A-Za-z_])" + p.substring(2)
        if (p.endsWith("\\b")) p = p.dropRight(2) + "(?![0-9A-Za-z_])"
        x.replaceAll(p, r)
    }

  private val fragments: Gen[String] = Gen.oneOf(
    "550e8400-e29b-41d4-a716-446655440000",
    "550E8400-E29B-41D4-A716-446655440000",
    "550e8400-e29b-41d4-a716-44665544000",   // 11-char tail: not a uuid
    "550e8400e29b41d4a716446655440000",      // dashless: 32-char hex token
    "10.0.12.9", "1.2.3.4", "999.999.999.999",
    "1234.5.6.7", "1.2.3.4.5", "1.2.3.44444",
    "7f3a9b2c", "7f3a9b2c4d5e6f70", "abcdef12",
    "12345678", "1704067200000",             // digit-only runs: num, not hex
    "DEADBEEF", "0000000a", "a0000000",
    "7f3a9b2c4dxx", "xx7f3a9b2c4d", "7f3a9b2c_",
    "0", "123", "3.5", "1.2.3", "007",
    " ", "", "_", "-", ".", "x", "é", "<num>", ":", "/", "took", "=", "\n")

  private val line: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, fragments).map(_.mkString))

  property("native scanner == regex chain for adversarial lines") =
    Prop.forAll(line) { s =>
      val got = LogTemplateUtil.template(s)
      val want = reference(s)
      Prop(got == want) :| s"input=$s\n native=$got\n regex =$want"
    }

  property("non-matching lines return the same instance (no allocation)") =
    Prop.forAll(Gen.oneOf("plain text with no variables", "took ms via",
      "DEADBEEF _", "é é é")) { s =>
      LogTemplateUtil.template(s).eq(s) &&
        (reference(s) == s) // and the reference agrees nothing matches
    }
}
