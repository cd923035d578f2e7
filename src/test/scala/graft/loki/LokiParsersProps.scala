package graft.loki

import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, Literal}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}

import graft.SeededProperties
import graft.sources.loki.LokiParsers

/** The honesty pin for the `get_json_object(line,'$.k') = 'v'` pushdown
  * idiom (round 15): on PUSHABLE shapes (nonempty, non-composite,
  * non-`null` comparison literals; plain dotted-ident paths), Spark's
  * Jackson-streaming `get_json_object` and the shared wire semantics
  * [[LokiParsers.jsonGet]] must agree on the EQUALITY OUTCOME for every
  * line — adversarial inputs included (duplicate keys, trailing
  * garbage, malformed tails, nested composites, escapes, raw control
  * characters, single-quoted strings). The raw
  * outputs may differ outside the pushable shapes (e.g. Spark returns
  * '' for an empty json string where the label model reads absent) —
  * that is exactly why those shapes are rejected by the translator.
  */
object LokiParsersProps extends SeededProperties("LokiParsers") {

  private def gjo(line: String, path: String): String = {
    val r = GetJsonObject(
      Literal(UTF8String.fromString(line)),
      Literal(UTF8String.fromString(path))).eval(null)
    if (r == null) null else r.toString
  }

  private val keyGen = Gen.oneOf("k", "a", "bb")

  private val scalarGen: Gen[String] = Gen.oneOf(
    "\"v\"", "\"\"", "\"w\"", "1", "1.50", "5e2", "-0.5", "true", "false",
    "null", "\"a\\nb\"", "\"\\u00e9\"", "\"null\"", "\"1\"",
    "{\"x\":1}", "{\"k\":\"v\"}", "[1,2]", "[]", "{\"x\": {\"y\": 2}}",
    // raw control characters and single quotes: Spark's reader accepts
    // both
    "\"v\tw\"", "\"a\u0001b\"", "'v'", "'w'")

  private val fieldGen: Gen[String] = for {
    k <- keyGen
    v <- scalarGen
  } yield "\"" + k + "\":" + v

  private val lineGen: Gen[String] = Gen.frequency(
    6 -> (for {
      n <- Gen.chooseNum(0, 4)
      fs <- Gen.listOfN(n, fieldGen)
      ws <- Gen.oneOf("", " ")
    } yield fs.mkString("{" + ws, ",", ws + "}")),
    1 -> (for {
      f <- fieldGen
      tail <- Gen.oneOf(" trailing", " {", " ]", "x")
    } yield "{" + f + "}" + tail),
    1 -> (for {
      f <- fieldGen
      bad <- Gen.oneOf("\"bad\":", "\"bad\" 1", ",")
    } yield "{" + f + "," + bad + "}"),
    1 -> (for {
      f <- fieldGen
      bad <- Gen.oneOf("\"bad\":", "\"bad\" 1", "")
    } yield "{" + bad + "," + f + "}"),
    // truncated-at-EOF shapes: the value token completes but the object
    // never closes — tokenizer EOF behavior differs by value KIND
    1 -> (for {
      f <- fieldGen
      tail <- Gen.oneOf("", " ", ",")
    } yield "{" + f + tail),
    1 -> Gen.oneOf("not json", "", "{", "[1,2]", "{\"k\" \"v\"}",
      "{\"k\":\"unterminated", "42", "null"))

  // comparison literals the translator accepts (LogQL.parsedPredicate's
  // gjoValueOk: nonempty, non-composite, non-`null`, and numerics only
  // in pure-integer form \u2014 float-looking literals are rejected because
  // Spark re-renders float json numbers), plus values the generated
  // fields actually carry
  private val pushableV: Gen[String] = Gen.oneOf(
    "v", "w", "1", "0", "-0", "true", "false", "a\nb", "\u00e9", "x", "2",
    "v\tw")

  property("get_json_object ≡ jsonGet on pushed equality outcomes (top-level)") =
    Prop.forAll(lineGen, keyGen, pushableV) { (line, k, v) =>
      val spark = gjo(line, "$." + k)
      val wire = LokiParsers.jsonGet(line, k)
      Prop((spark == v) == (wire == v)) :|
        s"line=[$line] k=$k v=[$v] spark=[$spark] wire=[$wire]"
    }

  // the unwrap render ends in `| __error__=""`: a line the host accessor
  // reads a value from must not be marked by the explicit `| json` stage
  property("jsonGet reads a value only from a jsonReadable line") =
    Prop.forAll(lineGen, keyGen) { (line, k) =>
      Prop(LokiParsers.jsonGet(line, k) == null || LokiParsers.jsonReadable(line)) :|
        s"line=[$line] k=$k"
    }

  private val nestedGen: Gen[String] = for {
    inner <- fieldGen
    pre <- Gen.listOf(fieldGen).map(_.take(2))
    post <- Gen.listOf(fieldGen).map(_.take(2))
  } yield (pre ++ Seq("\"a\":{" + inner + "}") ++ post).mkString("{", ",", "}")

  property("get_json_object ≡ jsonGet on pushed equality outcomes (nested)") =
    Prop.forAll(nestedGen, keyGen, pushableV) { (line, k, v) =>
      val spark = gjo(line, "$.a." + k)
      val wire = LokiParsers.jsonGet(line, "a." + k)
      Prop((spark == v) == (wire == v)) :|
        s"line=[$line] k=a.$k v=[$v] spark=[$spark] wire=[$wire]"
    }

  // ------------------------------------------------------------------
  // ip() scanner differential (round 16): the hand-rolled single-pass
  // lineContainsIp against a NAIVE reference — regex-extract every
  // maximal [0-9.] run, strict-parse, range-check. Lines are built from
  // adversarial tokens: valid IPs, over-255 octets, 5-octet runs,
  // decimals, dotted tails, digit-adjacent text.
  // ------------------------------------------------------------------

  private val ipToken: Gen[String] = Gen.oneOf(
    "10.0.0.7", "10.0.0.255", "9.255.255.255", "10.0.1.0", "11.0.0.0",
    "256.1.1.1", "10.0.0.256", "1.2.3", "1.2.3.4.5", "0.110.0.0.5",
    "10.0.0.7.", ".10.0.0.7", "value=0.5", "x10.0.0.7", "10.0.0.7y",
    "007.008.009.010", "err", "[10.0.0.9]", "ip:10.0.0.250", "1..2.3.4")

  private val ipLineGen: Gen[String] =
    Gen.listOf(ipToken).map(_.take(5).mkString(" "))

  private def naiveContains(line: String, lo: Long, hi: Long): Boolean =
    "[0-9.]+".r.findAllIn(line).exists { run =>
      val v = LokiParsers.ipValue(run)
      v >= 0 && v >= lo && v <= hi
    }

  property("lineContainsIp ≡ naive maximal-run reference") =
    Prop.forAll(ipLineGen,
      Gen.oneOf("10.0.0.0/24", "10.0.0.7", "9.0.0.0-10.0.0.255",
        "0.0.0.0/0", "10.0.0.128/25")) { (line, pat) =>
      val r = LokiParsers.ipPatternRange(pat)
      val fast = LokiParsers.lineContainsIp(line, r(0), r(1))
      val slow = naiveContains(line, r(0), r(1))
      Prop(fast == slow) :| s"line=[$line] pat=$pat fast=$fast slow=$slow"
    }
}
