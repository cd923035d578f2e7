package graft.sources.loki

import org.scalacheck.{Gen, Prop}

import graft.SeededProperties

/** ScalaCheck properties for the JSON response decoders (metadata,
  * series, volume/metric, patterns, delete listing), which read every
  * body through the shared Jackson mapper: an independently-written JSON
  * encoder in the generator round-trips through the production decoders
  * for arbitrary label names/values — quotes, backslashes, braces,
  * brackets, control chars, unicode — and truncated, malformed or
  * mis-shaped bodies fail loudly with the decoder's own message. Lives
  * in the source package (the decoders are private[loki] by design).
  */
object LokiHttpProps extends SeededProperties("LokiHttpCodec") {

  /** Independent JSON string encoder — deliberately a DIFFERENT (but
    * equally standards-valid) representation from the stub's `LogQL.quote`:
    * `\n`/`\r`/`\t` go out as `\u000a`-style escapes instead of the
    * shorthand, `\b`/`\f`/`\/` use the shorthand escapes the stub never
    * emits, and `/` is escaped. A decoder blind spot shared with the
    * stub's encoding choices (e.g. the `\b`→literal-'b' mis-decode this
    * suite originally could not see) cannot hide behind representation
    * overlap.
    */
  private def enc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '/' => "\\/"
      case '\b' => "\\b"
      case '\f' => "\\f"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val hard: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(len => Gen.listOfN(len, Gen.frequency(
      5 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('"', '\\', '{', '}', '[', ']', ',', ':', '/'),
      1 -> Gen.oneOf('\n', '\t', '\b', '\f', '\u0001'),
      1 -> Gen.oneOf('é', '日'))).map(_.mkString))

  /** Threw AND carried the decoder's own diagnostic: a bare
    * `Prop.throws(classOf[RuntimeException])` also accepts an
    * accidental StringIndexOutOfBounds/NumberFormat crash, shipping a
    * regression as a "loud failure".
    */
  private def diesWith(substr: String)(f: => Any): Prop =
    try { f; Prop.falsified } catch {
      case e: RuntimeException =>
        Prop(e.getMessage != null && e.getMessage.contains(substr))
    }

  property("parseStringArray inverts encoding for any value bytes") =
    Prop.forAll(Gen.listOf(hard).map(_.take(6))) { vs =>
      val body =
        s"""{"status":"success","data":[${vs.map(enc).mkString(",")}]}"""
      LokiHttp.parseStringArray(body) == vs
    }

  property("parseObjectArray inverts encoding for any label maps") =
    Prop.forAll(Gen.listOf(Gen.listOf(Gen.zip(
      Gen.identifier.map(_.take(6)), hard)).map(_.take(4))).map(_.take(4))) { objs =>
      // distinct keys per object (JSON object semantics)
      val clean = objs.map(_.distinctBy(_._1))
      val body = s"""{"status":"success","data":[${
        clean.map(o => "{" + o.map { case (k, v) => s"${enc(k)}:${enc(v)}" }
          .mkString(",") + "}").mkString(",")
      }]}"""
      LokiHttp.parseObjectArray(body) == clean
    }

  /** (metric kvs, samples) generator for the volume decoder: arbitrary
    * label bytes, non-negative values, optionally fractional sample
    * timestamps (Prometheus renders them either way).
    */
  private val seriesGen: Gen[(List[(String, String)], List[(Long, Long)])] =
    Gen.zip(
      Gen.listOf(Gen.zip(Gen.identifier.map(_.take(6)), hard)).map(_.take(4))
        .map(_.distinctBy(_._1)),
      Gen.nonEmptyListOf(Gen.zip(
        Gen.chooseNum(0L, 4102444800L),
        Gen.chooseNum(0L, Long.MaxValue / 2))).map(_.take(5)))

  private def encSeries(
      metric: List[(String, String)],
      samples: List[(Long, Long)],
      matrix: Boolean,
      frac: Boolean): String = {
    val m = "{" + metric.map { case (k, v) => s"${enc(k)}:${enc(v)}" }
      .mkString(",") + "}"
    def ts(t: Long) = if (frac) s"$t.000" else t.toString
    if (matrix) {
      val vs = samples.map { case (t, v) => s"[${ts(t)},${enc(v.toString)}]" }
        .mkString(",")
      s"""{"metric":$m,"values":[$vs]}"""
    } else
      s"""{"metric":$m,"value":[${ts(samples.head._1)},${enc(samples.head._2.toString)}]}"""
  }

  property("parseMetricSamples inverts vector/matrix encoding for any labels") =
    Prop.forAll(
      Gen.listOf(seriesGen).map(_.take(4)),
      Gen.oneOf(true, false),
      Gen.oneOf(true, false)) { (series, matrix, frac) =>
      val kept = series.map { case (m, ss) =>
        (m, if (matrix) ss else ss.take(1))
      }
      val body = s"""{"status":"success","data":{"resultType":"${
        if (matrix) "matrix" else "vector"}","result":[${
        kept.map { case (m, ss) => encSeries(m, ss, matrix, frac) }.mkString(",")
      }]}}"""
      LokiHttp.parseMetricSamples(body) == kept
    }

  property("truncated / malformed volume bodies fail loudly") =
    Prop.forAll(seriesGen) { case (m, ss) =>
      val whole = s"""{"status":"success","data":{"resultType":"matrix",""" +
        s""""result":[${encSeries(m, ss, matrix = true, frac = false)}]}}"""
      diesWith("truncated")(
        LokiHttp.parseMetricSamples(whole.dropRight(3))) &&
        diesWith("has no result field")(
          LokiHttp.parseMetricSamples("""{"status":"success","data":{}}""")) &&
        diesWith("element has no value")(
          LokiHttp.parseMetricSamples(
            """{"status":"success","data":{"result":[{"metric":{}}]}}""")) &&
        // an unpaired metric key (corrupt object) dies rather than
        // misattributing the series to a shorter label set; the
        // tokenizer rejects it as malformed JSON
        diesWith("malformed")(
          LokiHttp.parseMetricSamples(
            """{"status":"success","data":{"result":[""" +
              """{"metric":{"a":"b","c"},"value":[1,"2"]}]}}""")) &&
        // a non-integer sample value dies with the decoder's own
        // diagnostic, not a context-free NumberFormatException
        diesWith("non-integer sample value")(
          LokiHttp.parseMetricSamples(
            """{"status":"success","data":{"result":[""" +
              """{"metric":{"a":"b"},"value":[1,"2.5"]}]}}"""))
    }

  // -------------------------------------------------- patterns decoder

  private val patternGen: Gen[(String, List[(Long, Long)])] =
    Gen.zip(
      hard,
      Gen.nonEmptyListOf(Gen.zip(
        Gen.chooseNum(0L, 4102444800L),
        Gen.chooseNum(0L, 1L << 40))).map(_.take(5)))

  private def encPattern(p: String, samples: List[(Long, Long)]): String = {
    val vs = samples.map { case (t, c) => s"[$t,$c]" }.mkString(",")
    s"""{"pattern":${enc(p)},"samples":[$vs]}"""
  }

  property("parsePatternSamples inverts encoding for any pattern bytes") =
    Prop.forAll(Gen.listOf(patternGen).map(_.take(4))) { pats =>
      val body = s"""{"status":"success","data":[${
        pats.map { case (p, ss) => encPattern(p, ss) }.mkString(",")}]}"""
      LokiHttp.parsePatternSamples(body) == pats
    }

  property("truncated / malformed pattern bodies fail loudly") =
    Prop.forAll(patternGen) { case (p, ss) =>
      val whole = s"""{"status":"success","data":[${encPattern(p, ss)}]}"""
      diesWith("truncated")(
        LokiHttp.parsePatternSamples(whole.dropRight(3))) &&
        diesWith("has no data field")(
          LokiHttp.parsePatternSamples("""{"status":"success"}""")) &&
        diesWith("element has no samples")(
          LokiHttp.parsePatternSamples(
            s"""{"status":"success","data":[{"pattern":${enc(p)}}]}""")) &&
        diesWith("element has no pattern")(
          LokiHttp.parsePatternSamples(
            """{"status":"success","data":[{"samples":[[1,2]]}]}""")) &&
        // a quoted count (the Prometheus sample shape) is NOT this
        // endpoint's dialect — bare numerics only; a silent accept would
        // paper over a shape confusion between the two decoders
        diesWith("has a malformed sample")(
          LokiHttp.parsePatternSamples(
            """{"status":"success","data":[""" +
              """{"pattern":"x","samples":[[1,"2"]]}]}"""))
    }

  // ---------------------------------------------- delete-listing decoder

  private val deleteGen: Gen[(String, String, Long, Long, String)] =
    for {
      id <- Gen.identifier.map(_.take(6))
      q <- hard
      s <- Gen.chooseNum(0L, 4102444800L)
      e <- Gen.chooseNum(0L, 4102444800L)
      st <- Gen.oneOf("received", "processed")
    } yield (id, q, s, e, st)

  private def encDelete(d: (String, String, Long, Long, String)): String =
    s"""{"request_id":${enc(d._1)},"start_time":${d._3},""" +
      s""""end_time":${d._4},"query":${enc(d._2)},"status":${enc(d._5)},""" +
      s""""created_at":0}"""

  /** The delete-listing parse logic lives inside [[LokiHttp.deleteRequests]]
    * (body acquisition and decode are one method), so the round trip runs
    * through ONE shared loopback server whose body the property swaps per
    * sample — encode with the independent encoder, serve, decode.
    */
  private lazy val deleteEcho: (java.util.concurrent.atomic.AtomicReference[String], String) = {
    val bodyRef = new java.util.concurrent.atomic.AtomicReference[String]("[]")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/loki/api/v1/delete",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val b = bodyRef.get().getBytes("UTF-8")
        ex.sendResponseHeaders(200, if (b.isEmpty) -1 else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      })
    val t = new Thread(() => server.start())
    t.setDaemon(true)
    t.start()
    t.join()
    (bodyRef, s"http://127.0.0.1:${server.getAddress.getPort}")
  }

  property("deleteRequests decoder inverts encoding for any query bytes") =
    Prop.forAll(Gen.listOf(deleteGen).map(_.take(4))) { dels =>
      val (bodyRef, endpoint) = deleteEcho
      bodyRef.set(dels.map(encDelete).mkString("[", ",", "]"))
      val got = LokiHttp.deleteRequests(endpoint)
      Prop(got == dels) :| s"got=$got want=$dels"
    }

  property("truncated / malformed metadata bodies fail loudly") =
    Prop.forAll(hard) { v =>
      val whole = s"""{"status":"success","data":[${enc(v)}]}"""
      diesWith("truncated")(
        LokiHttp.parseStringArray(whole.dropRight(2))) &&
        diesWith("has no data field")(
          LokiHttp.parseStringArray("""{"status":"success"}""")) &&
        diesWith("malformed")(LokiHttp.parseStringArray(whole + " {")) &&
        diesWith("truncated")(
          LokiHttp.parseObjectArray(
            s"""{"status":"success","data":[{${enc("k")}:${enc(v)}"""))
    }
}
