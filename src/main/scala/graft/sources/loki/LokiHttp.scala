package graft.sources.loki

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.io.JsonEOFException
import com.fasterxml.jackson.databind.JsonNode

/** Minimal HTTP helpers over the JDK client. One shared client per JVM:
  * HttpClient is immutable and thread-safe, and a client per request would
  * pay connection setup on every partition scan / push batch — needless
  * churn on the N-partition scale-out path. Endpoints used (reference wire
  * surface):
  *   - GET  /loki/api/v1/status/buildinfo   (table.rs:60-73)
  *   - GET  /loki/api/v1/query_range        (scan.rs:177-216)
  *   - POST /loki/api/v1/push               (insert.rs:142-165)
  *
  * plus the metadata, metric, volume, patterns, stats and delete
  * endpoints of real Loki. Every JSON response is read as a tree by the
  * one strict Jackson mapper ([[LokiParsers.strictJson]]); a body that
  * does not parse fails with `… truncated` (unexpected end of input) or
  * `… malformed` (trailing bytes after the value included), and a body of the wrong shape names the missing or
  * mistyped field. Each message carries the body prefix.
  */
object LokiHttp {

  private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  /** Transient statuses a retry can heal: throttling and gateway/server
    * hiccups. 4xx contract errors (bad query, over-limit) are permanent
    * and fail immediately.
    */
  private def transient(status: Int): Boolean =
    status == 429 || status == 500 || status == 502 || status == 503 ||
      status == 504

  /** Bounded retry with exponential backoff + jitter for the wire calls.
    * A 100 TB paged scan issues thousands of requests per task; without
    * in-reader retry a single transient 503 fails the TASK and Spark
    * re-reads the whole partition's pages. All retried calls are safe:
    * the GETs are idempotent, and the push POST is at-least-once by the
    * sink contract (identical (ts, labels, line) replays collapse
    * server-side). Connection-level IOExceptions retry on the same
    * schedule; interruption propagates immediately (a cancelled task
    * must not sit in backoff).
    */
  private def withRetry[T](what: String)(send: () => HttpResponse[T])(
      status: HttpResponse[T] => Int): HttpResponse[T] = {
    val attempts = 4
    var k = 0
    var last: Either[Throwable, HttpResponse[T]] = null
    while (k < attempts) {
      if (k > 0) {
        val backoffMs = (200L << (k - 1)) +
          java.util.concurrent.ThreadLocalRandom.current().nextLong(100L)
        Thread.sleep(backoffMs)
      }
      try {
        val resp = send()
        if (!transient(status(resp))) return resp
        last = Right(resp)
      } catch {
        case ie: InterruptedException => throw ie
        case io: java.io.IOException => last = Left(io)
      }
      k += 1
    }
    last match {
      case Right(resp) => resp // caller renders the terminal status error
      case Left(io) => throw new RuntimeException(
        s"Loki $what failed after $attempts attempts: ${io.getMessage}", io)
    }
  }

  def checkConnection(endpoint: String): Unit = {
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint/loki/api/v1/status/buildinfo"))
      .timeout(Duration.ofSeconds(10)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200) {
      throw new IllegalStateException(
        s"Loki connection check failed: HTTP ${resp.statusCode()} from $endpoint")
    }
  }

  /** query_range with the parquet wire encoding (scan.rs:120:
    * `Accept: application/vnd.apache.parquet`; requires Loki's
    * `frontend.support_parquet_encoding`). Returns the raw body.
    */
  def queryRange(
      endpoint: String,
      logql: String,
      startNs: Long,
      endNs: Long,
      limit: Option[Int],
      // Some("forward") is the PAGINATION path (reader cursor walks the
      // window oldest-first); Some("backward") is the explicit newest-n
      // `direction` option; None omits the param like the reference
      // (scan.rs:106-121), leaving Loki's default direction (backward)
      direction: Option[String] = None): Array[Byte] = {
    val enc = java.net.URLEncoder.encode(logql, "UTF-8")
    val limitParam = limit.map(n => s"&limit=$n").getOrElse("")
    val dirParam = direction.map(d => s"&direction=$d").getOrElse("")
    val uri = URI.create(
      s"$endpoint/loki/api/v1/query_range?query=$enc&start=$startNs&end=$endNs$limitParam$dirParam")
    val req = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofMinutes(5))
      .header("Accept", "application/vnd.apache.parquet")
      .GET().build()
    val resp = withRetry("query_range")(() =>
      client.send(req, HttpResponse.BodyHandlers.ofByteArray()))(_.statusCode())
    if (resp.statusCode() != 200) {
      throw new RuntimeException(
        s"Loki query_range failed: HTTP ${resp.statusCode()}: " +
          new String(resp.body(), "UTF-8").take(500))
    }
    resp.body()
  }

  /** query_range in METRIC mode — a LogQL metric query (`sum by (…)
    * (count_over_time({…}[step]))`) answered as a Prometheus-style JSON
    * matrix instead of a log stream. This is the 100 TB aggregation
    * path: the server evaluates the range aggregation next to its chunks
    * and ships back #series × #steps samples, not rows. `stepNs` must be
    * a positive whole-second multiple — the `step` param speaks duration
    * seconds and the response's sample timestamps carry second precision
    * (the same contract [[indexVolumeRange]] enforces). Samples are
    * float64: unwrapped range aggregations (`avg_over_time(… | unwrap x
    * …)`) carry fractional values, and the entry-counting kinds decode
    * exactly too (float64 is exact to 2^53, far past any per-bucket
    * entry/byte count).
    */
  def queryRangeMetric(
      endpoint: String,
      logql: String,
      startNs: Long,
      endNs: Long,
      stepNs: Long): Seq[(Seq[(String, String)], Seq[(Long, Double)])] = {
    require(stepNs > 0 && stepNs % 1000000000L == 0,
      s"metric query step must be a positive whole-second multiple of ns, " +
        s"got $stepNs")
    val enc = java.net.URLEncoder.encode(logql, "UTF-8")
    parseMetricSamplesD(getJson("query_range(metric)", URI.create(
      s"$endpoint/loki/api/v1/query_range?query=$enc&start=$startNs" +
        s"&end=$endNs&step=${stepNs / 1000000000L}s")))
  }

  /** `GET /loki/api/v1/index/stats` — `(entries, bytes)` for a stream
    * SELECTOR over [startNs, endNs). Index-only, so each probe is cheap
    * on real Loki (it reads the TSDB index, not chunks). Powers the
    * `split=stats` plan-time boundary placement, the streaming
    * admission caps and the scan-statistics report (row count for join
    * planning, bytes for the broadcast size estimate). Real Loki accepts
    * only a stream selector here (no line-filter stages), which is fine
    * for balancing — line-filter selectivity shifts slice sizes
    * uniformly, not boundaries.
    */
  def indexStats(
      endpoint: String,
      selector: String,
      startNs: Long,
      endNs: Long): (Long, Long) = {
    val enc = java.net.URLEncoder.encode(selector, "UTF-8")
    val body = new Body("index/stats", getJson("index/stats", URI.create(
      s"$endpoint/loki/api/v1/index/stats?query=$enc&start=$startNs&end=$endNs")))
    // {"streams":S,"chunks":C,"bytes":B,"entries":E}
    def field(name: String): Long = {
      val n = body.tree.get(name)
      if (n == null || !n.isIntegralNumber) body.die(s"has no $name field")
      n.longValue
    }
    (field("entries"), field("bytes"))
  }

  /** A JSON response body under decode. [[tree]] reads it with the
    * shared strict mapper; every decode failure dies loudly with the
    * body prefix: `Loki <what> response truncated|malformed|<shape>: …`.
    */
  private final class Body(what: String, text: String) {
    def die(msg: String): Nothing = throw new RuntimeException(
      s"Loki $what response $msg: ${text.take(200)}")
    lazy val tree: JsonNode =
      try LokiParsers.strictJson.readTree(text)
      catch {
        case _: JsonEOFException => die("truncated")
        case _: JsonProcessingException => die("malformed")
      }

    /** The `data` array of a `{"status":"success","data":[…]}` body. */
    def dataArray: Seq[JsonNode] = {
      val data = tree.get("data")
      if (data == null) die("has no data field")
      if (!data.isArray) die("data field is not an array")
      data.asScala.toSeq
    }

    /** A flat `{"k":"v",…}` object → its pairs in wire order. */
    def labelPairs(o: JsonNode): Seq[(String, String)] = {
      if (!o.isObject) die("has a malformed label set")
      o.properties.asScala.toSeq.map { e =>
        if (!e.getValue.isTextual) die("has a malformed label set")
        (e.getKey, e.getValue.textValue)
      }
    }

    /** `[<ts>,<value>]` → (ts in whole epoch seconds, value node).
      * Prometheus timestamps may carry a fraction, which is truncated.
      */
    def sample(s: JsonNode): (Long, JsonNode) = {
      if (!s.isArray || s.size != 2 || !s.get(0).isNumber)
        die("has a malformed sample")
      (s.get(0).asLong, s.get(1))
    }

    /** The array under field `name` of `el`, None when it is absent. */
    def arrayField(el: JsonNode, name: String): Option[Seq[JsonNode]] =
      el.get(name) match {
        case null => None
        case a if a.isArray => Some(a.asScala.toSeq)
        case _ => die(s"has a malformed $name array")
      }
  }

  /** Decode `{"status":"success","data":["a","b",…]}` → the data strings. */
  private[loki] def parseStringArray(body: String): Seq[String] = {
    val b = new Body("metadata", body)
    b.dataArray.map(v => if (v.isTextual) v.textValue else b.die("has a non-string value"))
  }

  private def getJson(what: String, uri: URI): String = {
    val req = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofSeconds(30)).GET().build()
    val resp = withRetry(what)(() =>
      client.send(req, HttpResponse.BodyHandlers.ofString()))(_.statusCode())
    if (resp.statusCode() != 200) throw new RuntimeException(
      s"Loki $what failed: HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
    resp.body()
  }

  /** `GET /loki/api/v1/labels` — distinct label names in the window.
    * The window is always sent explicitly: real Loki's metadata default
    * (last 6 h) silently narrows an unwindowed census.
    */
  def labelNames(endpoint: String, startNs: Long, endNs: Long): Seq[String] =
    parseStringArray(getJson("labels", URI.create(
      s"$endpoint/loki/api/v1/labels?start=$startNs&end=$endNs")))

  /** `GET /loki/api/v1/label/<name>/values` — distinct values of one
    * label; `selector` (optional) narrows to matching streams.
    */
  def labelValues(
      endpoint: String,
      label: String,
      startNs: Long,
      endNs: Long,
      selector: Option[String] = None): Seq[String] = {
    val q = selector.map(s =>
      "&query=" + java.net.URLEncoder.encode(s, "UTF-8")).getOrElse("")
    val name = java.net.URLEncoder.encode(label, "UTF-8")
    parseStringArray(getJson("label_values", URI.create(
      s"$endpoint/loki/api/v1/label/$name/values?start=$startNs&end=$endNs$q")))
  }

  /** Decode the series response shape
    * `{"status":"success","data":[{"k":"v",…},…]}` → one (key, value)
    * seq per stream, in WIRE order (consumers that need canonical order
    * sort — [[LokiMetaReader]] does). Flat string→string objects only —
    * exactly what the endpoint returns.
    */
  private[loki] def parseObjectArray(body: String): Seq[Seq[(String, String)]] = {
    val b = new Body("series", body)
    b.dataArray.map(b.labelPairs)
  }

  /** `GET /loki/api/v1/series` — distinct label sets (streams) in the
    * window, optionally narrowed by a `match[]` selector.
    */
  def series(
      endpoint: String,
      startNs: Long,
      endNs: Long,
      selector: Option[String] = None): Seq[Seq[(String, String)]] = {
    val q = selector.map(s =>
      "&match%5B%5D=" + java.net.URLEncoder.encode(s, "UTF-8")).getOrElse("")
    parseObjectArray(getJson("series", URI.create(
      s"$endpoint/loki/api/v1/series?start=$startNs&end=$endNs$q")))
  }

  /** Decode a Prometheus-style vector/matrix response — the shape of real
    * Loki's `index/volume` / `index/volume_range` endpoints and of metric
    * `query_range`:
    *
    * {{{
    *   {"status":"success","data":{"resultType":"vector","result":[
    *     {"metric":{"k":"v"},"value":[1712345600,"123"]}, …]}}
    *   {"status":"success","data":{"resultType":"matrix","result":[
    *     {"metric":{"k":"v"},"values":[[1712300000,"12"],…]}, …]}}
    * }}}
    *
    * → one (metric kvs in wire order, samples) per series; each sample
    * is (epoch SECONDS, numeric value). Vector elements decode as a
    * single sample. Anything structurally off fails loudly with the body
    * prefix.
    */
  private[loki] def parseMetricSamples(
      body: String): Seq[(Seq[(String, String)], Seq[(Long, Long)])] =
    parseMetricSamplesWith(body) { (vs, die) =>
      try vs.toLong catch {
        case _: NumberFormatException => die(s"has a non-integer sample value")
      }
    }

  /** Float-valued variant for metric queries. */
  private[loki] def parseMetricSamplesD(
      body: String): Seq[(Seq[(String, String)], Seq[(Long, Double)])] =
    parseMetricSamplesWith(body) { (vs, die) =>
      try java.lang.Double.parseDouble(vs) catch {
        case _: NumberFormatException => die(s"has a non-numeric sample value")
      }
    }

  /** The sample value is a quoted numeric string converted by `conv`. */
  private def parseMetricSamplesWith[V](body: String)(
      conv: (String, String => Nothing) => V): Seq[(Seq[(String, String)], Seq[(Long, V)])] = {
    val b = new Body("volume", body)
    val result = b.tree.path("data").get("result")
    if (result == null) b.die("has no result field")
    if (!result.isArray) b.die("result field is not an array")
    def sample(s: JsonNode): (Long, V) = b.sample(s) match {
      case (ts, v) if v.isTextual => (ts, conv(v.textValue, b.die))
      case _ => b.die("has a malformed sample value")
    }
    result.asScala.toSeq.map { el =>
      if (!el.isObject) b.die("has a malformed result array")
      val metric = b.labelPairs(
        Option(el.get("metric")).getOrElse(b.die("element has no metric")))
      val samples = b.arrayField(el, "values").map(_.map(sample)).getOrElse(
        Seq(sample(Option(el.get("value")).getOrElse(b.die("element has no value")))))
      (metric, samples)
    }
  }

  /** `GET /loki/api/v1/index/volume` — aggregate log volume (bytes) per
    * series (or per label name under `aggregateBy=labels`) for the
    * matching streams — real Loki's capacity census, index-only
    * server-side. Top-`limit` series by volume (server default 100).
    */
  def indexVolume(
      endpoint: String,
      selector: String,
      startNs: Long,
      endNs: Long,
      targetLabels: Seq[String] = Nil,
      aggregateBy: Option[String] = None,
      limit: Int = 0): Seq[(Seq[(String, String)], Long)] =
    parseMetricSamples(getJson("index/volume", URI.create(
      s"$endpoint/loki/api/v1/index/volume?" + volumeParams(
        selector, startNs, endNs, targetLabels, aggregateBy, limit))))
      .map { case (m, samples) => (m, samples.map(_._2).sum) }

  /** `GET /loki/api/v1/index/volume_range` — the step-bucketed form:
    * volume per series per `stepNs` bucket from `startNs` (the capacity
    * TREND). Samples are (bucket-start epoch seconds, bytes), ascending;
    * empty buckets are omitted (Prometheus matrix shape).
    */
  def indexVolumeRange(
      endpoint: String,
      selector: String,
      startNs: Long,
      endNs: Long,
      stepNs: Long,
      targetLabels: Seq[String] = Nil,
      aggregateBy: Option[String] = None,
      limit: Int = 0): Seq[(Seq[(String, String)], Seq[(Long, Long)])] = {
    // the public method enforces its own documented contract: the step
    // param speaks whole seconds, and a sub-second stepNs from a direct
    // caller (bypassing the plan-time guard) would integer-divide to
    // step=0s on the wire — a silently degenerate request
    require(stepNs > 0 && stepNs % 1000000000L == 0,
      s"volume_range stepNs must be a positive whole-second multiple, " +
        s"got $stepNs")
    parseMetricSamples(getJson("index/volume_range", URI.create(
      s"$endpoint/loki/api/v1/index/volume_range?" + volumeParams(
        selector, startNs, endNs, targetLabels, aggregateBy, limit) +
        // step speaks DURATION, not epoch units: real Loki parses it as
        // float seconds or a Prometheus duration string (unlike
        // start/end, which take epoch ns) — stepNs is whole-second by
        // the require above, so the division is exact
        s"&step=${stepNs / 1000000000L}s")))
  }

  private def volumeParams(
      selector: String,
      startNs: Long,
      endNs: Long,
      targetLabels: Seq[String],
      aggregateBy: Option[String],
      limit: Int): String = {
    val enc = java.net.URLEncoder.encode(selector, "UTF-8")
    s"query=$enc&start=$startNs&end=$endNs" +
      (if (targetLabels.nonEmpty)
        "&targetLabels=" + java.net.URLEncoder.encode(
          targetLabels.mkString(","), "UTF-8")
      else "") +
      aggregateBy.map(a => s"&aggregateBy=$a").getOrElse("") +
      (if (limit > 0) s"&limit=$limit" else "")
  }

  /** Decode the pattern-detection response shape of real Loki's
    * `GET /loki/api/v1/patterns`:
    *
    * {{{
    *   {"status":"success","data":[
    *     {"pattern":"<_> level=error <_>","samples":[[1712300000,12],…]},
    *     …]}
    * }}}
    *
    * → one (pattern, samples) per detected pattern; each sample is
    * (epoch SECONDS, count) — here the count is a BARE number, unlike
    * the quoted string values of the Prometheus-style metric shape.
    * Loud on anything off, like every decoder here.
    */
  private[loki] def parsePatternSamples(
      body: String): Seq[(String, Seq[(Long, Long)])] = {
    val b = new Body("patterns", body)
    b.dataArray.map { el =>
      if (!el.isObject) b.die("has a malformed data array")
      val pattern = el.get("pattern") match {
        case null => b.die("element has no pattern")
        case p if p.isTextual => p.textValue
        case _ => b.die("has a non-string pattern")
      }
      val samples = b.arrayField(el, "samples")
        .getOrElse(b.die("element has no samples"))
        .map(b.sample(_) match {
          case (ts, c) if c.isNumber => (ts, c.asLong)
          case _ => b.die("has a malformed sample")
        })
      (pattern, samples)
    }
  }

  /** `GET /loki/api/v1/patterns` — real Loki's server-side log-pattern
    * detection (Drain-style templates with `<_>` placeholders, counted
    * per `step` bucket). The census counterpart of the Spark-side
    * template mining (`loki_log_patterns`/`loki_drain_templates`):
    * index/pattern-store-backed on a real Loki, so a template census
    * over a month of logs never streams chunks to the client. `stepNs`
    * None → one bucket spanning the window.
    */
  def patterns(
      endpoint: String,
      selector: String,
      startNs: Long,
      endNs: Long,
      stepNs: Option[Long] = None): Seq[(String, Seq[(Long, Long)])] = {
    stepNs.foreach(s => require(s > 0 && s % 1000000000L == 0,
      s"patterns stepNs must be a positive whole-second multiple, got $s"))
    val enc = java.net.URLEncoder.encode(selector, "UTF-8")
    parsePatternSamples(getJson("patterns", URI.create(
      s"$endpoint/loki/api/v1/patterns?query=$enc&start=$startNs&end=$endNs" +
        stepNs.map(s => s"&step=${s / 1000000000L}s").getOrElse(""))))
  }

  /** Epoch ns → RFC3339Nano (`2024-01-01T00:00:00.000000001Z`), the
    * highest-precision time dialect the delete endpoint accepts.
    */
  def rfc3339Nano(ns: Long): String =
    java.time.Instant
      .ofEpochSecond(Math.floorDiv(ns, 1000000000L),
        Math.floorMod(ns, 1000000000L)).toString

  /** `POST /loki/api/v1/delete` — real Loki's compactor delete API: file
    * a deletion request for the log lines matching `query` (selector +
    * optional line-filter stages). The compactor's window is INCLUSIVE
    * on both ends — an entry is deleted when start ≤ ts ≤ end (round-15
    * advice; the earlier epoch-second mapping of the SQL-exclusive
    * `ts < E` to `end=E` silently over-deleted the entry timestamped
    * exactly E) — so both bounds here are inclusive epoch ns, shipped as
    * RFC3339Nano (the endpoint accepts RFC3339 alongside epoch seconds,
    * and only the nano form can express an exclusive SQL bound exactly
    * as `end = E − 1ns`). Callers translate: [start, end) ⇒
    * (startNs, endNs − 1). The request is asynchronous on a real Loki
    * (the compactor applies it after `delete_request_cancel_period`);
    * the testkit stub applies immediately, modeling the post-compaction
    * state a conformance test would poll for.
    */
  def deleteRequest(
      endpoint: String,
      query: String,
      startInclNs: Option[Long],
      endInclNs: Option[Long]): Unit = {
    val enc = java.net.URLEncoder.encode(query, "UTF-8")
    def t(ns: Long): String =
      java.net.URLEncoder.encode(rfc3339Nano(ns), "UTF-8")
    val uri = URI.create(s"$endpoint/loki/api/v1/delete?query=$enc" +
      startInclNs.map(s => s"&start=${t(s)}").getOrElse("") +
      endInclNs.map(e => s"&end=${t(e)}").getOrElse(""))
    val req = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofSeconds(30))
      .POST(HttpRequest.BodyPublishers.noBody()).build()
    val resp = withRetry("delete")(() =>
      client.send(req, HttpResponse.BodyHandlers.ofString()))(_.statusCode())
    if (resp.statusCode() / 100 != 2) throw new RuntimeException(
      s"Loki delete failed: HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
  }

  /** `DELETE /loki/api/v1/delete?request_id=` — cancel a filed deletion
    * request inside the compactor's cancel grace period (round 15): the
    * request is REMOVED from the store and its rows survive. Past the
    * grace period (status processed) real Loki answers 400 — surfaced
    * as an exception, as is 404 for an unknown id. Transient 5xx retry
    * like the filing; a 4xx is terminal.
    */
  def cancelDeleteRequest(endpoint: String, requestId: String): Unit = {
    val uri = URI.create(s"$endpoint/loki/api/v1/delete?request_id=" +
      java.net.URLEncoder.encode(requestId, "UTF-8"))
    val req = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofSeconds(30)).DELETE().build()
    val resp = withRetry("delete(cancel)")(() =>
      client.send(req, HttpResponse.BodyHandlers.ofString()))(_.statusCode())
    if (resp.statusCode() / 100 != 2) throw new RuntimeException(
      s"Loki delete cancel failed: HTTP ${resp.statusCode()}: " +
        resp.body().take(500))
  }

  /** `GET /loki/api/v1/delete` — list delete requests:
    * (request_id, query, start_s, end_s, status) per request, parsed
    * from the endpoint's flat-object array (string ids/queries/statuses,
    * bare-numeric second timestamps).
    */
  def deleteRequests(
      endpoint: String): Seq[(String, String, Long, Long, String)] = {
    val b = new Body("delete list",
      getJson("delete(list)", URI.create(s"$endpoint/loki/api/v1/delete")))
    // top-level array (no data wrapper on this endpoint)
    if (!b.tree.isArray) b.die("is not an array")
    b.tree.asScala.toSeq.map { el =>
      if (!el.isObject) b.die("has a malformed array")
      def str(k: String): String = el.get(k) match {
        case v if v != null && v.isTextual => v.textValue
        case _ => b.die(s"element has no $k")
      }
      def num(k: String): Long = el.get(k) match {
        case null => b.die(s"element has no $k")
        case v if v.isNumber => v.asLong
        case _ => b.die("has a bad timestamp")
      }
      (str("request_id"), str("query"), num("start_time"), num("end_time"),
        str("status"))
    }
  }

  /** push-API POST; body is the JSON `{"streams":[...]}` payload. */
  def push(endpoint: String, json: String): Unit = {
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint/loki/api/v1/push"))
      .timeout(Duration.ofMinutes(1))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build()
    val resp = withRetry("push")(() =>
      client.send(req, HttpResponse.BodyHandlers.ofString()))(_.statusCode())
    if (resp.statusCode() / 100 != 2) {
      throw new RuntimeException(
        s"Loki push failed: HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
    }
  }

  def nowNs: Long = System.currentTimeMillis() * 1000000L

  /** Default scan window: now − 30 d … now (utils.rs:3-12), evaluated at
    * execute time like the reference (scan.rs:107-111).
    */
  def thirtyDaysAgoNs: Long = nowNs - 30L * 24 * 3600 * 1000000000L
}
