package graft.sources.loki.testkit

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import graft.sources.loki.LogQL.quote

/** In-process replica of the Loki endpoints the reference integration tests
  * exercise against docker-compose (SURVEY.md §5):
  *
  *   GET  /loki/api/v1/status/buildinfo
  *   GET  /loki/api/v1/query_range   (parquet wire encoding)
  *   POST /loki/api/v1/push          (JSON streams payload)
  *
  * Like real Loki, ingest injects `detected_level` and `service_name`
  * labels (visible in every reference golden output, tests/table.rs:21-22),
  * and query_range evaluates the LogQL selector + line filters + time
  * range + limit server-side — which is what makes the connector's Exact
  * pushdown claims testable: Spark never re-filters.
  */
/** Global serving-time counters across every stub instance in the JVM:
  * requests, response-cache hits and serve time. A benchmark reads them
  * before and after a run to attribute its cost between stub serving and
  * the connector (three atomic bumps per request).
  */
object LokiStubServer {
  // Real Loki (Go) sets TCP_NODELAY on every connection. The JDK server
  // leaves Nagle's algorithm on unless this property is set before its
  // first socket, and then a small response sent after its headers waits
  // for the client's delayed ACK: about 40 ms per back-to-back request on
  // a kept-alive connection. An explicit -D setting wins.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A JDK HTTP server on a free loopback port, created after the
    * property above is set.
    */
  private def createServer(): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  val reqs = new java.util.concurrent.atomic.AtomicLong(0)
  val cacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  val serveNs = new java.util.concurrent.atomic.AtomicLong(0)
}

final class LokiStubServer {

  final case class LogRow(
      tsNs: Long, labels: Map[String, String], line: String,
      /** Loki 3.x per-entry structured metadata (round 16) — non-indexed
        * key/values; empty for classic entries.
        */
      metadata: Map[String, String] = Map.empty)

  private val rows = mutable.ArrayBuffer.empty[LogRow]
  // ingest-dedup membership index over `rows` (see handlePush)
  private val seen = mutable.HashSet.empty[LogRow]
  private var server: HttpServer = _

  def ingested: Seq[LogRow] = rows.synchronized(rows.toSeq)

  def clear(): Unit = {
    rows.synchronized {
      rows.clear(); seen.clear(); respCacheClear(); sortedCache = null
      deleteReqs.clear(); deleteIdNext = 1
    }
    // the dataset behind this endpoint just changed — stale stats-split
    // boundary placements for it must not survive (see dropBoundsFor)
    if (server != null) graft.sources.loki.LokiScan.dropBoundsFor(endpoint)
  }

  /** Direct seeding (no push-API label injection) — for harness queries
    * that need the stored rows to equal a known relation exactly.
    */
  def seed(rs: Iterable[LogRow]): Unit =
    rows.synchronized {
      rows ++= rs; seen ++= rs; respCacheClear(); sortedCache = null
    }

  /** Requests observed, for pushdown assertions (query string per scan). */
  val queries = mutable.ArrayBuffer.empty[String]

  /** Per-request (logql, start, end) as received on the wire — lets the
    * time-defaults gate row assert what window the reader actually sent.
    */
  val ranges = mutable.ArrayBuffer.empty[(String, Option[Long], Option[Long])]

  // response cache keyed by the full query params; invalidated on ingest.
  // Real Loki caches query results the same way; here it keeps repeated
  // harness scans (bench warm-up + timed pass) from re-encoding parquet.
  // ACCESS-ORDER LRU bounded by BYTES (round 17): the old policy cleared
  // the WHOLE cache once it passed 256 entries, and a full bench run's
  // ~70 connector rows × 8-32 slices each overflow that well before the
  // timed passes — so "warm" connector scans re-filtered and re-encoded
  // parquet on a cache that thrashed empty (the loki_log_patterns warm
  // drift the r16 verdict asked to pin: code and plan were unchanged,
  // the stub's cache footprint was not). Real Loki bounds its results
  // cache by memory the same way. The budget is 256 MB unless
  // GRAFT_STUB_CACHE_BYTES sets it.
  private val respCacheBudget: Long = sys.env.get("GRAFT_STUB_CACHE_BYTES")
    .map(_.toLong).getOrElse(256L << 20)
  private var respCacheBytes = 0L
  private val respCache =
    new java.util.LinkedHashMap[(String, Long, Long, Option[Int]), Array[Byte]](
      64, 0.75f, /* accessOrder = */ true)
  // callers hold rows.synchronized (the pre-existing locking discipline)
  private def respCacheGet(k: (String, Long, Long, Option[Int])): Option[Array[Byte]] =
    Option(respCache.get(k))
  private def respCachePut(k: (String, Long, Long, Option[Int]), v: Array[Byte]): Unit = {
    val prev = respCache.put(k, v)
    respCacheBytes += v.length.toLong - (if (prev == null) 0L else prev.length.toLong)
    val it = respCache.entrySet().iterator()
    while (respCacheBytes > respCacheBudget && it.hasNext) {
      respCacheBytes -= it.next().getValue.length.toLong
      it.remove()
    }
  }
  private def respCacheClear(): Unit = { respCache.clear(); respCacheBytes = 0L }

  /** Memoize a meta endpoint's 200-response by its full request URI,
    * through the same store-invalidated cache as query bodies (round 17):
    * the series/volume handlers recompute a full-store distinct/aggregate
    * per request (~250 ms on the bench corpus), and real Loki serves
    * these from its index cache. Error responses are never cached.
    */
  private def metaCached(ex: HttpExchange)(compute: => Option[Array[Byte]]): Unit = {
    val key = ("meta|" + ex.getRequestURI.toString, 0L, 0L, None: Option[Int])
    rows.synchronized(respCacheGet(key)) match {
      case Some(b) =>
        LokiStubServer.cacheHits.incrementAndGet()
        respond(ex, 200, b)
      case None =>
        compute.foreach { b =>
          rows.synchronized(respCachePut(key, b))
          respond(ex, 200, b)
        }
    }
  }

  /** ts-sorted snapshot of `rows`, built once per corpus generation
    * (invalidated wherever respCache is) — the paged-walk query handler
    * binary-searches it instead of re-sorting the store per request.
    */
  @volatile private var sortedCache: Array[LogRow] = null
  private def sortedSnapshot(): Array[LogRow] = rows.synchronized {
    if (sortedCache == null)
      sortedCache = rows.toArray.sortBy(_.tsNs)
    sortedCache
  }

  /** Simulated per-request RTT for index/stats probes (ms), for
    * real-endpoint-latency runs: plan-time probe latency is the
    * thing the budgeted parallel frontier exists to bound, and a 0-RTT
    * loopback stub can't exercise it.
    */
  @volatile var statsLatencyMs: Long = 0L

  /** Simulated per-request RTT for query_range (ms), for paging runs:
    * a paged scan's wall is pages × RTT per slice, which is
    * what `partitions=N` divides; a 0-RTT loopback hides it.
    */
  @volatile var queryLatencyMs: Long = 0L

  /** Parquet row-group size for wire responses (bytes). The default
    * (128 MB) makes every test response a SINGLE row group, which leaves
    * the readers' row-group-advance paths unexercised — a real Loki
    * response to a big window spans several. Set small to force
    * multi-row-group responses.
    */
  @volatile var rowGroupBytes: Long = 128L * 1024 * 1024

  /** Wire-encoding knobs (round 12): a real Loki with
    * `frontend.support_parquet_encoding` picks its own compression
    * codec, dictionary policy, and data-page version — the readers
    * accept whatever parquet-java handles (the reference inherits the
    * same contract from ParquetRecordBatchStreamBuilder,
    * scan.rs:200-213). The conformance matrix spec sweeps these.
    */
  @volatile var wireCodec: CompressionCodecName = CompressionCodecName.UNCOMPRESSED
  @volatile var wireDictionary: Boolean = true
  @volatile var wireV2Pages: Boolean = false
  /** Data-page and dictionary-page caps of the wire writer, parquet's
    * defaults unless set: small caps make a column chunk's dictionary
    * overflow into plain pages part-way through.
    */
  @volatile var wirePageBytes: Int =
    org.apache.parquet.column.ParquetProperties.DEFAULT_PAGE_SIZE
  @volatile var wireDictionaryPageBytes: Int =
    org.apache.parquet.column.ParquetProperties.DEFAULT_DICTIONARY_PAGE_SIZE

  /** Fault injection (round 12): fail the next N requests of each kind
    * with HTTP 503, for the bounded-retry specs — a real Loki throttles
    * (429) and its gateways hiccup (5xx) routinely at scale.
    */
  val failNextQueries = new java.util.concurrent.atomic.AtomicInteger(0)
  val failNextStats = new java.util.concurrent.atomic.AtomicInteger(0)
  val failNextPushes = new java.util.concurrent.atomic.AtomicInteger(0)
  /** One counter for the whole metadata family (labels, label values,
    * series, volume): they share the client's getJson→withRetry path,
    * so one injection point pins the bounded retry for all of them.
    */
  val failNextMeta = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Real-Loki server limits (round 12). `serverDefaultLimit` models
    * `limits_config.max_entries_limit_per_query` ON AN UNLIMITED REQUEST:
    * a query_range without `limit` is answered with at most this many
    * entries (in the request's direction) — the SILENT truncation the
    * `query_limit` option exists to close. `rejectOverLimit` models the
    * same cap on an EXPLICIT limit: real Loki answers 400 instead of
    * clamping. 0 = unlimited (the frictionless test default).
    */
  @volatile var serverDefaultLimit: Int = 0
  @volatile var rejectOverLimit: Int = 0

  private def injectFailure(
      ex: HttpExchange, counter: java.util.concurrent.atomic.AtomicInteger): Boolean =
    counter.getAndUpdate(n => math.max(n - 1, 0)) > 0 && {
      // Drain the request body before answering: com.sun.net.httpserver can
      // reset a keep-alive connection when a POST body is left unread, which
      // would turn the deterministic injected 503 into a flaky client-side
      // IOException (same retry path, different spec assertion).
      try { ex.getRequestBody.readAllBytes(): Unit } catch { case _: Exception => }
      respond(ex, 503, "stub: injected transient failure".getBytes(UTF_8))
      true
    }

  def start(): Int = {
    server = LokiStubServer.createServer()
    // a real Loki serves concurrent requests; the default (null) executor
    // runs every handler on the single dispatcher thread, which would
    // serialize the connector's parallel slice reads and parallel stats
    // probes, hiding exactly the latency behavior the smoke measures.
    // Daemon threads so a stub can never keep the harness JVM alive.
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "loki-stub-handler")
        t.setDaemon(true)
        t
      }))
    server.createContext("/loki/api/v1/status/buildinfo", (ex: HttpExchange) =>
      respond(ex, 200, """{"version":"stub"}""".getBytes(UTF_8)))
    server.createContext("/loki/api/v1/push", (ex: HttpExchange) => handlePush(ex))
    server.createContext("/loki/api/v1/query_range", (ex: HttpExchange) => handleQuery(ex))
    server.createContext("/loki/api/v1/index/stats", (ex: HttpExchange) => handleStats(ex))
    server.createContext("/loki/api/v1/labels", (ex: HttpExchange) => handleLabels(ex))
    // label VALUES live under /label/<name>/values — a PREFIX context;
    // the handler parses the name out of the path like real Loki's router
    server.createContext("/loki/api/v1/label/", (ex: HttpExchange) => handleLabelValues(ex))
    server.createContext("/loki/api/v1/series", (ex: HttpExchange) => handleSeries(ex))
    server.createContext("/loki/api/v1/index/volume_range", (ex: HttpExchange) =>
      handleVolume(ex, range = true))
    server.createContext("/loki/api/v1/index/volume", (ex: HttpExchange) =>
      handleVolume(ex, range = false))
    server.createContext("/loki/api/v1/patterns", (ex: HttpExchange) =>
      handlePatterns(ex))
    server.createContext("/loki/api/v1/delete", (ex: HttpExchange) =>
      handleDelete(ex))
    // start from a daemon thread: HttpServer's dispatcher inherits daemon
    // status, so a stub can never keep the harness JVM alive
    val t = new Thread(() => server.start())
    t.setDaemon(true)
    t.start()
    t.join()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) {
    // the OS may recycle this port for a LATER stub in the same JVM —
    // cached boundary placements keyed by the endpoint would alias the
    // old corpus onto the new one (balance-only, but deterministic tests
    // must not depend on port-reuse timing)
    graft.sources.loki.LokiScan.dropBoundsFor(endpoint)
    server.stop(0)
  }

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  // ------------------------------------------------------------------ push

  /** Raw push payloads as received — wire-shape assertions (e.g. the
    * per-push stream-object count) read these; `ingested` stays the
    * row-level view.
    */
  val pushBodies = mutable.ArrayBuffer.empty[String]

  /** Loki's documented `discover_service_name` default label list: the
    * first present label's value becomes `service_name` (the reference
    * goldens show it copying `app`, tests/table.rs:21-22); none present →
    * "unknown". An explicitly-pushed `service_name` is kept as-is.
    */
  private val serviceLabels = Seq("service", "app", "application", "name",
    "app_kubernetes_io_name", "container", "container_name", "component",
    "workload", "job")

  /** Loki's log-level discovery: an explicit level-ish label wins;
    * otherwise a case-insensitive token scan of the line (the goldens'
    * "this is aaa log" carries none → "unknown"). Synonyms normalize the
    * way Loki's detector does (warning→warn, err→error).
    */
  private val levelRe = java.util.regex.Pattern.compile(
    "(?i)\\b(trace|debug|info|warn(?:ing)?|err(?:or)?|critical|fatal)\\b")

  private def normLevel(v: String): String = v.toLowerCase match {
    case "warning" => "warn"
    case "err" => "error"
    case x => x
  }

  private def detectLevel(labels: Map[String, String], line: String): String =
    labels.collectFirst {
      case (k, v) if Set("level", "severity", "lvl")(k.toLowerCase) => normLevel(v)
    }.getOrElse {
      val m = levelRe.matcher(line)
      if (m.find()) normLevel(m.group(1)) else "unknown"
    }

  private def handlePush(ex: HttpExchange): Unit = {
    if (injectFailure(ex, failNextPushes)) return
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    pushBodies.synchronized(pushBodies += body)
    val pushed =
      try parsePush(body)
      catch {
        // Loki answers a push body it cannot decode with 400
        case e @ (_: IllegalArgumentException |
            _: com.fasterxml.jackson.core.JsonProcessingException) =>
          respond(ex, 400, String.valueOf(e.getMessage).getBytes(UTF_8))
          return
      }
    pushed.foreach { r =>
      val svc = r.labels.get("service_name").getOrElse(
        serviceLabels.collectFirst {
          case l if r.labels.contains(l) => r.labels(l)
        }.getOrElse("unknown"))
      val lvl = r.labels.getOrElse("detected_level",
        detectLevel(r.labels, r.line))
      val injected = r.labels ++ Map(
        "detected_level" -> lvl, "service_name" -> svc)
      // Loki ingest drops entries identical in (ts, labels, line) — the
      // semantics the writer's at-least-once delivery relies on
      // (LokiWrite: a retried/speculative task re-POSTs its batches), so
      // the stub must model it or stub-backed runs double-count retries.
      val row = r.copy(labels = injected)
      rows.synchronized {
        if (seen.add(row)) { rows += row; respCacheClear(); sortedCache = null }
      }
    }
    respond(ex, 204, Array.emptyByteArray)
  }

  /** Decode the push payload the writer emits (strict JSON):
    * {"streams":[{"stream":{k:v,...},"values":[["ns","line"(,{meta})?],...]},...]}
    * A body off this shape is answered 400.
    */
  private def parsePush(json: String): Seq[LogRow] = {
    def field(n: JsonNode, name: String): JsonNode = {
      val v = n.get(name)
      require(v != null, s"push payload: no $name in ${json.take(200)}")
      v
    }
    def text(n: JsonNode): String = {
      require(n != null && n.isTextual,
        s"push payload: expected a string in ${json.take(200)}")
      n.textValue
    }
    def arr(n: JsonNode): Seq[JsonNode] = {
      require(n.isArray, s"push payload: expected an array in ${json.take(200)}")
      n.asScala.toSeq
    }
    def strMap(o: JsonNode): Map[String, String] = {
      require(o.isObject, s"push payload: expected an object in ${json.take(200)}")
      o.properties.asScala.iterator.map(e => e.getKey -> text(e.getValue)).toMap
    }
    arr(field(graft.sources.loki.LokiParsers.strictJson.readTree(json), "streams"))
      .flatMap { st =>
        val labels = strMap(field(st, "stream"))
        arr(field(st, "values")).map { v =>
          val e = arr(v)
          require(e.size >= 2,
            s"push payload: a value needs a timestamp and a line in ${json.take(200)}")
          // optional third element (Loki 3.x): structured-metadata object
          LogRow(text(e(0)).toLong, labels, text(e(1)),
            if (e.size > 2) strMap(e(2)) else Map.empty)
        }
      }
  }

  // ----------------------------------------------------------- query_range

  private def handleQuery(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    LokiStubServer.reqs.incrementAndGet()
    try handleQuery0(ex)
    finally { LokiStubServer.serveNs.addAndGet(System.nanoTime() - t0); () }
  }

  private def handleQuery0(ex: HttpExchange): Unit = {
    if (injectFailure(ex, failNextQueries)) return
    if (queryLatencyMs > 0) Thread.sleep(queryLatencyMs)
    val params = ex.getRequestURI.getRawQuery.split('&').map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    val logql = params("query")
    queries.synchronized(queries += logql)
    val start = params.get("start").map(_.toLong).getOrElse(Long.MinValue)
    val end = params.get("end").map(_.toLong).getOrElse(Long.MaxValue)
    val limit = params.get("limit").map(_.toInt)
    ranges.synchronized {
      ranges += ((logql, params.get("start").map(_.toLong),
        params.get("end").map(_.toLong)))
    }

    // METRIC queries (round 14): real Loki dispatches on the parsed query
    // type — a metric query through query_range is answered as a
    // Prometheus-style JSON matrix evaluated at `step` intervals, never
    // as a log stream — so the stub dispatches on the query text the
    // same way, before the log path's parquet content negotiation.
    if (isMetricQuery(logql)) {
      handleMetricQuery(ex, logql, start, end, params.get("step"))
    } else if (ex.getRequestHeaders.getFirst("Accept") != "application/vnd.apache.parquet") {
      respond(ex, 406, "stub only speaks parquet".getBytes(UTF_8))
    } else {
      // direction semantics like real Loki: the DEFAULT is backward —
      // a limited query returns the NEWEST entries, newest-first — and
      // the readers' paged walks opt into forward explicitly. The old
      // stub silently served oldest-first under the default, certifying
      // a row SET real Loki would not return for a bare LIMIT (round 12).
      val forward = params.get("direction").contains("forward")
      // real-Loki server limits: reject an explicit over-cap limit (400),
      // silently truncate an unlimited request at the server default
      val cap0 = rejectOverLimit
      if (cap0 > 0 && limit.exists(_ > cap0)) {
        respond(ex, 400,
          s"max entries limit per query exceeded: $cap0".getBytes(UTF_8))
        return
      }
      val effLimit =
        if (limit.isEmpty && serverDefaultLimit > 0) Some(serverDefaultLimit)
        else limit
      val key = (s"$logql|fwd=$forward", start, end, effLimit)
      val cached = rows.synchronized(respCacheGet(key))
      if (cached.isDefined) { LokiStubServer.cacheHits.incrementAndGet(); () }
      val body = cached.getOrElse {
        val (matchers, stages) = parseLogql(logql)
        // sorted snapshot + binary-searched bounds: a paged walk over a
        // big corpus issues thousands of window requests, and the old
        // filter-then-sort paid O(n log n) PER PAGE — the snapshot sorts
        // once per generation and each request scans from its boundary,
        // stopping at the limit (same stable tie order as the old
        // sortBy: both sort the insertion sequence by tsNs)
        val all = sortedSnapshot()
        var lo = 0
        var hi = all.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (all(m).tsNs < start) lo = m + 1 else hi = m
        }
        var up = lo
        var upHi = all.length
        while (up < upHi) {
          val m = (up + upHi) >>> 1
          if (all(m).tsNs < end) up = m + 1 else upHi = m
        }
        val cap = effLimit.getOrElse(Int.MaxValue)
        val hits = mutable.ArrayBuffer.empty[LogRow]
        // survivors return their OUTPUT view: line_format/label_format
        // stages transform the returned row (identity when absent)
        def outRow(r: LogRow): Option[LogRow] =
          if (!matchers.forall(_.matches(r.labels))) None
          else evalPipeline(r, stages).map(pr =>
            r.copy(labels = pr.outLabels, line = pr.outLine))
        if (forward) {
          var i = lo
          while (i < up && hits.size < cap) {
            outRow(all(i)).foreach(hits += _)
            i += 1
          }
        } else {
          var i = up - 1
          while (i >= lo && hits.size < cap) {
            outRow(all(i)).foreach(hits += _)
            i -= 1
          }
        }
        val bytes = toParquet(hits.toSeq)
        rows.synchronized {
          // bound the per-page body cache: a long paged walk would
          // otherwise accumulate every page's parquet bytes
          respCachePut(key, bytes)
        }
        bytes
      }
      respond(ex, 200, body)
    }
  }

  /** step is a DURATION like real Loki's (float seconds or a Prometheus
    * duration string: "30", "30s", "5m", "1h", "2d") — NOT epoch ns; a
    * client sending ns here would see every bucket inflated 1e9×
    * against a real server, so the stub must parse the same dialect.
    * Shared by the volume_range and metric-query handlers.
    */
  private def parseStepNs(s: String): Long = {
    val m = java.util.regex.Pattern
      .compile("^([0-9]+(?:\\.[0-9]+)?)(s|m|h|d)?$").matcher(s.trim)
    require(m.matches(), s"bad step duration: $s")
    val mult = m.group(2) match {
      case null | "s" => 1L
      case "m" => 60L
      case "h" => 3600L
      case "d" => 86400L
    }
    (m.group(1).toDouble * mult * 1e9).toLong
  }

  /** `[topk(K, ]sum[ by (l…)] (count_over_time(<selector+stages>
    * [<N>s]))[)]` — the exact metric grammar the connector's
    * aggregation rewrite emits (graft.plans.LokiMetricAggRule). The
    * greedy inner group anchored at the literal ` [Ns]))` tail keeps a
    * bracketed token inside a line filter's backtick pattern from being
    * mistaken for the range. The topk wrapper's K and its closing paren
    * must appear together (validated in the handler). Round 16 adds
    * `sum_over_time` to the outer-sum form (LogQL excludes it from
    * range-agg grouping) and the two UNWRAPPED grouped forms below.
    */
  private val metricQueryRe = java.util.regex.Pattern.compile(
    "^(?:(topk|bottomk)\\((\\d+), )?sum(?: by \\(([^)]*)\\) )?" +
      "\\((count_over_time|bytes_over_time|sum_over_time)\\((.*) \\[(\\d+)s\\]\\)\\)(\\))?$",
    java.util.regex.Pattern.DOTALL)

  /** `avg/min/max_over_time(<inner> [Ns]) by (l…)` — unwrapped range
    * aggregations group on the range aggregation itself (LogQL):
    * samples aggregate ACROSS STREAMS per group per evaluation point.
    * `by ()` (empty) collapses everything into one series — the
    * global-aggregate form the rewrite emits when SQL groups on the
    * bucket only.
    */
  private val rangeAggQueryRe = java.util.regex.Pattern.compile(
    "^(avg_over_time|min_over_time|max_over_time" +
      "|first_over_time|last_over_time" +
      "|stddev_over_time|stdvar_over_time)" +
      "\\((.*) \\[(\\d+)s\\]\\) by \\(([^)]*)\\)$",
    java.util.regex.Pattern.DOTALL)

  /** `quantile_over_time(φ, <inner> [Ns]) by (l…)` — exact Prometheus
    * quantile: rank = φ·(n−1) over the sorted group samples,
    * lower + (upper − lower)·(rank − ⌊rank⌋).
    */
  private val quantileQueryRe = java.util.regex.Pattern.compile(
    "^quantile_over_time\\(([0-9.eE+-]+), (.*) \\[(\\d+)s\\]\\) by \\(([^)]*)\\)$",
    java.util.regex.Pattern.DOTALL)

  private def isMetricQuery(q: String): Boolean =
    metricQueryRe.matcher(q).matches() ||
      rangeAggQueryRe.matcher(q).matches() ||
      quantileQueryRe.matcher(q).matches()

  /** First index in the ts-sorted snapshot with tsNs > t. */
  private def upperBound(all: Array[LogRow], t: Long): Int = {
    var lo = 0
    var hi = all.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (all(m).tsNs <= t) lo = m + 1 else hi = m
    }
    lo
  }

  /** Metric query through query_range, like real Loki: evaluated at
    * `step` intervals from `start` while ≤ `end`; each evaluation at t
    * counts matching entries in the range-vector window `(t−range, t]`
    * (Prometheus left-open right-closed semantics). `sum by` groups
    * streams by the named labels — a label absent from a stream (or
    * empty-valued: unrepresentable in Loki's model) is OMITTED from the
    * metric object, the Prometheus empty≡absent convention. Steps with
    * no matching entries produce no sample (matrix shape: empty buckets
    * are omitted). Sample timestamps render as ms-precision float
    * seconds, the way real Loki's jsoniter encoder emits them.
    */
  private def handleMetricQuery(
      ex: HttpExchange, q: String, start: Long, end: Long,
      stepParam: Option[String]): Unit = {
    // parse one of the three grammars into a common shape
    var topk: Option[Int] = None
    var bottom = false
    var byLabels: Seq[String] = Nil
    var fn: String = null
    var phi: Double = 0.0
    var inner: String = null
    var rangeNs = 0L
    val mA = metricQueryRe.matcher(q)
    val mB = rangeAggQueryRe.matcher(q)
    val mC = quantileQueryRe.matcher(q)
    if (mA.matches()) {
      // topk/bottomk(K, …): the opener and its closing paren must pair up
      topk = Option(mA.group(2)).map(_.toInt)
      bottom = mA.group(1) == "bottomk"
      if (topk.isDefined != (mA.group(7) != null)) {
        respond(ex, 400, s"unbalanced topk parens: $q".getBytes(UTF_8)); return
      }
      byLabels = Option(mA.group(3)).toSeq
        .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty)
      fn = mA.group(4)
      inner = mA.group(5)
      rangeNs = mA.group(6).toLong * 1000000000L
    } else if (mB.matches()) {
      fn = mB.group(1)
      inner = mB.group(2)
      rangeNs = mB.group(3).toLong * 1000000000L
      byLabels = mB.group(4).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    } else if (mC.matches()) {
      fn = "quantile_over_time"
      phi = mC.group(1).toDouble
      inner = mC.group(2)
      rangeNs = mC.group(3).toLong * 1000000000L
      byLabels = mC.group(4).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    } else require(false, s"not a metric query: $q")
    // integer-valued kinds render their samples as whole numbers (the
    // way real Loki's FormatFloat 'f' renders them); unwrapped kinds
    // render float64 shortest-roundtrip text
    val integerValued = fn == "count_over_time" || fn == "bytes_over_time"
    val stepNs = stepParam match {
      case Some(s) =>
        try parseStepNs(s) catch {
          case e: IllegalArgumentException =>
            respond(ex, 400, e.getMessage.getBytes(UTF_8)); return
        }
      case None =>
        // real Loki derives a default step from the window; the stub
        // demands it so a client omitting the param fails loudly
        respond(ex, 400, "step is required for a metric query".getBytes(UTF_8))
        return
    }
    if (stepNs <= 0 || rangeNs <= 0) {
      respond(ex, 400, s"bad metric step/range".getBytes(UTF_8)); return
    }
    // same results cache as the log path (real Loki caches metric query
    // results the same way); invalidated wherever respCache is
    val cacheKey: (String, Long, Long, Option[Int]) =
      (s"metric|$q|step=$stepNs", start, end, None)
    rows.synchronized(respCacheGet(cacheKey)) match {
      case Some(body) =>
        LokiStubServer.cacheHits.incrementAndGet()
        respond(ex, 200, body); return
      case None =>
    }
    val (matchers, stages) = parseLogql(inner)
    val all = sortedSnapshot()
    // metric kvs → ts-ascending samples (eval points ascend)
    val acc = mutable.LinkedHashMap
      .empty[Seq[(String, String)], mutable.ArrayBuffer[(Long, Double)]]
    var t = start
    while (t <= end) {
      val lo = upperBound(all, t - rangeNs)
      val hi = upperBound(all, t)
      // per-group per-row contributions in timestamp order: entry count
      // / line bytes for the log-range kinds, the UNWRAPPED sample value
      // for the numeric kinds
      val buf = mutable.Map
        .empty[Seq[(String, String)], mutable.ArrayBuffer[Double]]
      var i = lo
      while (i < hi) {
        val r = all(i)
        if (matchers.forall(_.matches(r.labels))) {
          // `sum by` groups on the EFFECTIVE label set — parser stages
          // in the inner query make extracted labels groupable
          evalPipeline(r, stages) match {
            case Some(pr) =>
              val key = byLabels.flatMap(l =>
                pr.labels.get(l).filter(_.nonEmpty).map(l -> _))
              val contribution = fn match {
                case "count_over_time" => 1.0
                case "bytes_over_time" => r.line.getBytes(UTF_8).length.toDouble
                case _ => pr.value.getOrElse(sys.error(
                  s"$fn requires an | unwrap stage in: $q"))
              }
              buf.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += contribution
            case None => ()
          }
        }
        i += 1
      }
      val combined: Seq[(Seq[(String, String)], Double)] =
        buf.toSeq.map { case (k, vs) =>
          val v = fn match {
            case "count_over_time" => vs.size.toDouble
            case "bytes_over_time" | "sum_over_time" => vs.sum
            case "avg_over_time" => vs.sum / vs.size
            case "min_over_time" => vs.min
            // contributions append in snapshot (timestamp) order, so
            // head/last ARE the earliest/latest samples in the window —
            // real Loki's first/last_over_time selection
            case "first_over_time" => vs.head
            case "last_over_time" => vs.last
            case "max_over_time" => vs.max
            case "stdvar_over_time" | "stddev_over_time" =>
              // population variance, two-pass (deterministic in the
              // sample multiset, unlike streaming Welford)
              val mean = vs.sum / vs.size
              val sv = vs.map(x => (x - mean) * (x - mean)).sum / vs.size
              if (fn == "stddev_over_time") math.sqrt(sv) else sv
            case "quantile_over_time" =>
              // Prometheus quantile: rank = φ·(n−1) over sorted values,
              // linear interpolation — the identical formula Spark's
              // exact `percentile` and DuckDB's quantile_cont compute
              val sorted = vs.sorted
              val rank = phi * (sorted.size - 1)
              val lo0 = math.floor(rank).toInt
              val hi0 = math.ceil(rank).toInt
              sorted(lo0) + (sorted(hi0) - sorted(lo0)) * (rank - lo0)
          }
          (k, v)
        }
      val kept = topk match {
        case Some(k) =>
          // per-evaluation-point top-k (or bottom-k, round 16) series by
          // value (Prometheus semantics); ties broken by the rendered
          // metric key — real Loki's choice among ties is arbitrary, the
          // stub's is deterministic so conformance replays are stable
          combined.sortBy { case (key, c) =>
            (if (bottom) c else -c,
              key.map { case (a, b) => s"$a=$b" }.mkString(",")) }.take(k)
        case None => combined
      }
      kept.foreach { case (k, c) =>
        acc.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((t, c))
      }
      if (t > Long.MaxValue - stepNs) t = Long.MaxValue else t += stepNs
      if (t == Long.MaxValue) t = end + 1 // saturated: no further points
    }
    val els = acc.toSeq
      .sortBy { case (k, _) =>
        k.map { case (a, b) => s"$a=$b" }.mkString(",") }
      .map { case (k, samples) =>
        val metric = "{" + k.sortBy(_._1)
          .map { case (a, b) => s"${quote(a)}:${quote(b)}" }
          .mkString(",") + "}"
        val vals = samples.map { case (tNs, c) =>
          val ms = tNs / 1000000L
          val tsStr =
            if (ms % 1000 == 0) s"${ms / 1000}"
            else s"${ms / 1000}.${"%03d".format(ms % 1000)}"
          val vStr = if (integerValued) c.toLong.toString else c.toString
          s"[$tsStr,${quote(vStr)}]"
        }.mkString(",")
        s"""{"metric":$metric,"values":[$vals]}"""
      }.mkString(",")
    val body =
      s"""{"status":"success","data":{"resultType":"matrix","result":[$els]}}"""
        .getBytes(UTF_8)
    rows.synchronized {
      respCachePut(cacheKey, body)
    }
    respond(ex, 200, body)
  }

  /** `GET /loki/api/v1/index/stats` — entry count for a stream selector
    * over [start, end). Like real Loki: selector only (any line-filter
    * stages after the selector are ignored), and the response carries the
    * streams/chunks/bytes/entries quartet. Powers `split=stats` boundary
    * probing; `statsCalls` lets specs assert the probe count.
    */
  val statsCalls = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Per-probe (start, end) windows as received — lets specs assert WHICH
    * windows were probed (e.g. that a stats-split scan's root probe was
    * served by the shared memo, not re-requested).
    */
  val statsRanges = mutable.ArrayBuffer.empty[(Long, Long)]

  /** When set, `index/stats` reports these (bytes, entries) instead of
    * the seeded rows' actual sums — lets specs simulate a TB-scale
    * selector (the int64-overflow regime) without seeding 1e9 rows.
    */
  @volatile var statsOverride: Option[(Long, Long)] = None

  private def handleStats(ex: HttpExchange): Unit = {
    if (injectFailure(ex, failNextStats)) return
    statsCalls.incrementAndGet()
    if (statsLatencyMs > 0) Thread.sleep(statsLatencyMs)
    val params = ex.getRequestURI.getRawQuery.split('&').map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    val (matchers, _) = parseLogql(params("query"))
    val start = params.get("start").map(_.toLong).getOrElse(Long.MinValue)
    val end = params.get("end").map(_.toLong).getOrElse(Long.MaxValue)
    statsRanges.synchronized(statsRanges += ((start, end)))
    val hits = rows.synchronized(rows.toSeq)
      .filter(r => r.tsNs >= start && r.tsNs < end)
      .filter(r => matchers.forall(_.matches(r.labels)))
    val streams = hits.map(_.labels).distinct.size
    val (bytes, entries) = statsOverride.getOrElse(
      (hits.map(_.line.length.toLong).sum, hits.size.toLong))
    val body = s"""{"streams":$streams,"chunks":$streams,""" +
      s""""bytes":$bytes,"entries":$entries}"""
    respond(ex, 200, body.getBytes(UTF_8))
  }

  // -------------------------------------------------- metadata endpoints
  // Real-Loki series/labels API shape: {"status":"success","data":[...]}.
  // Windows here are INCLUSIVE of end like real Loki's metadata queries
  // (they take RFC/epoch range params; we accept epoch ns and treat the
  // window as [start, end) for consistency with the stub's query_range).

  private def qparams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).filter(_.nonEmpty)
      .map(_.split('&').map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap).getOrElse(Map.empty)

  private def windowRows(params: Map[String, String]): Seq[LogRow] = {
    val start = params.get("start").map(_.toLong).getOrElse(Long.MinValue)
    val end = params.get("end").map(_.toLong).getOrElse(Long.MaxValue)
    rows.synchronized(rows.toSeq).filter(r => r.tsNs >= start && r.tsNs < end)
  }

  /** `GET /loki/api/v1/labels` — distinct label NAMES in the window. */
  private def handleLabels(ex: HttpExchange): Unit = {
    if (injectFailure(ex, failNextMeta)) return
    val names = windowRows(qparams(ex))
      .flatMap(_.labels.keys).distinct.sorted
    respond(ex, 200,
      s"""{"status":"success","data":[${names.map(quote).mkString(",")}]}"""
        .getBytes(UTF_8))
  }

  /** `GET /loki/api/v1/label/<name>/values` — distinct VALUES of one
    * label in the window; optional `query` selector narrows the streams
    * (real Loki supports it for TSDB indexes).
    */
  private def handleLabelValues(ex: HttpExchange): Unit = {
    if (injectFailure(ex, failNextMeta)) return
    val path = ex.getRequestURI.getPath
    val m = java.util.regex.Pattern
      .compile(".*/label/([^/]+)/values$").matcher(path)
    if (!m.matches()) { respond(ex, 404, "not found".getBytes(UTF_8)); return }
    val name = java.net.URLDecoder.decode(m.group(1), "UTF-8")
    val params = qparams(ex)
    val sel = params.get("query").map(q => parseLogql(q)._1).getOrElse(Nil)
    val values = windowRows(params)
      .filter(r => sel.forall(_.matches(r.labels)))
      .flatMap(_.labels.get(name)).distinct.sorted
    respond(ex, 200,
      s"""{"status":"success","data":[${values.map(quote).mkString(",")}]}"""
        .getBytes(UTF_8))
  }

  /** `GET /loki/api/v1/series` — distinct label SETS matching any of the
    * `match[]` selectors. Like real Loki, a request WITHOUT at least one
    * `match[]` is rejected 400 — a stub that answered it would certify a
    * client that breaks against every real endpoint.
    */
  private def handleSeries(ex: HttpExchange): Unit = {
    if (injectFailure(ex, failNextMeta)) return
    val params = qparams(ex)
    if (!params.contains("match[]")) {
      respond(ex, 400,
        "at least one matcher is required in a series request".getBytes(UTF_8))
      return
    }
    metaCached(ex) {
      val sels = params.get("match[]").toSeq.map(q => parseLogql(q)._1)
      val sets = windowRows(params)
        .filter(r => sels.isEmpty || sels.exists(_.forall(_.matches(r.labels))))
        .map(_.labels).distinct
        .sortBy(_.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","))
      val body = sets.map(s =>
        "{" + s.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${quote(k)}:${quote(v)}" }
          .mkString(",") + "}").mkString(",")
      Some(s"""{"status":"success","data":[$body]}""".getBytes(UTF_8))
    }
  }

  /** Volume requests as received (param map per request) — wire-pin
    * assertions for the `loki.meta.volume*` relations read these.
    */
  val volumeRequests = mutable.ArrayBuffer.empty[Map[String, String]]

  /** `GET /loki/api/v1/index/volume` (+ `/index/volume_range`) — aggregate
    * log VOLUME per series or label over the window, real Loki's capacity
    * census. Modeled contract:
    *
    *   - `query` (selector) is REQUIRED — real Loki rejects a volume
    *     request without one — as are `start`/`end`; 400 otherwise.
    *   - volume of a row = its line length (the same size model this
    *     stub's `index/stats` bytes field uses — self-consistent, and
    *     exact for the ASCII corpora the gates seed).
    *   - `targetLabels=a,b` restricts the grouping key to those labels;
    *     a row carrying NONE of them contributes nothing.
    *   - `aggregateBy=labels` groups by label NAME instead of value
    *     (metric `{name=""}`), each row contributing to every target
    *     name it carries; default `series` groups by the (restricted)
    *     label SET.
    *   - `limit` (default 100, like real Loki) keeps the top-N series by
    *     total bytes — descending, metric-rendering ascending on ties,
    *     so the cut is deterministic.
    *   - the range form buckets by `step` ns from `start` and answers a
    *     Prometheus MATRIX (empty buckets omitted, samples ts-ascending);
    *     the plain form answers a VECTOR with one sample at `end`.
    *     Sample timestamps are integer SECONDS — the precision the real
    *     endpoint's Prometheus response shape carries.
    */
  private def handleVolume(ex: HttpExchange, range: Boolean): Unit = {
    if (injectFailure(ex, failNextMeta)) return
    val params = qparams(ex)
    volumeRequests.synchronized(volumeRequests += params)
    if (!params.contains("query") || !params.contains("start") ||
        !params.contains("end")) {
      respond(ex, 400,
        "query, start and end are required in a volume request".getBytes(UTF_8))
      return
    }
    val (matchers, _) = parseLogql(params("query"))
    val start = params("start").toLong
    val end = params("end").toLong
    val limit = params.get("limit").map(_.toInt).getOrElse(100)
    val targets = params.get("targetLabels").toSeq
      .flatMap(_.split(',').toSeq).filter(_.nonEmpty)
    val byLabelName = params.get("aggregateBy").contains("labels")
    val stepNs =
      try {
        if (range) params.get("step").map(parseStepNs).getOrElse(end - start)
        else end - start
      } catch {
        case e: IllegalArgumentException =>
          // 400, never an unanswered exchange — a throw here would leave
          // the client hanging on the socket instead of failing loudly
          respond(ex, 400, e.getMessage.getBytes(UTF_8))
          return
      }
    if (stepNs <= 0) {
      respond(ex, 400, s"bad volume step/window: $stepNs".getBytes(UTF_8))
      return
    }

    metaCached(ex) {
    val hits = rows.synchronized(rows.toSeq)
      .filter(r => r.tsNs >= start && r.tsNs < end)
      .filter(r => matchers.forall(_.matches(r.labels)))

    // metric keys a row contributes to (labels mode: one per target NAME
    // it carries; series mode: its label set restricted to the targets)
    def keysOf(r: LogRow): Seq[Seq[(String, String)]] =
      if (byLabelName) {
        val names =
          if (targets.isEmpty) r.labels.keys.toSeq else targets.filter(r.labels.contains)
        names.map(n => Seq(n -> ""))
      } else {
        val kvs =
          if (targets.isEmpty) r.labels.toSeq.sortBy(_._1)
          else targets.flatMap(t => r.labels.get(t).map(t -> _))
        if (kvs.isEmpty) Nil else Seq(kvs)
      }

    def render(kvs: Seq[(String, String)]): String =
      "{" + kvs.sortBy(_._1)
        .map { case (k, v) => s"${quote(k)}:${quote(v)}" }
        .mkString(",") + "}"

    // (metric, bucket) → bytes
    val acc = mutable.Map.empty[(Seq[(String, String)], Long), Long]
    hits.foreach { r =>
      val bucket = start + (r.tsNs - start) / stepNs * stepNs
      keysOf(r).foreach { k =>
        val key = (k, bucket)
        acc(key) = acc.getOrElse(key, 0L) + r.line.length.toLong
      }
    }
    val bySeries = acc.groupBy(_._1._1).toSeq
      .map { case (m, samples) =>
        (m, samples.values.sum,
          samples.map { case ((_, b), v) => (b, v) }.toSeq.sortBy(_._1))
      }
      .sortBy { case (m, total, _) => (-total, render(m)) }
      .take(limit)

    val body =
      if (range) {
        val els = bySeries.map { case (m, _, samples) =>
          val vals = samples
            .map { case (b, v) => s"[${b / 1000000000L},${quote(v.toString)}]" }
            .mkString(",")
          s"""{"metric":${render(m)},"values":[$vals]}"""
        }.mkString(",")
        s"""{"status":"success","data":{"resultType":"matrix","result":[$els]}}"""
      } else {
        val endSec = end / 1000000000L
        val els = bySeries.map { case (m, total, _) =>
          s"""{"metric":${render(m)},"value":[$endSec,${quote(total.toString)}]}"""
        }.mkString(",")
        s"""{"status":"success","data":{"resultType":"vector","result":[$els]}}"""
      }
    Some(body.getBytes(UTF_8))
    }
  }

  /** `GET /loki/api/v1/patterns` — real Loki's server-side log-pattern
    * detection. Modeled contract:
    *
    *   - `query` (selector), `start`, `end` REQUIRED; 400 otherwise —
    *     like the volume endpoints.
    *   - detection is Drain-style, the SAME algorithm the connector's
    *     Spark-side `drainTemplates` census implements (that is the
    *     cross-check the gate row leans on): lines are masked by the
    *     a-priori token classes (uuid/ip/hex/num — the preprocessing
    *     step of any Drain variant), grouped by shape (token count +
    *     head token), and positions that vary within a shape become the
    *     `<_>` placeholder real Loki's endpoint emits (the Spark census
    *     spells it `<*>`).
    *   - counts bucket by `step` (duration dialect) from `start`; no
    *     step → one bucket spanning the window. Samples are
    *     `[epoch-seconds, count]` with BARE numeric counts — the real
    *     endpoint's shape, unlike the quoted Prometheus sample values.
    */
  private def handlePatterns(ex: HttpExchange): Unit = {
    if (injectFailure(ex, failNextMeta)) return
    val params = qparams(ex)
    if (!params.contains("query") || !params.contains("start") ||
        !params.contains("end")) {
      respond(ex, 400,
        "query, start and end are required in a patterns request".getBytes(UTF_8))
      return
    }
    val (matchers, _) = parseLogql(params("query"))
    val start = params("start").toLong
    val end = params("end").toLong
    val stepNs =
      try params.get("step").map(parseStepNs).getOrElse(end - start)
      catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, e.getMessage.getBytes(UTF_8)); return
      }
    if (stepNs <= 0) {
      respond(ex, 400, s"bad patterns step/window: $stepNs".getBytes(UTF_8))
      return
    }
    val cacheKey: (String, Long, Long, Option[Int]) =
      (s"patterns|${params("query")}|step=$stepNs", start, end, None)
    rows.synchronized(respCacheGet(cacheKey)) match {
      case Some(body) =>
        LokiStubServer.cacheHits.incrementAndGet()
        respond(ex, 200, body); return
      case None =>
    }
    val hits = rows.synchronized(rows.toSeq)
      .filter(r => r.tsNs >= start && r.tsNs < end)
      .filter(r => matchers.forall(_.matches(r.labels)))
    // shape key → (template tokens, null = varies; bucket → count)
    val byShape = mutable.Map.empty[
      (Int, String), (Array[String], mutable.Map[Long, Long])]
    hits.foreach { r =>
      // the same masking pass the connector's native log_template runs
      // (RE2 boundary semantics); -1 keeps trailing empty tokens so the
      // shape key matches the Spark census's split() exactly
      val toks = graft.functions.LogTemplateUtil.template(r.line)
        .split(" ", -1)
      val bucket = start + (r.tsNs - start) / stepNs * stepNs
      byShape.get((toks.length, toks.head)) match {
        case None =>
          byShape((toks.length, toks.head)) =
            (toks, mutable.Map(bucket -> 1L))
        case Some((tmpl, counts)) =>
          var i = 0
          while (i < tmpl.length) {
            if (tmpl(i) != null && tmpl(i) != toks(i)) tmpl(i) = null
            i += 1
          }
          counts(bucket) = counts.getOrElse(bucket, 0L) + 1L
      }
    }
    val els = byShape.values.toSeq
      .map { case (tmpl, counts) =>
        (tmpl.map(t => if (t == null) "<_>" else t).mkString(" "),
          counts.toSeq.sorted)
      }
      .sortBy(_._1)
      .map { case (pat, samples) =>
        val vals = samples
          .map { case (b, c) => s"[${b / 1000000000L},$c]" }.mkString(",")
        s"""{"pattern":${quote(pat)},"samples":[$vals]}"""
      }.mkString(",")
    val body = s"""{"status":"success","data":[$els]}""".getBytes(UTF_8)
    rows.synchronized {
      respCachePut(cacheKey, body)
    }
    respond(ex, 200, body)
  }

  /** Filed delete requests, for wire-pin assertions and the GET listing. */
  final case class DeleteReq(
      id: Int, query: String, startNs: Long, endNs: Long, status: String)
  val deleteReqs = mutable.ArrayBuffer.empty[DeleteReq]
  private var deleteIdNext = 1

  /** When true, filed delete requests stay in status "received" (rows
    * untouched) until [[compact]] runs — real Loki's
    * `delete_request_cancel_period`, during which `DELETE ?request_id=`
    * cancels (removes) the request. Default false applies immediately,
    * modeling the post-compaction state most conformance tests want.
    */
  @volatile var deleteGraceMode: Boolean = false

  /** Apply every "received" delete request — the compactor run ending
    * the grace period.
    */
  def compact(): Unit = rows.synchronized {
    deleteReqs.zipWithIndex.foreach { case (req, idx) =>
      if (req.status == "received") {
        val (matchers, stages) = parseLogql(req.query)
        val keep = rows.filterNot(r =>
          r.tsNs >= req.startNs && r.tsNs <= req.endNs &&
            matchers.forall(_.matches(r.labels)) &&
            evalPipeline(r, stages).isDefined)
        rows.clear(); rows ++= keep
        seen.clear(); seen ++= keep
        deleteReqs(idx) = req.copy(status = "processed")
      }
    }
    respCacheClear(); sortedCache = null
    graft.sources.loki.LokiScan.dropBoundsFor(endpoint)
  }

  /** The compactor delete API (`/loki/api/v1/delete`). Modeled contract:
    *
    *   - POST files a request: `query` (selector + optional line-filter
    *     stages; ≥1 matcher REQUIRED like real Loki) and optional
    *     `start`/`end` in epoch SECONDS, window `[start, end)`, default
    *     all time. Real Loki applies requests ASYNCHRONOUSLY (compactor,
    *     after the cancel grace period); the stub applies immediately
    *     and marks the request `processed` — the post-compaction state a
    *     conformance test would poll for.
    *   - an EXACT duplicate of an existing request (same query + window)
    *     is answered with the existing id instead of filed again — the
    *     determinism the repeated-invocation gate/bench protocol needs
    *     (and a plausible server-side idempotency; real Loki would file
    *     a second no-op request).
    *   - GET lists requests in the real response shape (flat objects,
    *     string ids, bare-numeric second timestamps).
    *   - DELETE (cancel) rejects processed requests with 400, like real
    *     Loki once the grace period has passed.
    */
  private def handleDelete(ex: HttpExchange): Unit = {
    // same injection family as the other metadata endpoints: the client's
    // deleteRequest POST is retried by withRetry exactly like the
    // idempotent GETs — a retried filing collapses into the SAME request
    // server-side (the dedup above), which is what makes the retry safe
    if (injectFailure(ex, failNextMeta)) return
    ex.getRequestMethod match {
      case "POST" =>
        val params = qparams(ex)
        if (!params.contains("query")) {
          respond(ex, 400, "query is required in a delete request".getBytes(UTF_8))
          return
        }
        val (matchers, stages) =
          try parseLogql(params("query"))
          catch {
            case e: IllegalArgumentException =>
              respond(ex, 400, e.getMessage.getBytes(UTF_8)); return
          }
        if (matchers.isEmpty) {
          respond(ex, 400,
            "at least one matcher is required in a delete query".getBytes(UTF_8))
          return
        }
        // real Loki's delete endpoint accepts RFC3339(Nano) alongside
        // epoch seconds; the connector now ships RFC3339Nano so an
        // exclusive SQL bound is expressible exactly (end = E − 1ns)
        def parseT(s: String): Long =
          if (s.exists(c => c == 'T' || c == 'Z')) {
            val inst = java.time.Instant.parse(s)
            Math.addExact(
              Math.multiplyExact(inst.getEpochSecond, 1000000000L),
              inst.getNano.toLong)
          } else s.toLong * 1000000000L
        val startNs = params.get("start").map(parseT).getOrElse(Long.MinValue)
        val endNs = params.get("end").map(parseT).getOrElse(Long.MaxValue)
        rows.synchronized {
          val existing = deleteReqs.find(r =>
            r.query == params("query") && r.startNs == startNs && r.endNs == endNs)
          if (existing.isEmpty) {
            val status = if (deleteGraceMode) "received" else "processed"
            deleteReqs += DeleteReq(
              deleteIdNext, params("query"), startNs, endNs, status)
            deleteIdNext += 1
            // the compactor's window is INCLUSIVE on both ends — entries
            // with start ≤ ts ≤ end are deleted (grafana/loki
            // delete_request semantics; the stub previously modeled the
            // connector's old [start, end) assumption, so the gate could
            // not catch the boundary divergence — round-15 advice).
            // In grace mode the rows stay until compact().
            if (!deleteGraceMode) {
              val keep = rows.filterNot(r =>
                r.tsNs >= startNs && r.tsNs <= endNs &&
                  matchers.forall(_.matches(r.labels)) &&
                  evalPipeline(r, stages).isDefined)
              rows.clear(); rows ++= keep
              seen.clear(); seen ++= keep
              respCacheClear(); sortedCache = null
            }
          }
        }
        graft.sources.loki.LokiScan.dropBoundsFor(endpoint)
        respond(ex, 204, Array.emptyByteArray)
      case "GET" =>
        val body = rows.synchronized(deleteReqs.toSeq).map { r =>
          val s = if (r.startNs == Long.MinValue) 0L else r.startNs / 1000000000L
          val e = if (r.endNs == Long.MaxValue) 0L else r.endNs / 1000000000L
          s"""{"request_id":${quote(r.id.toString)},""" +
            s""""start_time":$s,"end_time":$e,""" +
            s""""query":${quote(r.query)},"status":${quote(r.status)},""" +
            s""""created_at":0}"""
        }.mkString("[", ",", "]")
        respond(ex, 200, body.getBytes(UTF_8))
      case "DELETE" =>
        val params = qparams(ex)
        val id = params.get("request_id").flatMap(_.toIntOption)
        rows.synchronized(deleteReqs.find(r => id.contains(r.id))) match {
          case Some(r) if r.status == "processed" =>
            respond(ex, 400,
              "deletion of a processed request is not allowed".getBytes(UTF_8))
          case Some(r) =>
            // a "received" request cancels inside the grace period: real
            // Loki REMOVES it from the store (it never reaches the
            // compactor and disappears from the GET listing)
            rows.synchronized { deleteReqs.filterInPlace(_.id != r.id); () }
            respond(ex, 204, Array.emptyByteArray)
          case None => respond(ex, 404, "request not found".getBytes(UTF_8))
        }
      case m => respond(ex, 405, s"method $m not allowed".getBytes(UTF_8))
    }
  }

  private case class Matcher(label: String, op: String, value: String) {
    // compiled once per request, not per row (the stub evaluates every
    // stored row against each matcher). Real Loki compiles matchers as
    // ^(?:v)$ with NO dotall — the earlier blanket (?s) wrap here let a
    // bare dot cross newlines, certifying behavior RE2 does not have;
    // the connector's find-semantics wrapper now carries its own (?s)
    // inside the value where it is sound (its dots only bridge the
    // full-match↔find gap; translated user dots are explicit classes).
    // UNICODE_CASE for the same RE2-fold-modeling reason as LineF.
    private lazy val re = java.util.regex.Pattern.compile(
      s"(?:$value)", java.util.regex.Pattern.UNICODE_CASE)
    def matches(labels: Map[String, String]): Boolean = {
      // real Loki/Prometheus selector semantics: a missing label is
      // indistinguishable from an empty-valued one — {k=""} and any
      // {k=~p} whose p matches "" select streams WITHOUT the label
      val v = labels.getOrElse(label, "")
      op match {
        case "=" => v == value
        case "!=" => v != value
        case "=~" => re.matcher(v).matches()
        case "!~" => !re.matcher(v).matches()
      }
    }
  }

  private case class LineF(op: String, pattern: String) {
    // UNICODE_CASE so an embedded (?i) folds the way RE2 does (Unicode
    // simple fold — KELVIN SIGN ~ k), not Java's default ASCII-only
    // folding: the connector's ILIKE translation pushes (?i) patterns
    // and real Loki evaluates them under RE2
    private lazy val re = java.util.regex.Pattern.compile(
      pattern, java.util.regex.Pattern.UNICODE_CASE)
    def matches(line: String): Boolean = op match {
      case "|=" => line.contains(pattern)
      case "!=" => !line.contains(pattern)
      case "|~" => re.matcher(line).find()
      case "!~" => !re.matcher(line).find()
      // Loki 3.x pattern line filters (round 16): the shared anchored
      // template matcher; templates are compile-validated at query
      // parse (real Loki rejects bad ones per-request, not per-row)
      case "|>" =>
        graft.sources.loki.LokiParsers.patternAll(line, pattern) != null
      case "!>" =>
        graft.sources.loki.LokiParsers.patternAll(line, pattern) == null
      // ip() line filters (round 16): pattern validated at query parse
      case "|=ip" | "!=ip" =>
        val r = graft.sources.loki.LokiParsers.ipPatternRange(pattern)
        val hit = graft.sources.loki.LokiParsers
          .lineContainsIp(line, r(0), r(1))
        if (op == "|=ip") hit else !hit
    }
  }

  /** Pipeline stages after the selector, evaluated IN ORDER like real
    * Loki (round 15): line filters, parser stages (`| json` / `| logfmt`,
    * bare or explicit-expression), and label filters over the current
    * (stream + extracted) label set.
    */
  private sealed trait Stage
  private case class LineStage(f: LineF) extends Stage
  /** exprs empty = bare parser (full flatten); else (label, sourceKey). */
  private case class ParserStage(kind: String, exprs: Seq[(String, String)])
    extends Stage
  /** `| line_format "t"` (round 16): rewrite the returned line from a
    * Go-template over the EFFECTIVE labels — the `{{.label}}`
    * interpolation subset (a missing label renders empty, text/template
    * zero-value semantics).
    */
  private case class LineFormatStage(template: String) extends Stage

  /** `| decolorize` (round 16): strips ANSI SGR color sequences
    * (`ESC [ <params> m`) from the CURRENT line — downstream filters
    * and parsers see the clean text, grafana/loki pipeline semantics.
    */
  private case object DecolorizeStage extends Stage

  /** `| label_format dst=src, dst2="t"` (round 16): ident operands MOVE
    * src's value to dst (grafana/loki rename semantics — src is
    * removed), template operands SET dst from the rendered text.
    */
  private case class LabelFormatStage(
      ops: Seq[(String, Either[String, String])]) extends Stage

  /** `| keep a, b="v"` / `| drop a, b="v"` (round 16): label-set
    * surgery. `drop` removes named labels (value-qualified operands
    * only where the value matches); `keep` removes every label NOT
    * named — except `__error__`/`__error_details__`, which only an
    * explicit `drop` can remove (grafana/loki keep_labels.go's
    * special-label exemption; dropping `__error__` is the documented
    * idiom for ignoring parse errors).
    */
  private case class KeepDropStage(
      kind: String, ops: Seq[(String, Option[String])]) extends Stage

  /** `| unwrap lbl` / `| unwrap duration_seconds(lbl)` / `| unwrap
    * bytes(lbl)` — numeric sample extraction (round 16): the label's
    * value converts to float64 via the shared
    * [[graft.sources.loki.LokiParsers]] conversion model (plain
    * ParseFloat, Go durations → seconds, humanized byte sizes); a
    * conversion failure sets `__error__=SampleExtractionErr` (sample
    * 0), a missing/empty label is silently 0 (grafana/loki
    * labelSampleExtractor — the connector's render always guards with
    * `| lbl!=""` first, so its wire never relies on that branch), and a
    * successful unwrap REMOVES the label from the series (Loki drops
    * the unwrapped label from result metrics).
    */
  private case class UnwrapStage(label: String, conv: Option[String] = None)
    extends Stage

  private case class LabelFilterStage(label: String, op: String, value: String)
    extends Stage {
    // label-filter string matching is FULL-match RE2, same shape as
    // selector matchers; a missing label reads as "" (Prometheus model)
    private lazy val re = java.util.regex.Pattern.compile(
      s"(?:$value)", java.util.regex.Pattern.UNICODE_CASE)
    def matches(labels: Map[String, String]): Boolean = {
      val v = labels.getOrElse(label, "")
      op match {
        case "=" => v == value
        case "!=" => v != value
        case "=~" => re.matcher(v).matches()
        case "!~" => !re.matcher(v).matches()
        // ip() label filters (round 16): the whole value is an IPv4 in
        // range; unparsable (incl. missing ≡ "") is no-match, so the
        // negation keeps it
        case "=ip" | "!=ip" =>
          val r = graft.sources.loki.LokiParsers.ipPatternRange(value)
          val x = graft.sources.loki.LokiParsers.ipValue(v)
          val hit = x >= 0 && x >= r(0) && x <= r(1)
          if (op == "=ip") hit else !hit
      }
    }
  }

  /** [[evalPipeline]]'s survivor: the EFFECTIVE label set after parser
    * extractions (what `sum by` groups on), the unwrapped numeric
    * sample value when an [[UnwrapStage]] ran, and the OUTPUT view —
    * the line (rewritten by `line_format`) and the returned label set
    * (the STREAM labels plus `label_format` effects; parser extractions
    * stay out of the returned set, the connector's documented batch
    * modeling — SQL's `labels` column means stream labels).
    */
  private case class PipeResult(
      labels: Map[String, String], value: Option[Double],
      outLine: String, outLabels: Map[String, String])

  /** `{{.name}}` interpolation over the effective labels — the
    * text/template subset the connector's selector option accepts;
    * missing labels render empty (Go zero-value semantics).
    */
  private def renderTemplate(tmpl: String, labels: Map[String, String]): String = {
    val m = java.util.regex.Pattern
      .compile("\\{\\{\\s*\\.([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\}\\}").matcher(tmpl)
    // java.lang.StringBuilder: Scala's resolves the 3-arg append as
    // append(Any) over a boxed tuple instead of the subsequence overload
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(tmpl, last, m.start())
      sb.append(labels.getOrElse(m.group(1), ""))
      last = m.end()
    }
    sb.append(tmpl, last, tmpl.length)
    sb.toString
  }

  /** Run a row through the pipeline: None = dropped; Some(result) = the
    * EFFECTIVE label set after parser extractions (what `sum by` groups
    * on) plus any unwrapped sample value. Extraction semantics live in
    * the shared [[graft.sources.loki.LokiParsers]] — the same code the
    * host expressions evaluate, which is what makes the parser-stage
    * pushdown exact by construction. Conflicts with STREAM labels
    * rename the extraction to `<name>_extracted` (grafana/loki), and a
    * malformed line gains `__error__` but is NOT dropped — only a label
    * filter can drop it.
    */
  private def evalPipeline(
      r: LogRow, stages: Seq[Stage]): Option[PipeResult] = {
    if (stages.isEmpty)
      return Some(PipeResult(r.labels, None, r.line, r.labels))
    var labels = r.labels
    var value: Option[Double] = None
    // the CURRENT line, like real Loki's pipeline: line filters and
    // parser stages read it, line_format/decolorize REWRITE it for
    // every downstream stage (round 16 — previously filters/parsers
    // always read the raw line, diverging on `| line_format … |= x`)
    var curLine = r.line
    var outLabels = r.labels
    val base = r.labels.keySet
    stages.foreach {
      case LineStage(f) => if (!f.matches(curLine)) return None
      case ParserStage(kind, exprs) =>
        def put(name: String, v: String): Unit = {
          val tgt = if (base.contains(name)) name + "_extracted" else name
          labels += (tgt -> v)
        }
        kind match {
          case "json" =>
            // the bare stage labels errors jsoniter-strict; the explicit
            // stage labels only the lines its lenient extraction cannot
            // read (LokiParsers.jsonReadable), so a value the host
            // accessor reads is never dropped by `| __error__=""` — the
            // __error__ label never drops a row by itself
            val readable =
              if (exprs.isEmpty) graft.sources.loki.LokiParsers.jsonValid(curLine)
              else graft.sources.loki.LokiParsers.jsonReadable(curLine)
            if (!readable) labels += ("__error__" -> "JSONParserErr")
            if (exprs.isEmpty)
              graft.sources.loki.LokiParsers.jsonFlatten(curLine) match {
                case Right(kvs) => kvs.foreach { case (k, v) => put(k, v) }
                case Left(_) => () // __error__ already set
              }
            else exprs.foreach { case (lbl, key) =>
              val v = graft.sources.loki.LokiParsers.jsonGet(curLine, key)
              if (v != null) put(lbl, v)
            }
          case "pattern" =>
            // one string operand: the template (carried as the single
            // expr's key). Invalid template → __error__; a non-matching
            // line extracts nothing and is NOT dropped (only a label
            // filter drops) — the shared-impl pattern semantics.
            val tmpl = exprs.head._2
            graft.sources.loki.LokiParsers.patternCompile(tmpl) match {
              case Left(_) => labels += ("__error__" -> "PatternParserErr")
              case Right(_) =>
                val kvs = graft.sources.loki.LokiParsers.patternAll(curLine, tmpl)
                if (kvs != null) kvs.foreach { case (k, v) => put(k, v) }
            }
          case "regexp" =>
            // one string operand: the RE2-dialect pattern (round 16).
            // Real Loki rejects an uncompilable pattern at QUERY parse
            // (not per-row), so the stub fails the whole request too; a
            // non-matching line extracts nothing and is NOT dropped.
            val kvs = graft.sources.loki.LokiParsers
              .regexpAllWire(curLine, exprs.head._2)
            if (kvs == null)
              sys.error(s"bad regexp stage pattern: ${exprs.head._2}")
            kvs.foreach { case (k, v) => put(k, v) }
          case "logfmt" =>
            graft.sources.loki.LokiParsers.logfmtAll(curLine) match {
              case Right(pairs) =>
                if (exprs.isEmpty)
                  pairs.foreach { case (k, v) =>
                    if (v.nonEmpty)
                      put(graft.sources.loki.LokiParsers.sanitizeLabelName(k), v)
                  }
                else exprs.foreach { case (lbl, key) =>
                  var found: String = null
                  pairs.foreach { case (k, v) => if (k == key) found = v }
                  if (found != null && found.nonEmpty) put(lbl, found)
                }
              case Left(err) => labels += ("__error__" -> err)
            }
        }
      case UnwrapStage(lbl, conv) =>
        labels.get(lbl).filter(_.nonEmpty) match {
          case Some(v) =>
            val d = conv match {
              case Some("duration_seconds") =>
                graft.sources.loki.LokiParsers.durationSeconds(v)
              case Some("bytes") =>
                graft.sources.loki.LokiParsers.bytesValue(v)
              case _ => graft.sources.loki.LokiParsers.unwrapValue(v)
            }
            if (d == null) {
              value = Some(0.0)
              labels += ("__error__" -> "SampleExtractionErr")
            } else {
              value = Some(d.doubleValue())
              labels -= lbl // Loki drops the unwrapped label from results
            }
          case None => value = Some(0.0) // missing/empty → 0, no error
        }
      case LineFormatStage(t) =>
        curLine = renderTemplate(t, labels)
      case DecolorizeStage =>
        curLine = curLine.replaceAll("\u001b\\[[0-9;]*m", "")
      case LabelFormatStage(ops) =>
        ops.foreach {
          case (dst, Left(src)) =>
            // rename: move src's (effective) value to dst; absent src
            // leaves dst untouched (grafana/loki)
            labels.get(src).foreach { v =>
              labels = labels - src + (dst -> v)
              outLabels = outLabels - src + (dst -> v)
            }
          case (dst, Right(t)) =>
            val v = renderTemplate(t, labels)
            labels += (dst -> v)
            outLabels += (dst -> v)
        }
      case KeepDropStage(kind, ops) =>
        // each map filters against ITS OWN values (effective and output
        // sets can diverge: unwrap removes from the effective set only)
        def opHits(k: String, v: String): Boolean = ops.exists {
          case (n, None) => n == k
          case (n, Some(want)) => n == k && v == want
        }
        def surgery(m: Map[String, String]): Map[String, String] =
          m.filter { case (k, v) =>
            if (kind == "drop") !opHits(k, v)
            else opHits(k, v) || k == "__error__" || k == "__error_details__"
          }
        labels = surgery(labels)
        outLabels = surgery(outLabels)
      case f: LabelFilterStage => if (!f.matches(labels)) return None
    }
    Some(PipeResult(labels, value, curLine, outLabels))
  }

  /** Parse `{a="b", c=~"d"} |= `x` != `y`` — the exact grammar the
    * connector emits (LogQL.assemble). Like real Loki's parser, the
    * selector scan respects double-quoted strings: a matcher value may
    * contain `}` or `,` (e.g. a pushed regex `s[0-9]{1}`), so the close
    * brace and the matcher separators are found OUTSIDE quotes — the
    * first-`}` shortcut truncated mid-value and killed the handler
    * (the same bug class the connector's probe selector had).
    */
  private def scanOutsideQuotes(s: String, from: Int)(
      hit: Char => Boolean): Int = {
    var i = from
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else if (c == '"') inStr = true
      else if (hit(c)) return i
      i += 1
    }
    -1
  }

  private def parseLogql(q: String): (Seq[Matcher], Seq[Stage]) = {
    val selEnd = scanOutsideQuotes(q, 1)(_ == '}')
    require(q.startsWith("{") && selEnd > 0, s"bad logql: $q")
    val sel = q.substring(1, selEnd).trim
    val matcherStrs = {
      val out = mutable.ArrayBuffer.empty[String]
      var start = 0
      var i = 0
      while (i >= 0 && start < sel.length) {
        i = scanOutsideQuotes(sel, start)(_ == ',')
        if (i < 0) { out += sel.substring(start); start = sel.length }
        else { out += sel.substring(start, i); start = i + 1 }
      }
      out.toSeq.map(_.trim).filter(_.nonEmpty)
    }
    val matchers =
      matcherStrs.map { m =>
        val opIdx = Seq("=~", "!~", "!=", "=")
          .map(op => (op, m.indexOf(op))).filter(_._2 > 0).minBy(_._2)
        val (op, i) = opIdx
        val label = m.substring(0, i)
        val raw = m.substring(i + op.length)
        // real Loki parses Go-escaped double-quoted values — the
        // connector's escaping renderer emits them, so a stub that only
        // stripped the quotes would mis-match every escaped value
        val value =
          if (raw.startsWith("\"") && raw.endsWith("\"") && raw.length >= 2)
            unescapeGo(raw.substring(1, raw.length - 1))
          else raw
        Matcher(label, op, value)
      }
    var rest = q.substring(selEnd + 1).trim
    // both LogQL string forms, like real Loki: backtick-raw and
    // Go-escaped double-quoted (the renderer falls back to the quoted
    // form when a pattern contains a backtick)
    def takeString(s: String): (String, String) =
      if (s.startsWith("`")) {
        val close = s.indexOf('`', 1)
        require(close > 0, s"unterminated backtick literal in: $s")
        (s.substring(1, close), s.substring(close + 1).trim)
      } else {
        require(s.startsWith("\""), s"expected string literal in: $s")
        // the closing quote, escape-aware
        var j = 1
        var end = -1
        while (end < 0 && j < s.length) {
          val c = s.charAt(j)
          if (c == '\\') j += 1
          else if (c == '"') end = j
          j += 1
        }
        require(end > 0, s"unterminated string literal in: $s")
        (unescapeGo(s.substring(1, end)), s.substring(end + 1).trim)
      }
    def takeIdent(s: String): (String, String) = {
      var j = 0
      while (j < s.length && (s.charAt(j).isLetterOrDigit ||
        s.charAt(j) == '_')) j += 1
      require(j > 0, s"expected identifier in: $s")
      (s.substring(0, j), s.substring(j).trim)
    }
    val stages = mutable.ArrayBuffer.empty[Stage]
    while (rest.nonEmpty) {
      Seq("|=", "!=", "|~", "!~", "|>", "!>").find(rest.startsWith) match {
        case Some(op) =>
          val afterOp = rest.substring(2).trim
          if ((op == "|=" || op == "!=") && afterOp.startsWith("ip(")) {
            // `|= ip("pattern")` (round 16): IPv4 candidate-scan filter
            val (p, r2) = takeString(afterOp.substring(3).trim)
            require(graft.sources.loki.LokiParsers.ipPatternRange(p) != null,
              s"invalid ip() pattern: $p")
            require(r2.startsWith(")"), s"unterminated ip() in: $r2")
            stages += LineStage(LineF(op + "ip", p))
            rest = r2.substring(1).trim
          } else {
            val (v, r2) = takeString(afterOp)
            // pattern-filter templates fail the whole request, like real
            // Loki's query-parse rejection (never silently per-row)
            require(!(op == "|>" || op == "!>") ||
              graft.sources.loki.LokiParsers.patternCompile(v).isRight,
              s"invalid pattern line-filter template: $v")
            stages += LineStage(LineF(op, v))
            rest = r2
          }
        case None =>
          // `| json [exprs]` / `| logfmt [exprs]` / `| label op "v"`
          require(rest.startsWith("|"), s"bad pipeline stage in: $rest")
          val (ident, afterIdent) = takeIdent(rest.substring(1).trim)
          rest = afterIdent
          if (ident == "pattern" || ident == "regexp") {
            val (tmpl, r2) = takeString(rest)
            stages += ParserStage(ident, Seq(("", tmpl)))
            rest = r2
          } else if (ident == "line_format") {
            val (tmpl, r2) = takeString(rest)
            stages += LineFormatStage(tmpl)
            rest = r2
          } else if (ident == "label_format") {
            val ops = mutable.ArrayBuffer.empty[(String, Either[String, String])]
            var more = true
            while (more) {
              val (dst, afterDst) = takeIdent(rest)
              require(afterDst.startsWith("="),
                s"label_format operand needs '=' in: $afterDst")
              rest = afterDst.substring(1).trim
              if (rest.startsWith("\"") || rest.startsWith("`")) {
                val (t, r2) = takeString(rest)
                ops += ((dst, Right(t)))
                rest = r2
              } else {
                val (src, r2) = takeIdent(rest)
                ops += ((dst, Left(src)))
                rest = r2
              }
              if (rest.startsWith(",")) rest = rest.substring(1).trim
              else more = false
            }
            stages += LabelFormatStage(ops.toSeq)
          } else if (ident == "decolorize") {
            stages += DecolorizeStage
          } else if (ident == "keep" || ident == "drop") {
            val ops = mutable.ArrayBuffer.empty[(String, Option[String])]
            var more = true
            while (more) {
              val (l, afterL) = takeIdent(rest)
              rest = afterL
              if (rest.startsWith("=") && !rest.startsWith("=~") &&
                !rest.startsWith("==")) {
                val (v, r2) = takeString(rest.substring(1).trim)
                ops += ((l, Some(v)))
                rest = r2
              } else ops += ((l, None))
              if (rest.startsWith(",")) rest = rest.substring(1).trim
              else more = false
            }
            stages += KeepDropStage(ident, ops.toSeq)
          } else if (ident == "unwrap") {
            val (tok, r2) = takeIdent(rest)
            if (r2.startsWith("(")) {
              // conversion form: duration_seconds(lbl) / bytes(lbl) /
              // duration(lbl) (alias of duration_seconds, real LogQL)
              require(tok == "duration_seconds" || tok == "bytes" ||
                tok == "duration", s"unknown unwrap conversion: $tok")
              val (lbl, r3) = takeIdent(r2.substring(1).trim)
              require(r3.startsWith(")"), s"unterminated unwrap conversion: $r3")
              val conv = if (tok == "duration") "duration_seconds" else tok
              stages += UnwrapStage(lbl, Some(conv))
              rest = r3.substring(1).trim
            } else {
              stages += UnwrapStage(tok)
              rest = r2
            }
          } else if (ident == "json" || ident == "logfmt") {
            val exprs = mutable.ArrayBuffer.empty[(String, String)]
            var more = rest.nonEmpty && !rest.startsWith("|")
            while (more) {
              val (lbl, afterLbl) = takeIdent(rest)
              rest = afterLbl
              if (rest.startsWith("=")) {
                val (key, r2) = takeString(rest.substring(1).trim)
                exprs += ((lbl, key))
                rest = r2
              } else exprs += ((lbl, lbl)) // shorthand: | logfmt host
              if (rest.startsWith(",")) { rest = rest.substring(1).trim }
              else more = false
            }
            stages += ParserStage(ident, exprs.toSeq)
          } else {
            val op = Seq("=~", "!~", "!=", "=").find(rest.startsWith)
              .getOrElse(sys.error(s"bad label-filter op in: $rest"))
            rest = rest.substring(op.length).trim
            if ((op == "=" || op == "!=") && rest.startsWith("ip(")) {
              // `| lbl = ip("pattern")` (round 16): IPv4 range filter
              val (p, r2) = takeString(rest.substring(3).trim)
              require(graft.sources.loki.LokiParsers.ipPatternRange(p) != null,
                s"invalid ip() pattern: $p")
              require(r2.startsWith(")"), s"unterminated ip() in: $r2")
              stages += LabelFilterStage(ident, op + "ip", p)
              rest = r2.substring(1).trim
            } else {
              val (v, r2) = takeString(rest)
              stages += LabelFilterStage(ident, op, v)
              rest = r2
            }
          }
      }
    }
    (matchers, stages.toSeq)
  }

  /** Go-style string unescape (the inverse of the connector's escaping
    * renderer); unknown escapes keep their backslash, like Loki's lenient
    * regex-value handling.
    */
  private def unescapeGo(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case o => sb += '\\'; sb += o; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  // ------------------------------------------------------ parquet encoding

  /** Loki's parquet wire schema: ns timestamp + key_value map + line
    * (mirrors LOG_TABLE_SCHEMA, reference table.rs:14-37).
    */
  private val wireSchema: MessageType = MessageTypeParser.parseMessageType(
    """message log {
      |  required int64 timestamp (TIMESTAMP(NANOS,true));
      |  required group labels (MAP) {
      |    repeated group key_value {
      |      required binary key (STRING);
      |      required binary value (STRING);
      |    }
      |  }
      |  required binary line (STRING);
      |  required group metadata (MAP) {
      |    repeated group key_value {
      |      required binary key (STRING);
      |      required binary value (STRING);
      |    }
      |  }
      |}""".stripMargin)

  private def toParquet(hits: Seq[LogRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val outFile = new OutputFile {
      override def create(blockSizeHint: Long): PositionOutputStream = stream
      override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = stream
      override def supportsBlockSize(): Boolean = false
      override def defaultBlockSize(): Long = 0L
      private def stream: PositionOutputStream = new PositionOutputStream {
        override def getPos: Long = bos.size().toLong
        override def write(b: Int): Unit = bos.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          bos.write(b, off, len)
      }
    }
    val writer = ExampleParquetWriter.builder(outFile)
      .withType(wireSchema)
      .withCompressionCodec(wireCodec)
      .withDictionaryEncoding(wireDictionary)
      .withPageSize(wirePageBytes)
      .withDictionaryPageSize(wireDictionaryPageBytes)
      .withWriterVersion(
        if (wireV2Pages)
          org.apache.parquet.column.ParquetProperties.WriterVersion.PARQUET_2_0
        else
          org.apache.parquet.column.ParquetProperties.WriterVersion.PARQUET_1_0)
      .withRowGroupSize(rowGroupBytes)
      .build()
    try {
      hits.foreach { r =>
        val g = new SimpleGroup(wireSchema)
        g.add("timestamp", r.tsNs)
        val labels = g.addGroup("labels")
        r.labels.foreach { case (k, v) =>
          val kv = labels.addGroup("key_value")
          kv.add("key", k)
          kv.add("value", v)
        }
        g.add("line", r.line)
        // structured metadata always rides the wire (real Loki 3.x
        // responses carry it unconditionally); readers that don't
        // request the column simply never project it
        val meta = g.addGroup("metadata")
        r.metadata.foreach { case (k, v) =>
          val kv = meta.addGroup("key_value")
          kv.add("key", k)
          kv.add("value", v)
        }
        writer.write(g)
      }
    } finally writer.close()
    bos.toByteArray
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }
}
