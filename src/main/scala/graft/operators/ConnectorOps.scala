package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.loki.{LokiHttp, LokiWrite}
import graft.sources.loki.testkit.LokiStubServer

/** Connector-backed harness queries: the DSv2 Loki source exercised inside
  * the driver's correctness gate. An in-process stub (main-scope testkit)
  * is seeded with the events-derived log rows, so the connector's
  * HTTP → parquet-decode → InternalRow path and its pushdown all run
  * under the DuckDB differential check — the stub enforces pushed filters
  * server-side, so a pushdown bug shows up as a row mismatch, not just a
  * slow plan.
  */
object ConnectorOps {

  type Q = (SparkSession, String) => DataFrame

  // one stub per sf dir, kept alive for the session (readers run lazily)
  private val stubs = TrieMap.empty[String, LokiStubServer]

  // forwarding TARGETS (loki_stream_forward): a separate endpoint per
  // corpus — pushing forwarded rows into the gate's source stub would
  // corrupt every other loki oracle's relation
  private val forwardStubs = TrieMap.empty[String, LokiStubServer]

  /** Stop every stub — harness mains call this before exiting. */
  def shutdownStubs(): Unit = {
    stubs.values.foreach(_.stop())
    stubs.clear()
    forwardStubs.values.foreach(_.stop())
    forwardStubs.clear()
  }

  /** TrieMap.getOrElseUpdate does NOT evaluate its thunk atomically
    * (compute-then-putIfAbsent): two threads first-touching the same key
    * would each start and seed a stub, leaking the loser's port and rows
    * until JVM exit — so every stub lookup serializes on the map.
    */
  private def stubSync[A](body: => A): A = stubs.synchronized(body)

  private def stubFor(s: SparkSession, d: String): LokiStubServer =
    stubSync(stubs.getOrElseUpdate(d, {
      val st = new LokiStubServer
      st.start()
      // seed through the connector's own write path: executors POST to the
      // push API in batches, so nothing is ever collected to the driver —
      // the round-1 driver-side collect was the one place the harness
      // would not survive a larger sf. Loki-style label injection
      // (detected_level/service_name) applies, as on a real Loki; no gate
      // query enumerates the full label map.
      Tables.lokiView(s, d)
        .write.format("loki")
        .option("endpoint", st.endpoint)
        .option("push_batch_size", "8192")
        .mode("append").save()
      sys.addShutdownHook(st.stop())
      st
    }))

  /** Scratch endpoint for the delete-DML rows: seeded with the events
    * corpus through the write path, then the gate DELETE filed through
    * the SQL DML surface (LokiDeleteRule). Memoized per dir; the stub
    * dedupes repeat filings of the identical request, so every
    * invocation — verify, bench warm-up, both timed passes — sees ONE
    * processed request and the post-delete corpus.
    */
  private[operators] def deletedStub(s: SparkSession, d: String): LokiStubServer = {
    val st = stubSync(stubs.getOrElseUpdate(s"$d#delete", {
      val scratch = new LokiStubServer
      scratch.start()
      Tables.lokiView(s, d)
        .write.format("loki")
        .option("endpoint", scratch.endpoint)
        .option("push_batch_size", "8192")
        .mode("append").save()
      sys.addShutdownHook(scratch.stop())
      scratch
    }))
    val cat = s"lokidelw${d.hashCode & 0x7fffffff}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
    s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
    s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
    s.sql(s"DELETE FROM $cat.default.loki " +
      "WHERE labels['event_type'] = 'click' " +
      "AND timestamp >= TIMESTAMP '2024-01-05 00:00:00' " +
      "AND timestamp < TIMESTAMP '2024-01-20 00:00:00'")
    require(st.deleteReqs.synchronized(st.deleteReqs.toList) match {
      case List(r) =>
        r.query == """{event_type="click"}""" && r.status == "processed"
      case _ => false
    }, s"delete DML did not file exactly one request: ${st.deleteReqs}")
    st
  }

  /** Flags captured during one-shot stub choreographies (keyed like
    * [[stubs]]) so repeated gate/bench passes can re-assert states that
    * only existed transiently during setup.
    */
  private val setupFlags = new TrieMap[String, Boolean]()

  private[operators] def setupFlagFor(key: String): Boolean =
    setupFlags.getOrElse(key, false)

  /** The delete-request LIFECYCLE choreography (round 15): in the
    * compactor's cancel grace period, filed requests sit in status
    * "received" with their rows still readable; a cancel REMOVES a
    * request; the compactor run then applies the survivors. Two deletes
    * are filed (click and view, same window), the view one is canceled,
    * and compaction processes the click one — all inside the memo so
    * repeated gate passes read a settled end state.
    */
  private[operators] def lifecycleStub(s: SparkSession, d: String): LokiStubServer =
    stubSync(stubs.getOrElseUpdate(s"$d#dellife", {
      val st = new LokiStubServer
      st.start()
      Tables.lokiView(s, d)
        .write.format("loki")
        .option("endpoint", st.endpoint)
        .option("push_batch_size", "8192")
        .mode("append").save()
      st.deleteGraceMode = true
      val cat = s"lokilife${d.hashCode & 0x7fffffff}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
      s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
      s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
      def fileDelete(t: String): Unit = s.sql(
        s"DELETE FROM $cat.default.loki WHERE labels['event_type'] = '$t' " +
          "AND timestamp >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND timestamp < TIMESTAMP '2024-01-20 00:00:00'")
      fileDelete("click")
      fileDelete("view")
      val filed = st.deleteReqs.synchronized(st.deleteReqs.toList)
      val receivedOk =
        filed.size == 2 && filed.forall(_.status == "received")
      // grace period: the rows are still readable after filing
      val visibleBefore = s.read.table(s"$cat.default.loki")
        .filter(element_at(col("labels"), "event_type") === "click" &&
          col("timestamp") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .limit(1).count() == 1L
      val viewId = filed.find(_.query.contains("view")).get.id
      LokiHttp.cancelDeleteRequest(st.endpoint, viewId.toString)
      val afterCancel = LokiHttp.deleteRequests(st.endpoint)
      val cancelOk = afterCancel.size == 1 &&
        afterCancel.head._2 == """{event_type="click"}""" &&
        afterCancel.head._5 == "received"
      st.compact()
      setupFlags(s"$d#dellife") = receivedOk && visibleBefore && cancelOk
      sys.addShutdownHook(st.stop())
      st
    }))

  /** Scratch stub whose lines are real JSON (`to_json` over the events
    * row, `level` = event_type) — the corpus for the `| json`
    * parser-stage gate rows. Seeded once per sf dir through the
    * connector write path like [[stubFor]].
    */
  private[operators] def jsonStub(s: SparkSession, d: String): LokiStubServer =
    stubSync(stubs.getOrElseUpdate(s"$d#jsonlines", {
      val st = new LokiStubServer
      st.start()
      Tables.events(s, d).select(
        col("ts").as("timestamp"),
        map(lit("app"), lit("j")).as("labels"),
        to_json(struct(
          col("event_type").as("level"), col("value"))).as("line"))
        .write.format("loki")
        .option("endpoint", st.endpoint)
        .option("push_batch_size", "8192")
        .mode("append").save()
      sys.addShutdownHook(st.stop())
      st
    }))

  /** Scratch stub whose lines carry a logfmt NUMERIC field
    * (`level=<event_type> duration=<int-ms>`) — the corpus for the
    * round-16 `| unwrap` gate rows. Integer-valued durations keep every
    * cross-engine aggregate exact (float64 sums of ints < 2^53 are
    * association-order-independent); two deliberate failure classes —
    * `duration=NA` (conversion error) and an empty `duration=`
    * (missing ≡ empty) — pin the guard/error-filter semantics in the
    * differential. Seeded once per sf dir through the connector write
    * path like [[stubFor]].
    */
  private[operators] def unwrapStub(s: SparkSession, d: String): LokiStubServer =
    stubSync(stubs.getOrElseUpdate(s"$d#unwraplines", {
      val st = new LokiStubServer
      st.start()
      // the same integer rides three spellings: a bare number
      // (`duration=`), a Go duration (`took=…ms`), and a humanized byte
      // size (`size=…KiB`) — one corpus certifies all three unwrap
      // conversions, with the NA/empty failure classes shared (class 0
      // yields `NAms`/`NAKiB` — conversion errors — and class 1 a bare
      // `ms`/`KiB` — also errors; both ≡ the host's NULL)
      val durTok = when(col("user_id") % 10 === 0, lit("NA"))
        .when(col("user_id") % 10 === 1, lit(""))
        .otherwise(floor(col("value") * 1000).cast("long").cast("string"))
      Tables.events(s, d).select(
        col("ts").as("timestamp"),
        map(lit("app"), lit("u"),
          lit("event_type"), col("event_type")).as("labels"),
        concat(lit("level="), col("event_type"),
          lit(" duration="), durTok,
          lit(" took="), durTok, lit("ms"),
          lit(" size="), durTok, lit("KiB"))
          .as("line"))
        .write.format("loki")
        .option("endpoint", st.endpoint)
        .option("push_batch_size", "8192")
        .mode("append").save()
      sys.addShutdownHook(st.stop())
      st
    }))

  /** The DuckDB-side replay of [[unwrapStub]]'s extractable duration:
    * NULL exactly where the wire pipeline drops the row (unparsable
    * `NA`, missing/empty value) ≡ where the host's
    * `loki_unwrap(logfmt_get(line,'duration'))` is NULL.
    */
  private val unwrapOracleSrc: String =
    """(SELECT ts, event_type,
      |        CASE WHEN user_id % 10 IN (0, 1) THEN NULL
      |             ELSE CAST(floor(value * 1000) AS BIGINT) END AS dur
      | FROM events) src""".stripMargin

  private def lokiDf(s: SparkSession, d: String): DataFrame =
    s.read.format("loki")
      .option("endpoint", stubFor(s, d).endpoint)
      .option("default_label", "event_type")
      .load()

  /** The log-template normalizer (see the `loki_log_patterns` entry):
    * variable tokens → typed placeholders, applied most-specific-first
    * (a uuid is also four hex runs; an ip is also four numbers). Every
    * pattern is deliberately lookaround- and backreference-free so Java
    * regex (Spark, codegen'd regexp_replace) and RE2 (DuckDB, real
    * Loki's own regex engine) normalize identically — the same
    * cross-engine discipline [[graft.operators.TextOps]]' BPE
    * pre-tokenizer applies.
    */
  /** A hex run of ≥8 chars containing AT LEAST ONE letter — a bare
    * `[0-9a-f]{8,}` would classify every 8+-digit decimal run (epoch
    * timestamps, long ids) as <hex> instead of <num>. "≥8 and has a
    * letter" needs lookahead, which RE2 lacks, so it's enumerated by
    * first-letter position: letter at index j<7 with ≥(7−j) hex chars
    * after, or an all-digit prefix of ≥7 then a letter. Alternatives
    * are mutually exclusive (fixed digit-prefix length), so
    * leftmost-first (Java) and leftmost-longest (RE2) pick identically.
    */
  private val hexRun: String =
    "\\b(?:" +
      ((0 to 6).map(j => s"[0-9]{$j}[a-f][0-9a-f]{${7 - j},}") :+
        "[0-9]{7,}[a-f][0-9a-f]*").mkString("|") +
      ")\\b"

  private[graft] val templateRules: Seq[(String, String)] = Seq(
    ("[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
      "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}") -> "<uuid>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<ip>",
    hexRun -> "<hex>",
    "\\d+(\\.\\d+)?" -> "<num>")

  /** The normalizer runs as the NATIVE single-pass-per-class expression
    * ([[graft.functions.LogTemplateUtil]] — hand scans, no regex
    * machinery, allocation-free on non-matching passes): at 100 TB this
    * projection is pattern mining's CPU. `templateRules` stays the
    * SEMANTIC definition under RE2 — the DuckDB oracles replay it via
    * [[oracleTemplateSql]], so the driver gate differentially certifies
    * native ≡ RE2-chain on the corpus, and LogTemplateProps pins the
    * same equivalence on adversarial inputs (via Java lookarounds
    * emulating RE2's ASCII `\b`).
    *
    * The native expression is MORE than a speedup: running
    * `templateRules` through Spark's own `regexp_replace` would be
    * subtly WRONG, because Java's `\b` is Unicode-aware while RE2's is
    * ASCII-only — `0000000aé` is `<hex>é` to RE2 (boundary before `é`)
    * but unmatched to Java (`é` is a word char there). The scanner
    * implements RE2's semantics, so Spark and the oracle agree on ALL
    * inputs, not just ASCII corpora. (Property-discovered — the
    * round-13 "Java and RE2 agree" claim held only for ASCII.)
    */
  private[graft] def logTemplate(line: Column): Column =
    graft.functions.GraftFunctions.log_template(line)

  /** The identical chain as DuckDB SQL over `col` (global-replace flag;
    * single-quoted SQL strings pass the backslashes through verbatim).
    */
  private def oracleTemplateSql(col: String): String =
    templateRules.foldLeft(col) { case (e, (pat, rep)) =>
      s"regexp_replace($e, '$pat', '$rep', 'g')"
    }

  /** Drain-style LEARNED templates (see the `loki_drain_templates`
    * entry). Like real Drain, lines are MASKED first — [[logTemplate]]'s
    * a-priori token classes (uuid/ip/hex/num → typed placeholders) are
    * exactly Drain's preprocessing step — and then positions that STILL
    * vary within a shape group are learned as `<*>`: lines group by
    * their shape key (token count, head token — Drain's parse-tree
    * path), and within a shape each token position keeps its token iff
    * every line agrees on it; position-wise agreement is min=max per
    * (shape, pos), an associative+commutative reduction. The masking is
    * what keeps the common timestamp-/id-led formats from shattering
    * the head key into per-line groups ("2024-08-16T12:00:01 GET /x"
    * heads as a constant `<num>-<num>-…` token, not a distinct value
    * per line); an arbitrary free-string lead token still degrades to
    * per-line groups — the documented Drain limitation of any fixed
    * head heuristic.
    *
    * Scale shape: ONE pass over the corpus — the counts and exemplars
    * ride the same position aggregate as the agreement extrema (every
    * line contributes exactly one token at each of its positions, so
    * per-position counts within a shape are all equal to the shape's
    * line count → `max`, and the global min line is the min of
    * per-position min lines), which is what keeps a separate
    * count/exemplar aggregate + join — and with it a SECOND wire scan
    * of the log store, the bug the first cut had — out of the plan.
    * The (shape, pos) aggregate combines map-side, so the first
    * exchange ships one row per distinct (shape, pos) — bounded by
    * emitted (masked) log shapes × positions, not rows — and the
    * template-assembly aggregate is shape-cardinality-sized. All
    * built-ins, all codegen'd — no UDF, no custom aggregator needed.
    * Lines must be non-null (the connector's `line` column is NOT
    * NULL): a null line has no tokens to explode and silently vanishes
    * from the census.
    */
  private[graft] def drainTemplates(lines: DataFrame): DataFrame =
    lines
      .select(col("line"), split(logTemplate(col("line")), " ").as("tk"))
      .select(col("line"), size(col("tk")).as("n"),
        element_at(col("tk"), 1).as("head"), posexplode(col("tk")))
      .groupBy("n", "head", "pos")
      .agg(min("col").as("mn"), max("col").as("mx"),
        count(lit(1)).as("cnt"), min("line").as("ex"))
      .withColumn("t",
        when(col("mn") === col("mx"), col("mn")).otherwise(lit("<*>")))
      .groupBy("n", "head")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t"))).as("template"),
        max("cnt").as("cnt"), min("ex").as("exemplar"))
      .select("template", "cnt", "exemplar")

  /** Interchange roundtrip through a PER-INVOCATION temp directory: write
    * with `write`, return the lazy `read` relation over it, and delete
    * the directory at JVM exit (the returned DataFrame is consumed
    * lazily by the harness, so deletion can't happen in-call without
    * forcing an eager materialization the read path doesn't need). The
    * earlier fixed dir keyed by `abs(path.hashCode)` raced concurrent
    * runs on mode("overwrite"), could collide across datasets, and kept
    * abs(Int.MinValue) negative; a fresh `createTempDirectory` per call
    * (the runToMemory checkpoint pattern) closes all three.
    */
  // previous roundtrip dir per prefix: each new invocation reclaims the
  // PRIOR one, so a long bench session holds at most one corpus copy per
  // format in tmpfs instead of one per invocation (3 formats × N passes
  // of RAM-backed /dev/shm was an ENOSPC/OOM risk at larger sf). The
  // prior result has been consumed by the time the harness re-invokes
  // the entry (gate/bench consume each relation eagerly).
  private val lastRoundtripDir = TrieMap.empty[String, java.io.File]

  private def roundtrip(prefix: String)(write: String => Unit)(
      read: String => DataFrame): DataFrame = {
    // tmpfs when available, exactly like runToMemory's checkpoints: the
    // roundtrip's files are ephemeral interchange scratch, and fsync-ing
    // them through the disk costs more than the queries they feed. A real
    // export writes durable storage; this is the harness path only.
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(base, s"graft_$prefix").toFile
    val rm = graft.streaming.StreamingOps.rmrf _
    sys.addShutdownHook(rm(dir))
    lastRoundtripDir.put(prefix, dir).foreach(rm)
    write(dir.getAbsolutePath)
    read(dir.getAbsolutePath)
  }

  /** [[Tables.lokiView]] with the spread applied to the RAW events scan:
    * the round-robin exchange ships (ts, event_type, user_id, value) and
    * the labels-map + line-string rendering runs post-exchange with full
    * parallelism (spreading the rendered view instead measured WORSE
    * than no spread at all — the exchange carried the built strings and
    * the single scan task still paid the rendering).
    */
  private def lokiViewSpread(s: SparkSession, d: String): DataFrame =
    Tables.lokiProject(TextOps.spreadScan(Tables.events(s, d)))

  val entries: Seq[(String, Q, Option[String])] = Seq(

    // Micro-batch TAILING over the connector (round 12, beyond-parity:
    // the reference's scan is Boundedness::Bounded, scan.rs:48) — a
    // readStream over the same endpoint, windowed [2024-01-01,
    // 2024-02-01) via stream_start/end_ns so Trigger.AvailableNow drains
    // the bounded replay and terminates. The drained relation must equal
    // the batch scan of the same window — which is what the DuckDB
    // oracle recomputes from the events table the stub was seeded from.
    // Routed through the drain memo like every bounded gate stream.
    ("loki_stream_tail",
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingOps.memoDrain(s, d, "loki_stream_tail") {
          val st = stubFor(s, d)
          val stream = s.readStream.format("loki")
            .option("endpoint", st.endpoint)
            .option("default_label", "event_type")
            .option("stream_start_ns", "1704067200000000000")
            .option("stream_end_ns", "1706745600000000000")
            .load()
            .filter(element_at(col("labels"), "event_type") === "purchase")
            .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          graft.streaming.StreamingOps.runToMemory(
            stream, s"loki_tail_${d.hashCode & 0x7fffffff}",
            org.apache.spark.sql.streaming.OutputMode.Append())
            .orderBy("ts_us", "line")
        },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE event_type = 'purchase'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Filtered tail (round 13): Spark applies no DSv2 filter pushdown to
    // micro-batch scans, so the `selector` option is the tail's explicit
    // pushdown channel — raw LogQL matchers + line stages assembled into
    // every batch's query_range (LokiOptions.selector; matcher model per
    // reference table.rs:116-128). NO host-side filter here: the rows the
    // oracle certifies are exactly the rows the WIRE returned, and the
    // compute block additionally self-checks that every recorded wire
    // query carried the selector (a silent fallback to the full firehose
    // would still produce oracle-correct rows after host filtering — the
    // wire pin is what proves the pushdown).
    ("loki_stream_tail_filtered",
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingOps.memoDrain(s, d, "loki_stream_tail_filtered") {
          val st = stubFor(s, d)
          val q0 = st.queries.synchronized(st.queries.size)
          val stream = s.readStream.format("loki")
            .option("endpoint", st.endpoint)
            .option("selector", """{event_type="purchase"} |= "value=1"""")
            .option("stream_start_ns", "1704067200000000000")
            .option("stream_end_ns", "1706745600000000000")
            .load()
            .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          val out = graft.streaming.StreamingOps.runToMemory(
            stream, s"loki_tail_flt_${d.hashCode & 0x7fffffff}",
            org.apache.spark.sql.streaming.OutputMode.Append())
            .orderBy("ts_us", "line")
          val wire = st.queries.synchronized(st.queries.drop(q0).toList)
          require(wire.nonEmpty &&
            wire.forall(_ == """{event_type="purchase"} |= `value=1`"""),
            s"filtered tail leaked an unselected wire query: ${wire.distinct}")
          out
        },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE event_type = 'purchase'
          |  AND concat(event_type, ' value=', CAST(value AS VARCHAR)) LIKE '%value=1%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Parser stages through the STREAMING selector (round 15): the
    // `selector` option now carries the full stage grammar, so a TAIL —
    // whose scans DSv2 filter pushdown never reaches — runs the
    // `{…} | logfmt lvl="k" | lvl=~"…"` idiom server-side: only rows
    // whose PARSED field matches cross the wire. The wire pin proves
    // every micro-batch query carried the stages verbatim (user order,
    // escaping renderer); semantics are Loki's (full-match label
    // regex), replayed by the oracle.
    ("loki_stream_tail_parsed",
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingOps.memoDrain(s, d, "loki_stream_tail_parsed") {
          val st = stubFor(s, d)
          val q0 = st.queries.synchronized(st.queries.size)
          val stream = s.readStream.format("loki")
            .option("endpoint", st.endpoint)
            .option("selector",
              """{event_type="click"} | logfmt v="value" | v=~"1.*"""")
            .option("stream_start_ns", "1704067200000000000")
            .option("stream_end_ns", "1706745600000000000")
            .load()
            .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          val out = graft.streaming.StreamingOps.runToMemory(
            stream, s"loki_tail_parsed_${d.hashCode & 0x7fffffff}",
            org.apache.spark.sql.streaming.OutputMode.Append())
            .orderBy("ts_us", "line")
          val wire = st.queries.synchronized(st.queries.drop(q0).toList)
          require(wire.nonEmpty && wire.forall(
            _ == """{event_type="click"} | logfmt v="value" | v=~"1.*""""),
            s"parsed tail did not carry its stages: ${wire.distinct}")
          out
        },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE event_type = 'click'
          |  AND CAST(value AS VARCHAR) LIKE '1%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Template stages on a tail (round 16): `label_format` (rename +
    // template-set) and `line_format` rewrite the RETURNED rows
    // server-side — the selector option is a tail's only pushdown
    // channel, so without them a formatted tail would re-implement the
    // templates host-side per sink. The stub renders the `{{.label}}`
    // interpolation subset over the effective (parser-extracted) label
    // set; the oracle replays both templates relationally, certifying
    // rename + interpolation + line rewrite end to end.
    ("loki_stream_tail_formatted",
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingOps.memoDrain(s, d, "loki_stream_tail_formatted") {
          val st = stubFor(s, d)
          val q0 = st.queries.synchronized(st.queries.size)
          val sel = """{event_type="click"} | logfmt v="value" | v=~"1.*" """ +
            """| label_format val_first=v """ +
            """| line_format "{{.event_type}} first1 {{.val_first}}""""
          val stream = s.readStream.format("loki")
            .option("endpoint", st.endpoint)
            .option("selector", sel)
            .option("stream_start_ns", "1704067200000000000")
            .option("stream_end_ns", "1706745600000000000")
            .load()
            .select(unix_micros(col("timestamp")).as("ts_us"), col("line"),
              element_at(col("labels"), "val_first").as("vf"))
          val out = graft.streaming.StreamingOps.runToMemory(
            stream, s"loki_tail_formatted_${d.hashCode & 0x7fffffff}",
            org.apache.spark.sql.streaming.OutputMode.Append())
            .orderBy("ts_us", "line")
          val wire = st.queries.synchronized(st.queries.drop(q0).toList)
          require(wire.nonEmpty && wire.forall(w =>
            w.contains("| label_format val_first=v") &&
              w.contains("""| line_format "{{.event_type}} first1 {{.val_first}}"""")),
            s"formatted tail did not carry its template stages: ${wire.distinct}")
          out
        },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' first1 ', CAST(value AS VARCHAR)) AS line,
          |       CAST(value AS VARCHAR) AS vf
          |FROM events
          |WHERE event_type = 'click'
          |  AND CAST(value AS VARCHAR) LIKE '1%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // `| keep` / `| drop` label-set surgery on a tail (round 16, third
    // tranche): `keep event_type, user="7"` keeps event_type everywhere
    // and user only where its value is exactly "7" (value-qualified
    // operand), dropping every OTHER label — including the stub's
    // Loki-style injected ones — then `drop event_type` removes the one
    // unconditional survivor. Returned label set: {user} iff user=7,
    // else {} — both operands relationally certified through the labels
    // column. The stages ride the selector option (a tail's only
    // pushdown channel) and the wire log pins them verbatim.
    ("loki_stream_tail_keep_drop",
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingOps.memoDrain(s, d, "loki_stream_tail_keep_drop") {
          val st = stubFor(s, d)
          val q0 = st.queries.synchronized(st.queries.size)
          val sel = """{event_type="click"} | logfmt v="value" | v=~"1.*" """ +
            """| keep event_type, user="7" | drop event_type"""
          val stream = s.readStream.format("loki")
            .option("endpoint", st.endpoint)
            .option("selector", sel)
            .option("stream_start_ns", "1704067200000000000")
            .option("stream_end_ns", "1706745600000000000")
            .load()
            .select(unix_micros(col("timestamp")).as("ts_us"), col("line"),
              element_at(col("labels"), "user").as("u7"),
              size(col("labels")).as("n_lbl"))
          val out = graft.streaming.StreamingOps.runToMemory(
            stream, s"loki_tail_keep_drop_${d.hashCode & 0x7fffffff}",
            org.apache.spark.sql.streaming.OutputMode.Append())
            .orderBy("ts_us", "line")
          val wire = st.queries.synchronized(st.queries.drop(q0).toList)
          require(wire.nonEmpty && wire.forall(w =>
            w.contains("""| keep event_type, user="7"""") &&
              w.contains("| drop event_type")),
            s"keep/drop tail did not carry its stages: ${wire.distinct}")
          out
        },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line,
          |       CASE WHEN user_id = 7 THEN '7' END AS u7,
          |       CASE WHEN user_id = 7 THEN 1 ELSE 0 END AS n_lbl
          |FROM events
          |WHERE event_type = 'click'
          |  AND CAST(value AS VARCHAR) LIKE '1%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Streaming WRITE (round 12, beyond-parity: the reference's insert is
    // batch-only, insert.rs) — the loki→loki forwarding pipeline: tail
    // the source endpoint's January window, keep the clicks, push them to
    // a SEPARATE target endpoint through writeStream.format("loki")
    // (at-least-once; identical (ts, labels, line) replays collapse
    // server-side), then the gate relation is the BATCH SCAN READ-BACK of
    // the target — so the oracle differential certifies the tail window,
    // the filter, the push encoding, and the read-back decode end-to-end.
    ("loki_stream_forward",
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingOps.memoDrain(s, d, "loki_stream_forward") {
          val src = stubFor(s, d)
          val dst = stubSync(forwardStubs.getOrElseUpdate(d, {
            val st = new LokiStubServer
            st.start()
            sys.addShutdownHook(st.stop())
            st
          }))
          // The memo can be evicted and this compute re-run against a
          // REGENERATED corpus for the same dir; the target stub survives
          // across runs (keyed by dir), so stale rows from the prior
          // generation would superset the read-back. Start every forward
          // run from an empty target, like every other scratch-stub gate.
          dst.clear()
          val ckpt = java.nio.file.Files
            .createTempDirectory("graft_loki_fwd_ck").toFile
          sys.addShutdownHook(graft.streaming.StreamingOps.rmrf(ckpt))
          val q = s.readStream.format("loki")
            .option("endpoint", src.endpoint)
            .option("default_label", "event_type")
            .option("stream_start_ns", "1704067200000000000")
            .option("stream_end_ns", "1706745600000000000")
            .load()
            .filter(element_at(col("labels"), "event_type") === "click")
            .writeStream.format("loki")
            .option("endpoint", dst.endpoint)
            .option("checkpointLocation", ckpt.getAbsolutePath)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          s.read.format("loki")
            .option("endpoint", dst.endpoint)
            .option("default_label", "event_type")
            .load()
            .filter(
              col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
            .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
            .orderBy("ts_us", "line")
        },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE event_type = 'click'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Full pushdown conjunction through the real connector: label eq +
    // line contains + timestamp bounds, all enforced by the stub.
    ("loki_connector_scan",
      (s: SparkSession, d: String) =>
        lokiDf(s, d)
          .filter(
            element_at(col("labels"), "event_type") === "click" &&
            col("line").like("%value=1%") &&
            col("timestamp") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-20 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE event_type = 'click'
          |  AND concat(event_type, ' value=', CAST(value AS VARCHAR)) LIKE '%value=1%'
          |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Projection + label map access through the connector. The timestamp
    // bounds are required: without them the scan uses the reference's
    // default now−30d window (utils.rs:3-12), which excludes the 2024 test
    // corpus — and they give `partitions=8` a bounded window to slice, so
    // the heaviest connector query (whole-corpus regex scan) runs through
    // 8 parallel range slices instead of the reference's single partition
    // (the scale-out path the split oracle certifies).
    ("loki_connector_labels",
      (s: SparkSession, d: String) =>
        s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("partitions", "8")
          .load()
          .filter(element_at(col("labels"), "event_type").rlike("^(signup|error)$") &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .select(
            element_at(col("labels"), "event_type").as("label_event_type"),
            element_at(col("labels"), "user").as("label_user"),
            col("line"))
          .orderBy("label_event_type", "label_user", "line"),
      Some(
        // the time predicate mirrors the Spark side VERBATIM (not dropped
        // as vacuously true): the generator currently emits a
        // January-2024-only corpus, but a regenerated corpus crossing the
        // bound would otherwise flip this gate red with a confusing
        // row-count mismatch — keeping both sides definitionally identical
        // makes the window a no-op on both or a filter on both
        """SELECT event_type AS label_event_type,
          |       CAST(user_id AS VARCHAR) AS label_user,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE regexp_matches(event_type, '^(signup|error)$')
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY label_event_type, label_user, line""".stripMargin)),

    // Time-range split (partitions=4): the scan slices [start, end) into 4
    // disjoint Loki range queries (LokiScan.planInputPartitions) — the
    // scale-out path for big windows. The oracle proves the union of the
    // slices equals the unsplit relation, not just that N partitions exist.
    ("loki_connector_split",
      (s: SparkSession, d: String) =>
        s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("partitions", "4")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-03 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-27 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-27 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Count-balanced time-range split (`split=stats`): identical relation
    // to loki_connector_split — boundary PLACEMENT must never change the
    // result, only the per-slice row balance — but the slices come from
    // plan-time index/stats probes (LokiScan.statsBounds; a slice run
    // measured the balance win: max/mean 4.0 → ~1.2 on the bursty corpus).
    ("loki_connector_split_stats",
      (s: SparkSession, d: String) =>
        s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("partitions", "4")
          .option("split", "stats")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-03 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-27 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-27 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Paged unbounded scan (round 10): a real Loki truncates query_range
    // at a server-side entry cap, so completeness on big windows needs the
    // forward-cursor pager (query_limit). The corpus is adversarial: every
    // `click` row is pinned to ONE nanosecond — a same-ns burst ~10× the
    // page size — so the gate certifies the round-10 held-run/doubling
    // boundary (LokiColumnarReader's forward pager) against the
    // full-relation oracle, not just the easy distinct-ns walk. Lines
    // carry the original µs so the pinned rows stay distinct entries
    // (Loki ingest dedups identical (ts, labels, line) triples).
    ("loki_paged_scan",
      (s: SparkSession, d: String) => {
        val st = stubSync(stubs.getOrElseUpdate(s"$d#paged", {
          val stub = new LokiStubServer
          stub.start()
          Tables.events(s, d).select(
            when(col("event_type") === "click",
              lit("2024-02-15 00:00:00").cast("timestamp"))
              .otherwise(col("ts")).as("timestamp"),
            map(lit("event_type"), col("event_type")).as("labels"),
            concat(col("event_type"), lit(" u="), col("user_id").cast("string"),
              lit(" t="), unix_micros(col("ts")).cast("string")).as("line"))
            .write.format("loki")
            .option("endpoint", stub.endpoint)
            .option("push_batch_size", "8192")
            .mode("append").save()
          sys.addShutdownHook(stub.stop())
          stub
        }))
        // slicing × paging — the scale shape: 8 disjoint time slices each
        // page their own window in parallel (the burst ns lands in one
        // slice, which walks the adaptive-doubling path alone)
        s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "event_type")
          .option("query_limit", "2000")
          .option("partitions", "8")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
      },
      Some(
        """SELECT CASE WHEN event_type = 'click'
          |            THEN epoch_us(TIMESTAMP '2024-02-15 00:00:00')
          |            ELSE epoch_us(ts) END AS ts_us,
          |       concat(event_type, ' u=', CAST(user_id AS VARCHAR),
          |              ' t=', CAST(epoch_us(ts) AS VARCHAR)) AS line
          |FROM events ORDER BY ts_us, line""".stripMargin)),

    // LIMIT through the connector: pushed to Loki's `limit` query param
    // (stub enforces it server-side, returning the earliest n rows by ts —
    // deterministic because the events corpus has unique timestamps).
    ("loki_connector_limit",
      (s: SparkSession, d: String) =>
        lokiDf(s, d)
          .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .limit(50)
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line"),
      Some(
        // real Loki's default direction is BACKWARD: a bare LIMIT returns
        // the NEWEST n entries (the stub models this, round 12)
        """SELECT ts_us, line FROM (
          |  SELECT epoch_us(ts) AS ts_us,
          |         concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |  FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  ORDER BY ts DESC LIMIT 50
          |) ORDER BY ts_us, line""".stripMargin)),

    // Metadata census (round 13, beyond-parity): the labels/label-values
    // API surfaced as a catalog relation (loki.meta.label_values,
    // LokiMeta.scala) — SHOW-style discovery over the endpoint. The
    // oracle recomputes the census from the events table the stub was
    // seeded from, INCLUDING Loki's ingest-time label injection rules
    // (detected_level from a level token in the line — the 'error'
    // event_type is the one that carries one — service_name 'unknown'
    // when no service-ish label exists), so a drifting injection model
    // in the stub fails the gate rather than hiding.
    ("loki_label_values",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        // catalogs initialize ONCE per name (conf changes after first
        // load are ignored), so each meta gate uses its own name
        val cat = s"lokimetav${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        s.read
          .option("start_ns", "0")
          .option("end_ns", "4102444800000000000") // 2100: whole retention
          .table(s"$cat.meta.label_values")
          .orderBy("label", "value")
      },
      Some(
        """SELECT label, value FROM (
          |  SELECT DISTINCT 'event_type' AS label, event_type AS value FROM events
          |  UNION
          |  SELECT DISTINCT 'user' AS label, CAST(user_id AS VARCHAR) AS value FROM events
          |  UNION
          |  SELECT DISTINCT 'detected_level' AS label,
          |         CASE WHEN event_type = 'error' THEN 'error' ELSE 'unknown' END AS value
          |  FROM events
          |  UNION
          |  SELECT 'service_name' AS label, 'unknown' AS value
          |) ORDER BY label, value""".stripMargin)),

    // Stream census (round 13): /series as loki.meta.series — each
    // stream's canonical sorted-key selector, the SHOW STREAMS a user
    // pastes back into a query. The oracle reconstructs every distinct
    // (event_type, user) stream INCLUDING the injected labels, so it
    // certifies the series endpoint, the object-array decode, and the
    // canonical rendering together.
    ("loki_series",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        val cat = s"lokimetas${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        // /series REQUIRES a matcher on real Loki (and now on the stub);
        // the default-label fallback supplies {event_type=~".+"} —
        // every seeded stream carries it, so the census stays complete
        s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
        s.read
          .option("start_ns", "0")
          .option("end_ns", "4102444800000000000")
          .table(s"$cat.meta.series")
          .orderBy("stream")
      },
      Some(
        """SELECT DISTINCT concat(
          |  '{detected_level="',
          |  CASE WHEN event_type = 'error' THEN 'error' ELSE 'unknown' END,
          |  '", event_type="', event_type,
          |  '", service_name="unknown", user="', CAST(user_id AS VARCHAR),
          |  '"}') AS stream
          |FROM events ORDER BY stream""".stripMargin)),

    // Volume census (round 13, beyond-parity): /index/volume as
    // loki.meta.volume — aggregate log volume per stream, the capacity
    // question ("which streams are big?") every log user at scale asks
    // first, answered from the INDEX server-side. target_labels=event_type
    // groups the census by one label; the oracle recomputes per-type line
    // bytes from the seeding corpus, so it certifies the endpoint model,
    // the Prometheus-vector decode, and the canonical metric rendering
    // together.
    ("loki_label_volume",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        val cat = s"lokimetavol${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        // the volume endpoints REQUIRE a query selector (like /series);
        // the default-label fallback supplies {event_type=~".+"}
        s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
        s.read
          .option("start_ns", "0")
          .option("end_ns", "4102444800000000000") // 2100: whole retention
          .option("target_labels", "event_type")
          .option("volume_limit", "1000") // full census, not the server's top-100
          .table(s"$cat.meta.volume")
          .orderBy("stream")
      },
      Some(
        """SELECT concat('{event_type="', event_type, '"}') AS stream,
          |       CAST(sum(length(concat(event_type, ' value=',
          |                              CAST(value AS VARCHAR)))) AS BIGINT) AS bytes
          |FROM events GROUP BY event_type ORDER BY stream""".stripMargin)),

    // Volume TREND (round 13): /index/volume_range as
    // loki.meta.volume_range — the same census bucketed by day, the
    // ingest-growth dashboard every capacity review reads. The oracle
    // recomputes per-(type, day) byte sums; bucket starts are epoch
    // seconds (the precision the Prometheus-style response carries), so
    // the gate also pins the second-truncation contract.
    ("loki_volume_range",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        val cat = s"lokimetavr${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
        s.read
          .option("start_ns", "0") // buckets = whole UTC days
          .option("end_ns", "4102444800000000000")
          .option("target_labels", "event_type")
          .option("volume_limit", "1000")
          .option("step_ns", (86400L * 1000000000L).toString)
          .table(s"$cat.meta.volume_range")
          .orderBy("stream", "ts_s")
      },
      Some(
        """SELECT concat('{event_type="', event_type, '"}') AS stream,
          |       CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) * 86400 AS ts_s,
          |       CAST(sum(length(concat(event_type, ' value=',
          |                              CAST(value AS VARCHAR)))) AS BIGINT) AS bytes
          |FROM events GROUP BY 1, 2 ORDER BY stream, ts_s""".stripMargin)),

    // Delete API (round 14): DELETE FROM loki WHERE … → ONE compactor
    // delete request (POST /loki/api/v1/delete, LokiDeleteRule /
    // LokiDeleteCommand) against a SCRATCH endpoint seeded with the
    // events corpus — deleting from the shared stub would corrupt every
    // other loki oracle. The oracle recomputes the surviving relation
    // (events minus the deleted slice), so a mistranslated selector, a
    // mis-scaled second bound, or an unapplied request all surface as
    // row mismatches; the require pins that the DML actually filed
    // exactly one wire request (idempotent across gate/bench passes).
    ("loki_delete_scan",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.deletedStub(s, d)
        val cat = s"lokidel${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
        s.read.table(s"$cat.default.loki")
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE NOT (event_type = 'click'
          |           AND ts >= TIMESTAMP '2024-01-05 00:00:00'
          |           AND ts < TIMESTAMP '2024-01-20 00:00:00')
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // The delete-request AUDIT listing (GET /loki/api/v1/delete) as
    // loki.meta.deletes — retention workflows review this before the
    // compactor's grace period expires. Self-sufficient: files the same
    // (deduplicated) delete first, so gate-row ordering cannot matter.
    ("loki_meta_deletes",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.deletedStub(s, d)
        val cat = s"lokidell${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        s.read.table(s"$cat.meta.deletes")
          .orderBy("request_id")
      },
      Some(
        """SELECT '1' AS request_id,
          |       '{event_type="click"}' AS query,
          |       CAST(1704412800 AS BIGINT) AS start_s,
          |       CAST(1705708799 AS BIGINT) AS end_s,
          |       'processed' AS status
          |ORDER BY request_id""".stripMargin)),

    // Delete-request LIFECYCLE end to end (round 15, VERDICT r14 #8):
    // filed → received (rows still readable) → one request CANCELED
    // (DELETE ?request_id=, removed from the store) → compactor run →
    // the survivor processed and only ITS rows gone. The choreography
    // runs once in lifecycleStub's memo; this row reads the settled
    // state — the canceled view rows alive, the processed click rows
    // deleted, the audit listing showing exactly the survivor — plus
    // the transition flags captured during setup.
    ("loki_delete_lifecycle",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val st = ConnectorOps.lifecycleStub(s, d)
        val listed = LokiHttp.deleteRequests(st.endpoint)
        val settledOk = listed.size == 1 &&
          listed.head._2 == """{event_type="click"}""" &&
          listed.head._5 == "processed"
        val cat = s"lokilifer${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
        s.read.table(s"$cat.default.loki")
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .crossJoin(broadcast(Seq(
            (ConnectorOps.setupFlagFor(s"$d#dellife"), settledOk))
            .toDF("lifecycle_ok", "settled_ok")))
          .orderBy("ts_us", "line")
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line,
          |       true AS lifecycle_ok, true AS settled_ok
          |FROM events
          |WHERE NOT (event_type = 'click'
          |           AND ts >= TIMESTAMP '2024-01-05 00:00:00'
          |           AND ts < TIMESTAMP '2024-01-20 00:00:00')
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Server-side pattern detection (round 14): /loki/api/v1/patterns as
    // loki.meta.patterns — real Loki's Drain-style template census,
    // answered by the pattern store without streaming chunks (the
    // server-side counterpart of the Spark-side loki_log_patterns /
    // loki_drain_templates mining; LokiMetaSpec cross-checks the two on
    // one corpus). Day-bucketed, so the gate also pins the step dialect
    // + second-precision sample contract. The oracle replays the
    // detection: every corpus line masks to '<type> value=<num>' (one
    // shape per event type, no intra-shape variance), counted per day.
    ("loki_meta_patterns",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        val cat = s"lokimetapat${d.hashCode & 0x7fffffff}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.check_connection", "false")
        // the patterns endpoint REQUIRES a query selector (like volume);
        // the default-label fallback supplies {event_type=~".+"}
        s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
        s.read
          .option("start_ns", "0") // buckets = whole UTC days
          .option("end_ns", "4102444800000000000")
          .option("step_ns", (86400L * 1000000000L).toString)
          .table(s"$cat.meta.patterns")
          .orderBy("pattern", "ts_s")
      },
      Some(
        """SELECT concat(event_type, ' value=<num>') AS pattern,
          |       CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) * 86400 AS ts_s,
          |       CAST(count(*) AS BIGINT) AS cnt
          |FROM events GROUP BY 1, 2 ORDER BY pattern, ts_s""".stripMargin)),

    // Explicit direction (round 13): "the last 40 purchases" — a pushed
    // label matcher + LIMIT with direction=backward STATED on the wire
    // (not inherited from the server default), the newest-n read every
    // log user runs first. The twin `loki_forward_firstn` pins the flip:
    // the same query under direction=forward keeps the OLDEST n, proving
    // the option reaches the request rather than riding defaults.
    ("loki_backward_lastn",
      (s: SparkSession, d: String) =>
        s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("direction", "backward")
          .load()
          .filter(element_at(col("labels"), "event_type") === "purchase" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .limit(40)
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT ts_us, line FROM (
          |  SELECT epoch_us(ts) AS ts_us,
          |         concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |  FROM events
          |  WHERE event_type = 'purchase'
          |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  ORDER BY ts DESC LIMIT 40
          |) ORDER BY ts_us, line""".stripMargin)),

    ("loki_forward_firstn",
      (s: SparkSession, d: String) =>
        s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("direction", "forward")
          .load()
          .filter(element_at(col("labels"), "event_type") === "purchase" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .limit(40)
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT ts_us, line FROM (
          |  SELECT epoch_us(ts) AS ts_us,
          |         concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |  FROM events
          |  WHERE event_type = 'purchase'
          |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  ORDER BY ts ASC LIMIT 40
          |) ORDER BY ts_us, line""".stripMargin)),

    // Chained line filters through the connector: a positive contains AND
    // a negative contains on the same scan — the reference's multi-filter
    // LogQL shape (`{sel} |= `x` != `y``, table.rs:124-128). The stub
    // enforces both server-side; Spark keeps no residual (both forms are
    // whitelisted Exact), so a broken filter-chain assembly returns wrong
    // rows, not a slow plan.
    ("loki_connector_line_chain",
      (s: SparkSession, d: String) =>
        lokiDf(s, d)
          .filter(col("line").like("%value=1%") &&
            !col("line").like("%value=12%") &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE concat(event_type, ' value=', CAST(value AS VARCHAR)) LIKE '%value=1%'
          |  AND concat(event_type, ' value=', CAST(value AS VARCHAR)) NOT LIKE '%value=12%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Pattern LINE FILTERS (Loki 3.x, round 16 third tranche): `|>` /
    // `!>` — `loki_pattern_match(line, '<_>value=0.<_>')` pushes as a
    // pattern filter stage because the host expression and the wire
    // matcher are ONE implementation (LokiParsers.patternAll — anchored
    // both ends, lazy captures). Both polarities in one chain; for
    // these wildcard-bracketed templates the anchored match reduces to
    // containment, which is what the oracle replays with LIKE.
    ("loki_line_pattern_filter",
      (s: SparkSession, d: String) => {
        import graft.functions.GraftFunctions.loki_pattern_match
        val df = lokiDf(s, d)
          .filter(
            loki_pattern_match(col("line"), lit("<_>value=0.<_>")) &&
              !loki_pattern_match(col("line"), lit("<_>value=0.1<_>")) &&
              col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("|> `<_>value=0.<_>`") &&
          plan.contains("!> `<_>value=0.1<_>`"),
          s"pattern line filters did not push: $plan")
        df
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE concat(event_type, ' value=', CAST(value AS VARCHAR))
          |        LIKE '%value=0.%'
          |  AND concat(event_type, ' value=', CAST(value AS VARCHAR))
          |        NOT LIKE '%value=0.1%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // ip() LINE filters (round 16, third tranche): `|= ip("…")` /
    // `!= ip("…")` — grafana/loki's access-log idiom, all three pattern
    // forms load-bearing in one chain: a positive RANGE
    // (10.0.0.5-10.0.0.59 → users 5–59), a negative CIDR (10.0.0.32/27
    // → minus 32–63), a negative SINGLE (minus user 7). The host
    // expression, the translator claim, and the stub's evaluation share
    // LokiParsers' one maximal-run candidate scan, so the push is exact
    // by construction; the oracle replays the ranges as user_id
    // arithmetic.
    ("loki_line_ip_filter",
      (s: SparkSession, d: String) => {
        val st = stubSync(stubs.getOrElseUpdate(s"$d#iplines", {
          val scratch = new LokiStubServer
          scratch.start()
          Tables.events(s, d).select(
            col("ts").as("timestamp"),
            map(lit("app"), lit("ipcorpus")).as("labels"),
            concat(col("event_type"), lit(" src=10.0."),
              expr("CAST(user_id div 250 AS STRING)"), lit("."),
              (col("user_id") % 250).cast("string"),
              lit(" value="), col("value").cast("string")).as("line"))
            .write.format("loki")
            .option("endpoint", scratch.endpoint)
            .option("push_batch_size", "8192")
            .mode("append").save()
          sys.addShutdownHook(scratch.stop())
          scratch
        }))
        import graft.functions.GraftFunctions.loki_line_ip
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            loki_line_ip(col("line"), lit("10.0.0.5-10.0.0.59")) &&
              !loki_line_ip(col("line"), lit("10.0.0.32/27")) &&
              !loki_line_ip(col("line"), lit("10.0.0.7")) &&
              col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("""|= ip("10.0.0.5-10.0.0.59")""") &&
          plan.contains("""!= ip("10.0.0.32/27")""") &&
          plan.contains("""!= ip("10.0.0.7")"""),
          s"ip() line filters did not push: $plan")
        df
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' src=10.0.',
          |              CAST(user_id // 250 AS VARCHAR), '.',
          |              CAST(user_id % 250 AS VARCHAR),
          |              ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE user_id BETWEEN 5 AND 59
          |  AND NOT (user_id BETWEEN 32 AND 63)
          |  AND user_id != 7
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Absent-label semantics end-to-end (SURVEY.md §7.4(f)): a corpus where
    // a third of the streams LACK the matched label. `tier != 'gold'` is an
    // absent-matching matcher — Loki treats a missing label as "" ≠ "gold"
    // and returns the no-tier streams (the stub models this), while SQL's
    // GetMapValue → NULL → filter-false semantics must drop them. The rule
    // pushes the matcher for server-side pruning but keeps the residual, so
    // the gate answer is the SQL one: silver rows ONLY. An Exact-pushdown
    // bug that trusts Loki's superset here returns the absent-label rows
    // too → row-count mismatch, red.
    ("loki_absent_label_neq",
      (s: SparkSession, d: String) => {
        val st = stubSync(stubs.getOrElseUpdate(s"$d#absent", {
          val stub = new LokiStubServer
          stub.start()
          Tables.events(s, d).select(
            col("ts").as("timestamp"),
            map_concat(
              map(lit("event_type"), col("event_type")),
              when(col("user_id") % 3 === 0, map(lit("tier"), lit("gold")))
                .when(col("user_id") % 3 === 1, map(lit("tier"), lit("silver")))
                .otherwise(typedLit(Map.empty[String, String]))).as("labels"),
            concat(col("event_type"), lit(" value="), col("value").cast("string"))
              .as("line"))
            .write.format("loki")
            .option("endpoint", stub.endpoint)
            .option("push_batch_size", "8192")
            .mode("append").save()
          sys.addShutdownHook(stub.stop())
          stub
        }))
        s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "event_type")
          .load()
          .filter(element_at(col("labels"), "tier") =!= "gold" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .select(
            element_at(col("labels"), "tier").as("tier"),
            unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
      },
      Some(
        // time predicate mirrored verbatim — see loki_connector_labels
        """SELECT 'silver' AS tier, epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE user_id % 3 = 1
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Log-table NDJSON roundtrip: the interchange format log pipelines
    // actually ship (one JSON object per line). The log view is written
    // with the built-in JSON sink (map column → JSON object) and read
    // back under an EXPLICIT schema — no inference, mirroring the
    // reference's fixed-schema stance (table.rs:31-37) — and the
    // roundtripped relation must equal the original events-derived
    // oracle. Timestamps travel as µs longs: JSON has no timestamp type,
    // and a lexical ISO round-trip would re-open the ns-truncation
    // ambiguity §7.4(b) closes.
    ("loki_ndjson_roundtrip",
      (s: SparkSession, d: String) =>
        roundtrip("ndjson") { dir =>
          // spread the one-file scan before the export: the JSON
          // serialization otherwise runs in a single write task (0.53 s
          // serial at bench scale) and the re-read inherits the single
          // file; a real many-file corpus already has write parallelism
          // (spreadScan no-ops) and one output file per task is the
          // production layout (guide §6). Spread the RAW events columns,
          // not the rendered view — the exchange then ships four narrow
          // columns and the map/line string building runs post-exchange
          // in parallel (guide §2.3, project-before-the-exchange dual)
          lokiViewSpread(s, d)
            .select(unix_micros(col("timestamp")).as("ts_us"),
              col("labels"), col("line"))
            .write.mode("overwrite").json(dir)
        } { dir =>
          s.read
            .schema("ts_us LONG, labels MAP<STRING,STRING>, line STRING")
            .json(dir)
        }
          .select(col("ts_us"),
            element_at(col("labels"), "event_type").as("label_event_type"),
            col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       event_type AS label_event_type,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events ORDER BY ts_us, line""".stripMargin)),

    // CSV interchange: CSV has no map type, so the export projects the
    // label out FIRST (the flattened shape log pipelines actually ship
    // to loaders); explicit schema on re-read — CSV carries none.
    ("loki_csv_roundtrip",
      (s: SparkSession, d: String) =>
        roundtrip("csv") { dir =>
          // spread before export — see the ndjson roundtrip note
          lokiViewSpread(s, d)
            .select(unix_micros(col("timestamp")).as("ts_us"),
              element_at(col("labels"), "event_type").as("label_event_type"),
              col("line"))
            .write.mode("overwrite").csv(dir)
        } { dir =>
          s.read
            .schema("ts_us LONG, label_event_type STRING, line STRING")
            .csv(dir)
        }
          .orderBy("ts_us", "line"),
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       event_type AS label_event_type,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events ORDER BY ts_us, line""".stripMargin)),

    // ORC interchange: the other columnar container Spark speaks
    // natively; unlike CSV it carries the full schema, maps included —
    // the roundtrip keeps the labels map intact and projects after
    // re-read, proving the typed container preserves the log row.
    ("loki_orc_roundtrip",
      (s: SparkSession, d: String) =>
        roundtrip("orc") { dir =>
          // deliberately NOT spread (unlike ndjson/csv): the ORC writer
          // pays ~0.15-0.3 s of per-task init/footer overhead, so 32 tiny
          // files measured WORSE than the single serial write in r16
          // (0.88 s vs 0.67) and a 4-way repartition measured a WASH in
          // r17 (0.605 vs 0.606 — the exchange write eats what the
          // parallel stripes save) while hard-coding a local-mode
          // constant; at real scale the scan has its own parallelism and
          // the writer inherits it
          Tables.lokiView(s, d)
            .select(unix_micros(col("timestamp")).as("ts_us"),
              col("labels"), col("line"))
            .write.mode("overwrite").orc(dir)
        } { dir =>
          s.read.orc(dir)
        }
          .select(col("ts_us"),
            element_at(col("labels"), "event_type").as("label_event_type"),
            col("line"))
          .orderBy("ts_us", "line"),
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       event_type AS label_event_type,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events ORDER BY ts_us, line""".stripMargin)),

    // Write path: insert the signup rows through the connector into a
    // scratch stub, surface the committed count (the reference's
    // `| count |` result, README.md:49-53, via SURVEY.md §7.4(c)).
    ("loki_connector_insert_count",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val scratch = stubSync(stubs.getOrElseUpdate(s"$d#insert", {
          val st = new LokiStubServer
          st.start()
          sys.addShutdownHook(st.stop())
          st
        }))
        scratch.clear()
        // spread write input (round 17): the render + JSON-serialize +
        // POST pipeline ran in the view's single scan task (307 ms
        // serial); the spread ships raw event columns and 32 writers
        // push concurrently (the stub parses on a thread pool). Safe
        // here because the gate is a pure COUNT — row order and batch
        // grouping never reach the result. The one-shot SEED writes and
        // the grouped roundtrip stay serial: parallel push permutes the
        // store's insertion order (tie-order under limits) and multiplies
        // per-writer stream objects (the wire_grouped_ok margin).
        lokiViewSpread(s, d)
          .filter(element_at(col("labels"), "event_type") === "signup")
          .write.format("loki")
          .option("endpoint", scratch.endpoint)
          .mode("append").save()
        Seq(LokiWrite.lastCommittedRows(scratch.endpoint)).toDF("count")
      },
      Some("SELECT CAST(count(*) AS BIGINT) AS count FROM events WHERE event_type = 'signup'")),

    // The same write path through the first-class parity shim
    // (LokiWrite.insert): runs the append and RETURNS the reference's
    // one-row `count` result table (insert.rs:136-140, README.md:49-53) —
    // what a reference script that SELECTs its insert result ports to
    // directly, instead of fishing the count out of metrics.
    ("loki_insert_count_table",
      (s: SparkSession, d: String) => {
        val scratch = stubSync(stubs.getOrElseUpdate(s"$d#insert_table", {
          val st = new LokiStubServer
          st.start()
          sys.addShutdownHook(st.stop())
          st
        }))
        scratch.clear()
        // spread write input — count-only gate, see insert_count's note
        LokiWrite.insert(
          lokiViewSpread(s, d)
            .filter(element_at(col("labels"), "event_type") === "purchase"),
          scratch.endpoint)
      },
      Some("SELECT CAST(count(*) AS BIGINT) AS count FROM events WHERE event_type = 'purchase'"))
 ,
    // Pure-SQL catalog access (round 10): the reference registers its
    // table into the DataFusion SessionContext and queries it by name
    // (examples/datafusion.rs:10-18); the Spark analog is the catalog
    // plugin — configured HERE at runtime, resolved lazily by name — so
    // the whole surface (name resolution → pushdown rule → paged scan)
    // runs from one SQL string under the oracle, no DataFrame API at all.
    ("loki_catalog_sql",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        // per-dataset catalog NAME: Spark's CatalogManager caches the
        // plugin instance per name after first resolution, so re-pointing
        // a fixed name's endpoint conf at a different dataset's stub
        // would be silently ignored (the cached instance keeps the old
        // endpoint) — keying the name by the dataset makes each dataset
        // resolve its own instance (round-11 ADVICE)
        val cat = f"lokigate_${d.hashCode & 0x7fffffff}%x"
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.loki.LokiCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.endpoint", st.endpoint)
        s.conf.set(s"spark.sql.catalog.$cat.default_label", "event_type")
        s.sql(
          s"""SELECT unix_micros(timestamp) AS ts_us, line
            |FROM $cat.default.loki
            |WHERE labels['event_type'] = 'signup'
            |  AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'
            |  AND timestamp < TIMESTAMP '2024-02-01 00:00:00'
            |ORDER BY ts_us, line""".stripMargin)
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE event_type = 'signup'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // The write path under the oracle (round 10): insert the error rows
    // (one stream object per label set per push), then read them BACK
    // through the connector scan — a full write→read roundtrip through
    // the grouped payload, so a grouping bug (lost value, wrong stream
    // association, bad JSON) surfaces as a row mismatch against the
    // events oracle, not just a spec assertion. The in-query check also
    // pins that the wire really grouped: stream objects on the wire <<
    // rows written.
    ("loki_insert_grouped_roundtrip",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val scratch = stubSync(stubs.getOrElseUpdate(s"$d#grouped", {
          val st = new LokiStubServer
          st.start()
          sys.addShutdownHook(st.stop())
          st
        }))
        scratch.clear()
        scratch.pushBodies.synchronized(scratch.pushBodies.clear())
        Tables.lokiView(s, d)
          .filter(element_at(col("labels"), "event_type") === "error")
          .write.format("loki")
          .option("endpoint", scratch.endpoint)
          .option("push_batch_size", "8192")
          .mode("append").save()
        val streamObjs = scratch.pushBodies.synchronized(
          scratch.pushBodies.map("\\{\"stream\":".r.findAllIn(_).size).sum)
        val nRows = LokiWrite.lastCommittedRows(scratch.endpoint)
        val back = s.read.format("loki")
          .option("endpoint", scratch.endpoint)
          .option("default_label", "event_type")
          // single-slice read-back, deliberately (round 17 A/B): slicing
          // into 8 windows made every slice a stub-cache MISS per pass
          // (the write above invalidates the cache) and paid 8× the
          // filter+encode — 0.48 → 0.58 s measured; one request builds
          // the window once
          .load()
          .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
        back.crossJoin(broadcast(
          Seq(streamObjs.toLong < nRows).toDF("wire_grouped_ok")))
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line,
          |       true AS wire_grouped_ok
          |FROM events
          |WHERE event_type = 'error'
          |ORDER BY ts_us, line""".stripMargin)),

    // §2.1 row 13's WRITE half (insert.rs:122-134): the reference's
    // LokiLogInsertExec DisplayAs shows the endpoint and the input's
    // rows=n statistic (fed by the child plan's statistics). EXPLAIN of
    // a 2-row VALUES insert must carry both — LokiInsertRowsRule
    // captures the static count, LokiLogWrite renders it — paired with
    // the real insert through the same plan so display and write path
    // regress together (the loki_plan_display idiom).
    ("loki_insert_display",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val scratch = stubSync(stubs.getOrElseUpdate(s"$d#insert_display", {
          val st = new LokiStubServer
          st.start()
          sys.addShutdownHook(st.stop())
          st
        }))
        scratch.clear()
        s.read.format("loki")
          .option("endpoint", scratch.endpoint)
          .option("default_label", "app")
          .load()
          .createOrReplaceTempView("loki_insert_display_probe")
        val values =
          "(current_timestamp(), map('app','d'), 'display probe 1')," +
          "(current_timestamp(), map('app','d'), 'display probe 2')"
        val plan = s.sql(
          s"EXPLAIN INSERT INTO loki_insert_display_probe VALUES $values")
          .collect().map(_.getString(0)).mkString("\n")
        s.sql(s"INSERT INTO loki_insert_display_probe VALUES $values")
        Seq((plan.contains("LokiLogInsert: endpoint="),
          plan.contains("rows=2"),
          LokiWrite.lastCommittedRows(scratch.endpoint)))
          .toDF("display_insert_ok", "display_rows_ok", "n_written")
      },
      Some(
        """SELECT true AS display_insert_ok, true AS display_rows_ok,
          |       CAST(2 AS BIGINT) AS n_written""".stripMargin)),

    // COUNT(*) pushdown under the oracle (round 11): with push_count=true
    // a bare selector count answers from ONE index/stats request — the
    // scan never streams a chunk (the 100 TB "how many error lines this
    // month" query costs one index read; LokiConnectorSpec proves the
    // zero-query_range shape and the line-filter, GROUP BY, LIMIT, and
    // default-off fallbacks).
    // The differential pins that the stats-derived count equals the true
    // relation count on the stub (exact there; see LokiOptions.pushCount
    // for the real-server compaction caveat that keeps this opt-in).
    ("loki_count_pushdown",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "event_type")
          .option("push_count", "true")
          .load().createOrReplaceTempView("loki_count_gate")
        s.sql(
          """SELECT count(*) AS n FROM loki_count_gate
            |WHERE labels['event_type'] = 'click'
            |  AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'
            |  AND timestamp < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n FROM events
          |WHERE event_type = 'click'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)),

    // LogQL METRIC-query pushdown (round 14): a day-bucketed total count
    // answers via ONE `sum(count_over_time({...}[86400s]))` query_range
    // metric request — the server aggregates next to its chunks and the
    // wire carries #buckets samples, not rows (LokiMetricAggRule /
    // LokiMetricScan; the 100 TB aggregation path real Loki users live
    // on). The require pins the rewrite at plan level — a silent
    // fallback to scan+host-agg would still be oracle-correct, so the
    // EXPLAIN pin is what proves the pushdown (the wire conformance
    // itself is LokiMetricSpec's job).
    ("loki_metric_count_over_time",
      (s: SparkSession, d: String) => {
        // the plan pin runs on the FINAL returned relation — the outer
        // unix_micros projection collapses into the aggregate list, and
        // a pin on a pre-projection probe once certified a rewrite the
        // returned plan wasn't actually using.
        // partitions=4: the metric window slices into whole-bucket runs
        // (disjoint-range-composable like the log scan), so the oracle
        // also certifies the sliced union
        val df = s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("partitions", "4")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_micros(col("bucket")).as("bucket_us"), col("cnt"))
          .orderBy("bucket_us")
        require(
          df.queryExecution.executedPlan.toString.contains("LokiMetricScan"),
          "day-bucketed count did not push as a LogQL metric query")
        df
      },
      Some(
        """SELECT epoch_us(date_trunc('day', ts)) AS bucket_us,
          |       count(*) AS cnt
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY bucket_us""".stripMargin)),

    // The UNBUCKETED grouped form: counts per stream label over the
    // window with NO time bucket — pushed as one evaluation whose range
    // is the whole window (`sum by (event_type) (count_over_time({...}
    // [<width>s]))`), the "per-level totals last month" dashboard query.
    ("loki_metric_by_label",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("sum by (event_type) (count_over_time("),
          s"label-grouped count did not push as a metric query: $plan")
        df
      },
      Some(
        """SELECT event_type, count(*) AS cnt
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY event_type""".stripMargin)),

    // bytes_over_time (round 14): the ingest-capacity aggregate —
    // `sum(octet_length(line))` per stream label pushes as ONE
    // `sum by (event_type) (bytes_over_time({...}[width]))` request.
    // Unlike loki_label_volume (index/volume: approximate on
    // un-compacted heads, top-N-truncated), this is the EXACT chunk-side
    // census; octet_length is the translation contract (Loki sums line
    // BYTES — a character-counting length() keeps the host aggregation).
    ("loki_metric_bytes_by_label",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(sum(octet_length(col("line"))).as("bytes"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("sum by (event_type) (bytes_over_time("),
          s"byte census did not push as bytes_over_time: $plan")
        df
      },
      Some(
        """SELECT event_type,
          |       CAST(sum(strlen(concat(event_type, ' value=',
          |                              CAST(value AS VARCHAR)))) AS BIGINT)
          |         AS bytes
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY event_type""".stripMargin)),

    // The grouped form: day buckets × stream label + a line-filter stage,
    // pushed as `sum by (event_type) (count_over_time({...} |= `value=1`
    // [86400s]))` — grouping, bucketing, selector AND line filtering all
    // evaluated server-side.
    ("loki_metric_sum_by",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("line").like("%value=1%") &&
              col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(
            date_trunc("day", col("timestamp")).as("bucket"),
            element_at(col("labels"), "event_type").as("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_micros(col("bucket")).as("bucket_us"),
            col("event_type"), col("cnt"))
          .orderBy("bucket_us", "event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("sum by (event_type) (count_over_time("),
          s"grouped count did not push as a sum by metric query: $plan")
        df
      },
      Some(
        """SELECT epoch_us(date_trunc('day', ts)) AS bucket_us,
          |       event_type,
          |       count(*) AS cnt
          |FROM events
          |WHERE concat(event_type, ' value=', CAST(value AS VARCHAR)) LIKE '%value=1%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1, 2
          |ORDER BY bucket_us, event_type""".stripMargin)),

    // Parser-stage pushdown under the oracle (round 15): a predicate
    // over the Loki-semantics logfmt accessor ships as `| logfmt
    // gp0="value" | gp0=~…` pipeline stages — the server parses and
    // filters next to its chunks, so only matching rows cross the wire
    // (the {app="x"} | logfmt | k=~"…" idiom; the reference pushes only
    // selectors + line filters, src/expr.rs:49-112). The require pins
    // the pushed stage (a silent fallback would still be
    // oracle-correct); exactness vs SQL NULL semantics is
    // LokiParserPushdownSpec's differential.
    ("loki_parse_logfmt_filter",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(graft.functions.GraftFunctions
            .logfmt_get(col("line"), lit("value")).rlike("^1") &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("""| logfmt gp0="value" | gp0=~"""),
          s"logfmt accessor predicate did not push as a parser stage: $plan")
        df
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE CAST(value AS VARCHAR) LIKE '1%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // The `| pattern` third of the parser family (round 15): the
    // template accessor pushes with its filtered capture RENAMED to the
    // reserved gp<N> namespace and every other capture anonymized —
    // `| pattern "<_> value=<gp0>" | gp0=~…` — so template extraction
    // and filtering both run server-side (shared-implementation
    // semantics: anchored both ends, lazy captures; see LokiParsers).
    ("loki_parse_pattern_filter",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(graft.functions.GraftFunctions.loki_pattern_get(
            col("line"), lit("<t> value=<v>"), lit("v")).rlike("^2") &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("""| pattern "<_> value=<gp0>" | gp0=~"""),
          s"pattern accessor did not push as a pattern stage: $plan")
        df
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE CAST(value AS VARCHAR) LIKE '2%'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // The `| json` half, on a SCRATCH stub whose lines are real json
    // (to_json over the events row): the most common real-Loki idiom —
    // `{app="x"} | json | level="error"` — written as the Spark-native
    // `get_json_object(line,'$.level') = 'error'`, answered entirely
    // server-side. get_json_object's Jackson semantics ≡ the wire
    // parser on pushable shapes is LokiParsersProps' property pin.
    ("loki_parse_json_filter",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.jsonStub(s, d)
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(get_json_object(col("line"), "$.level") === "error" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"))
          .orderBy("ts_us")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("""| json gp0="level" | gp0="error""""),
          s"json predicate did not push as a parser stage: $plan")
        require(!plan.contains("get_json_object"),
          s"pushed json predicate left a host residual: $plan")
        df
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us
          |FROM events
          |WHERE event_type = 'error'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
          |ORDER BY ts_us""".stripMargin)),

    // The `| regexp` FOURTH parser (round 16): named-capture regex
    // extraction — `loki_regexp_get(line, '(?<ev>…)', 'ev') = 'click'`
    // pushes as `| regexp "(?P<gp0>…)" | gp0="click"` with the target
    // capture RENAMED into the reserved gp<N> namespace and every other
    // named group anonymized to (?:…) (the pattern-parser template
    // discipline). javaToRe2Named screens the dialect: only patterns
    // whose Java→RE2 translation is engine-agreeing push; the rest stay
    // host residuals.
    ("loki_parse_regexp_filter",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(graft.functions.GraftFunctions.loki_regexp_get(
            col("line"), lit("^(?<ev>[a-z_]+) value"), lit("ev")) === "click" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .orderBy("ts_us", "line")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("""| regexp "^(?P<gp0>[a-z_]+) value" | gp0="click""""),
          s"regexp accessor predicate did not push as a regexp stage: $plan")
        require(!plan.contains("loki_regexp_get"),
          s"pushed regexp predicate left a host residual: $plan")
        df
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |FROM events
          |WHERE event_type = 'click'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // regexp-fed unwrap under the METRIC rewrite (round 16): the value
    // field exists only inside the line and only a regex can cut it out
    // — `max/min(loki_unwrap(loki_regexp_get(line, ' value=(?<v>…)',
    // 'v')))` ships as `max_over_time({…} | regexp " value=(?P<gp0>…)"
    // | gp0!="" | unwrap gp0 | __error__="" [w]) by (event_type)`:
    // two samples per group on the wire. min/max are order-independent,
    // so the float aggregates are oracle-exact without rounding.
    ("loki_metric_unwrap_regexp",
      (s: SparkSession, d: String) => {
        val v = graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.loki_regexp_get(
            col("line"), lit(" value=(?<v>[0-9.E-]+)"), lit("v")))
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(max(v).as("max_v"), min(v).as("min_v"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("max_over_time(") && plan.contains("min_over_time(") &&
          plan.contains("""| regexp " value=(?P<gp0>[0-9.E-]+)" | gp0!=""""") &&
          plan.contains("| unwrap gp0 | __error__=\"\""),
          s"regexp-fed unwrap did not push as unwrapped metric queries: $plan")
        df
      },
      Some(
        """SELECT event_type, max(value) AS max_v, min(value) AS min_v
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY event_type""".stripMargin)),

    // Parsed label under the METRIC rewrite (round 15): `GROUP BY
    // loki_json_get(line,'level')` + COUNT ships as ONE
    // `sum by (gp0) (count_over_time({…} | json gp0="level" [width]))`
    // — grouping on a field that exists only INSIDE the log line,
    // evaluated server-side, #groups samples on the wire instead of
    // every row. This is the completion VERDICT r14 asked for: the
    // metric pushdown consuming parser stages.
    ("loki_metric_parsed_label",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.jsonStub(s, d)
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .groupBy(graft.functions.GraftFunctions
            .loki_json_get(col("line"), lit("level")).as("level"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("level")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("sum by (gp0) (count_over_time(") &&
          plan.contains("""| json gp0="level""""),
          s"parsed-label grouping did not push as a metric query: $plan")
        df
      },
      Some(
        """SELECT event_type AS level, count(*) AS cnt
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
          |GROUP BY 1
          |ORDER BY level""".stripMargin)),

    // rate() shape (round 15): COUNT(*)/window-seconds per bucket is the
    // SAME wire data as count_over_time divided by a literal — the
    // rewrite's structural projection mapping carries the division, so
    // the dashboard query `rate({app="x"}[1d])` costs #buckets samples.
    ("loki_metric_rate",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
          .agg((count(lit(1)) / 86400.0).as("rate"))
          .select(unix_micros(col("bucket")).as("bucket_us"), col("rate"))
          .orderBy("bucket_us")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("count_over_time("),
          s"rate shape did not push as a metric query: $plan")
        df
      },
      Some(
        """SELECT epoch_us(date_trunc('day', ts)) AS bucket_us,
          |       count(*) / 86400.0 AS rate
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY bucket_us""".stripMargin)),

    // Mixed-kind aggregate list (round 15): AVG(octet_length(line)) is
    // the bytes/count PAIR — the relation issues one wire query per
    // range-aggregation kind over the identical inner query and the
    // reader joins samples, so avg+count+sum together still ship
    // #series × 2 queries of samples, not rows.
    ("loki_metric_avg_bytes",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(
            avg(octet_length(col("line"))).as("avg_bytes"),
            count(lit(1)).as("cnt"),
            sum(octet_length(col("line"))).as("bytes"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("bytes_over_time(") && plan.contains("count_over_time("),
          s"avg did not push as the bytes/count metric pair: $plan")
        df
      },
      Some(
        """SELECT event_type,
          |       avg(strlen(concat(event_type, ' value=',
          |                         CAST(value AS VARCHAR)))) AS avg_bytes,
          |       count(*) AS cnt,
          |       CAST(sum(strlen(concat(event_type, ' value=',
          |                              CAST(value AS VARCHAR)))) AS BIGINT)
          |         AS bytes
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY event_type""".stripMargin)),

    // Server-side topk (round 15): ORDER BY cnt DESC LIMIT k over the
    // unbucketed grouped count wraps the wire query as `topk(k, sum by
    // (…) (…))` — ≤k series cross the wire. k exceeds the corpus'
    // distinct-label count here so the result set is tie-independent
    // (the boundary-tie caveat is LokiMetricSpec's job); the outer
    // re-sort keeps output order deterministic for the oracle.
    ("loki_metric_topk",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc)
          .limit(10)
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("topk(10, sum by (event_type) (count_over_time("),
          s"top-k did not push as a topk metric query: $plan")
        df
      },
      Some(
        """SELECT event_type, cnt FROM (
          |  SELECT event_type, count(*) AS cnt
          |  FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |    AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |  GROUP BY 1 ORDER BY cnt DESC LIMIT 10)
          |ORDER BY event_type""".stripMargin)),

    // PER-BUCKET topk (round 16, third tranche): `row_number() OVER
    // (PARTITION BY bucket ORDER BY bytes DESC) <= 2` over the
    // day-bucketed byte sums — the "top 2 noisiest apps PER DAY"
    // dashboard — pushes as `topk(2, sum by (event_type)
    // (bytes_over_time(…)))`: Prometheus topk selects per evaluation
    // point, which IS the per-bucket SQL selection; ≤2 series per
    // bucket cross the wire instead of all of them. Byte sums are
    // tie-free per day at the gate SFs, so the selection is exact; the
    // host Window+Filter stay and rank the survivors.
    ("loki_metric_topk_per_bucket",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.{Window => W}
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(date_trunc("day", col("timestamp")).as("bucket"),
            element_at(col("labels"), "event_type").as("event_type"))
          .agg(sum(octet_length(col("line"))).as("bytes"))
          .withColumn("rn", row_number().over(
            W.partitionBy(col("bucket")).orderBy(col("bytes").desc)))
          .filter(col("rn") <= 2)
          .select(unix_micros(col("bucket")).as("bucket_us"),
            col("event_type"), col("bytes"))
          .orderBy("bucket_us", "event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains(
          "topk(2, sum by (event_type) (bytes_over_time(") &&
          plan.contains("[86400s]"),
          s"per-bucket rank did not push as bucketed topk: $plan")
        df
      },
      Some(
        """SELECT epoch_us(bucket) AS bucket_us, event_type, bytes FROM (
          |  SELECT date_trunc('day', ts) AS bucket, event_type,
          |         CAST(sum(strlen(concat(event_type, ' value=',
          |                                CAST(value AS VARCHAR))))
          |              AS BIGINT) AS bytes,
          |         row_number() OVER (
          |           PARTITION BY date_trunc('day', ts)
          |           ORDER BY sum(strlen(concat(event_type, ' value=',
          |                                      CAST(value AS VARCHAR))))
          |             DESC) AS rn
          |  FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |    AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |  GROUP BY 1, 2)
          |WHERE rn <= 2
          |ORDER BY bucket_us, event_type""".stripMargin)),

    // bottomk (round 16, third tranche): the ascending twin —
    // `ORDER BY cnt ASC LIMIT k` pushes as `bottomk(k, sum by (…)
    // (count_over_time(…)))`, the "quietest apps" dashboard. Selection
    // exactness (unique bottom-1 differential vs the host plan) is
    // spec-pinned; this row certifies the wire rendering and decode
    // under the oracle.
    ("loki_metric_bottomk",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt"))
          .limit(10)
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("bottomk(10, sum by (event_type) (count_over_time("),
          s"bottom-k did not push as a bottomk metric query: $plan")
        df
      },
      Some(
        """SELECT event_type, cnt FROM (
          |  SELECT event_type, count(*) AS cnt
          |  FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |    AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |  GROUP BY 1 ORDER BY cnt ASC LIMIT 10)
          |ORDER BY event_type""".stripMargin)),

    // HAVING over the metric rewrite (round 15, VERDICT r14 #3): the
    // rewrite preserves output ExprIds via Alias, so a Filter above the
    // Aggregate survives and evaluates over the metric relation's
    // samples — pinned here because a silent fallback to scan+host-agg
    // would still be oracle-correct.
    ("loki_metric_having",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 2000)
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") && !plan.contains("LokiLogScan"),
          s"HAVING broke the metric rewrite (fell back to the scan): $plan")
        df
      },
      Some(
        """SELECT event_type, count(*) AS cnt
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |HAVING count(*) > 2000
          |ORDER BY event_type""".stripMargin)),

    // Metric partition slicing under the oracle (round 15, VERDICT r14
    // #6): partitions=4 over an hour-bucketed month (744 buckets)
    // slices into four whole-bucket metric queries whose union is the
    // single-query answer — the scale path for month-wide dashboards
    // whose response matrices are themselves large. The require pins
    // that four partitions actually planned.
    ("loki_metric_split",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val base = s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("partitions", "4")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(
            date_trunc("hour", col("timestamp")).as("bucket"),
            element_at(col("labels"), "event_type").as("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_micros(col("bucket")).as("bucket_us"),
            col("event_type"), col("cnt"))
        val plan = base.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan"),
          s"sliced metric did not push: $plan")
        val slices = base.rdd.getNumPartitions
        base.crossJoin(broadcast(Seq(slices == 4).toDF("sliced_4_ok")))
          .orderBy("bucket_us", "event_type")
      },
      Some(
        """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
          |       event_type,
          |       count(*) AS cnt,
          |       true AS sliced_4_ok
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1, 2
          |ORDER BY bucket_us, event_type""".stripMargin)),

    // Window splitting × unwrapped kinds (round 16, third tranche):
    // `partitions=4` slices the day-bucketed window into whole-bucket
    // runs for UNWRAPPED aggregations too — every unwrapped kind
    // (avg/min/max/first/last/quantile) is a per-bucket selection over
    // `(t−step, t]`, so disjoint bucket runs compose exactly like the
    // count form. Two kinds per slice (avg + exact p90), each slice its
    // own pair of wire queries, the oracle over the union.
    ("loki_metric_unwrap_split",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val st = ConnectorOps.unwrapStub(s, d)
        val dur = graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.logfmt_get(col("line"), lit("duration")))
        val base = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .option("partitions", "4")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(date_trunc("day", col("timestamp")).as("bucket"),
            element_at(col("labels"), "event_type").as("event_type"))
          .agg(avg(dur).as("avg_dur"),
            percentile(dur, lit(0.9)).as("p90_raw"))
          // p90 rounds 4dp both sides (the quantile-interpolation ulp
          // convention — see loki_metric_unwrap_p90); avg of
          // integer-valued samples is exact unrounded
          .select(unix_micros(col("bucket")).as("bucket_us"),
            col("event_type"), col("avg_dur"),
            round(col("p90_raw"), 4).as("p90_dur"))
        val plan = base.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("avg_over_time(") &&
          plan.contains("quantile_over_time(0.9,"),
          s"sliced unwrap metric did not push: $plan")
        val slices = base.rdd.getNumPartitions
        base.crossJoin(broadcast(Seq(slices == 4).toDF("sliced_4_ok")))
          .orderBy("bucket_us", "event_type")
      },
      Some(
        s"""SELECT epoch_us(date_trunc('day', ts)) AS bucket_us, event_type,
           |       avg(dur) AS avg_dur,
           |       round(quantile_cont(dur, 0.9), 4) AS p90_dur,
           |       true AS sliced_4_ok
           |FROM $unwrapOracleSrc
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
           |GROUP BY 1, 2
           |ORDER BY bucket_us, event_type""".stripMargin)),

    // `| unwrap` + unwrapped range aggregations (round 16): numeric
    // aggregation over a field EXTRACTED FROM THE LINE — the
    // latency-percentile workload (`avg_over_time({sel} | logfmt
    // | unwrap duration [5m])`), previously the one metric idiom that
    // still streamed raw rows. The wire pipeline `| logfmt gpN="duration"
    // | gpN!="" | unwrap gpN | __error__=""` drops missing/empty and
    // unparsable values exactly where the host's
    // loki_unwrap(logfmt_get(…)) is NULL (shared LokiParsers semantics),
    // and grouping rides the range aggregation itself — samples, not
    // rows, on the wire. avg + max in one SELECT = two wire kinds over
    // the identical inner query, joined by the reader.
    ("loki_metric_unwrap_avg",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.unwrapStub(s, d)
        val dur = graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.logfmt_get(col("line"), lit("duration")))
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(avg(dur).as("avg_dur"), max(dur).as("max_dur"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("avg_over_time(") && plan.contains("max_over_time(") &&
          plan.contains("| unwrap gp0 | __error__=\"\"") &&
          plan.contains("| logfmt gp0=\"duration\" | gp0!=\"\""),
          s"unwrap avg/max did not push as unwrapped metric queries: $plan")
        df
      },
      Some(
        s"""SELECT event_type, avg(dur) AS avg_dur,
           |       CAST(max(dur) AS DOUBLE) AS max_dur
           |FROM $unwrapOracleSrc
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
           |GROUP BY 1
           |ORDER BY event_type""".stripMargin)),

    // quantile_over_time (round 16): exact Prometheus interpolation —
    // rank = φ(n−1) over the sorted group samples, lower +
    // (upper−lower)·frac — the same formula Spark's exact `percentile`
    // and DuckDB's quantile_cont compute, so the bucketed p90-latency
    // dashboard is oracle-exact. min_over_time rides as a second kind.
    ("loki_metric_unwrap_p90",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.unwrapStub(s, d)
        val dur = graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.logfmt_get(col("line"), lit("duration")))
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
          .agg(percentile(dur, lit(0.9)).as("p90_raw"), min(dur).as("min_dur"))
          // both sides round 4dp (the repo's double-agg convention):
          // DuckDB's quantile_cont interpolates as lower·(1−f)+upper·f
          // where Prometheus/Spark compute lower+(upper−lower)·f — same
          // value, one ulp apart on some inputs
          .select(unix_micros(col("bucket")).as("bucket_us"),
            round(col("p90_raw"), 4).as("p90_dur"), col("min_dur"))
          .orderBy("bucket_us")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("quantile_over_time(0.9, ") &&
          plan.contains("min_over_time("),
          s"p90 did not push as quantile_over_time: $plan")
        df
      },
      Some(
        s"""SELECT epoch_us(date_trunc('day', ts)) AS bucket_us,
           |       round(quantile_cont(dur, 0.9), 4) AS p90_dur,
           |       CAST(min(dur) AS DOUBLE) AS min_dur
           |FROM $unwrapOracleSrc
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
           |GROUP BY 1
           |ORDER BY bucket_us""".stripMargin)),

    // sum_over_time + mixed plain kind (round 16): LogQL excludes
    // sum_over_time from range-agg grouping, so it keeps the outer
    // `sum by (…)` wrapper (sum of per-stream sums ≡ group sum); the
    // count(*) in the same SELECT is the plain entry kind — three
    // semantics, one relation, and the count's presence means no
    // group-enumeration query is added.
    ("loki_metric_unwrap_sum",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.unwrapStub(s, d)
        val dur = graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.logfmt_get(col("line"), lit("duration")))
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(sum(dur).as("sum_dur"), count(lit(1)).as("cnt"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("(sum_over_time(") && plan.contains("(count_over_time("),
          s"unwrap sum did not push with the mixed plain kind: $plan")
        df
      },
      Some(
        s"""SELECT event_type, CAST(sum(dur) AS DOUBLE) AS sum_dur,
           |       count(*) AS cnt
           |FROM $unwrapOracleSrc
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
           |GROUP BY 1
           |ORDER BY event_type""".stripMargin)),

    // SQL FILTER clause under the metric rewrite (round 16): the
    // error-RATIO dashboard — total, matching count, and their ratio in
    // ONE SELECT — translates each FILTER condition into per-kind
    // pipeline stages (`count_over_time({sel} |= `…` [w])`), one wire
    // query per distinct kind; groups with no matching rows read the
    // missing sample as 0, exactly the host's filtered count.
    ("loki_metric_filtered_count",
      (s: SparkSession, d: String) => {
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(
            count(lit(1)).as("total"),
            expr("count(*) FILTER (WHERE line LIKE '%value=0.1%')").as("small"),
            expr("round(count(*) FILTER (WHERE line LIKE '%value=0.1%')" +
              " / count(*), 6)").as("small_ratio"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("(count_over_time({event_type=~\".+\"} [") &&
          plan.contains("(count_over_time({event_type=~\".+\"} |= `value=0.1` ["),
          s"FILTER count did not push as its own wire kind: $plan")
        df
      },
      Some(
        """SELECT event_type,
          |       count(*) AS total,
          |       count(*) FILTER (WHERE line LIKE '%value=0.1%') AS small,
          |       round(count(*) FILTER (WHERE line LIKE '%value=0.1%')
          |             / CAST(count(*) AS DOUBLE), 6) AS small_ratio
          |FROM (SELECT event_type,
          |             concat(event_type, ' value=', CAST(value AS VARCHAR))
          |               AS line,
          |             ts
          |      FROM events) src
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY event_type""".stripMargin)),

    // STREAM-label unwrap (round 16): a numeric value carried as a
    // stream label needs no extraction stage — `avg(loki_unwrap(
    // labels['user']))` ships as `avg_over_time({sel} | user!=""
    // | unwrap user | __error__="" [w]) by (event_type)`. user_id is an
    // integer, so the float aggregates are oracle-exact.
    ("loki_metric_unwrap_label",
      (s: SparkSession, d: String) => {
        val u = graft.functions.GraftFunctions.loki_unwrap(
          element_at(col("labels"), "user"))
        val df = lokiDf(s, d)
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(avg(u).as("avg_user"), max(u).as("max_user"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("""| user!="" | unwrap user | __error__=""""),
          s"stream-label unwrap did not push: $plan")
        df
      },
      Some(
        """SELECT event_type, avg(user_id) AS avg_user,
          |       CAST(max(user_id) AS DOUBLE) AS max_user
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1
          |ORDER BY event_type""".stripMargin)),

    // Unwrap CONVERSION functions (round 16): real-Loki latency fields
    // are rarely bare numbers — `took=250ms` (Go duration) and
    // `size=3KiB` (humanized bytes) are the wire idioms `| unwrap
    // duration_seconds(x)` / `| unwrap bytes(x)` exist for. The host
    // expressions loki_duration_seconds/loki_bytes share their
    // conversion model with the stub's sample extraction, so the pushed
    // `… | gpN!="" | unwrap duration_seconds(gpN) | __error__="" …`
    // pipeline is exact by construction. min/max are per-value
    // conversions (identical double ops both sides — oracle-exact);
    // avg(bytes) is integer-exact (dur×1024 sums).
    ("loki_metric_unwrap_duration",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.unwrapStub(s, d)
        val took = graft.functions.GraftFunctions.loki_duration_seconds(
          graft.functions.GraftFunctions.logfmt_get(col("line"), lit("took")))
        val sizeB = graft.functions.GraftFunctions.loki_bytes(
          graft.functions.GraftFunctions.logfmt_get(col("line"), lit("size")))
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(min(took).as("min_took_s"), max(took).as("max_took_s"),
            avg(sizeB).as("avg_size_b"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("| unwrap duration_seconds(gp0) | __error__=\"\"") &&
          plan.contains("| unwrap bytes(gp1) | __error__=\"\"") &&
          plan.contains("| logfmt gp0=\"took\" | gp0!=\"\"") &&
          plan.contains("| logfmt gp1=\"size\" | gp1!=\"\""),
          s"conversion unwraps did not push: $plan")
        df
      },
      Some(
        s"""SELECT event_type,
           |       min(dur * 1e-3) AS min_took_s,
           |       max(dur * 1e-3) AS max_took_s,
           |       avg(dur * 1024) AS avg_size_b
           |FROM $unwrapOracleSrc
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
           |GROUP BY 1
           |ORDER BY event_type""".stripMargin)),

    // stddev/stdvar_over_time (round 16): population variance/stddev of
    // the unwrapped samples — only the _pop SQL aggregates translate
    // (LogQL's are population-semantics). Both sides round (stddev 4dp,
    // variance 0dp — the ~1e10-magnitude variance tolerates the
    // engines' accumulation-order difference at integer precision).
    ("loki_metric_unwrap_stddev",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.unwrapStub(s, d)
        val dur = graft.functions.GraftFunctions.loki_unwrap(
          graft.functions.GraftFunctions.logfmt_get(col("line"), lit("duration")))
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .groupBy(element_at(col("labels"), "event_type").as("event_type"))
          .agg(stddev_pop(dur).as("sd_raw"), var_pop(dur).as("var_raw"))
          .select(col("event_type"), round(col("sd_raw"), 4).as("sd_dur"),
            round(col("var_raw"), 0).as("var_dur"))
          .orderBy("event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("stddev_over_time(") && plan.contains("stdvar_over_time("),
          s"stddev/stdvar did not push as unwrapped metric queries: $plan")
        df
      },
      Some(
        s"""SELECT event_type,
           |       round(stddev_pop(dur), 4) AS sd_dur,
           |       round(var_pop(dur), 0) AS var_dur
           |FROM $unwrapOracleSrc
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
           |GROUP BY 1
           |ORDER BY event_type""".stripMargin)),

    // first/last_over_time (round 16, third tranche): the value at the
    // earliest/latest timestamp per bucket — the "what did the gauge
    // read at the start/end of each day" workload. SQL shape:
    // `min_by/max_by(loki_unwrap(…), timestamp) FILTER (WHERE … IS NOT
    // NULL)` — the NOT-NULL filter mirrors the wire pipeline dropping
    // unparseable rows before sample selection (an unfiltered min_by
    // could return the NULL sitting at the earliest timestamp). Day
    // buckets; ts uniqueness within (event_type, day) at every SF makes
    // the selection deterministic across all three engines.
    ("loki_metric_unwrap_first_last",
      (s: SparkSession, d: String) => {
        val st = ConnectorOps.unwrapStub(s, d)
        val u = "loki_unwrap(logfmt_get(line, 'duration'))"
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .groupBy(date_trunc("day", col("timestamp")).as("bucket"),
            element_at(col("labels"), "event_type").as("event_type"))
          .agg(
            expr(s"min_by($u, timestamp) FILTER (WHERE $u IS NOT NULL)")
              .as("first_dur"),
            expr(s"max_by($u, timestamp) FILTER (WHERE $u IS NOT NULL)")
              .as("last_dur"))
          .select(unix_micros(col("bucket")).as("bucket_us"),
            col("event_type"), col("first_dur"), col("last_dur"))
          .orderBy("bucket_us", "event_type")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LokiMetricScan") &&
          plan.contains("first_over_time(") && plan.contains("last_over_time("),
          s"first/last did not push as unwrapped metric queries: $plan")
        df
      },
      Some(
        s"""SELECT epoch_us(date_trunc('day', ts)) AS bucket_us, event_type,
           |       CAST(arg_min(dur, ts) FILTER (WHERE dur IS NOT NULL)
           |            AS DOUBLE) AS first_dur,
           |       CAST(arg_max(dur, ts) FILTER (WHERE dur IS NOT NULL)
           |            AS DOUBLE) AS last_dur
           |FROM $unwrapOracleSrc
           |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
           |GROUP BY 1, 2
           |ORDER BY bucket_us, event_type""".stripMargin)),

    // Structured metadata roundtrip (round 16, Loki 3.x): per-entry
    // non-indexed key/values (trace/span ids) ride the push payload's
    // third element and surface as the opt-in fourth `metadata` column —
    // the reference's 3-column schema stays the default. The differential
    // certifies write-encode → stub store → read-decode end to end,
    // including entries WITHOUT metadata (empty map, never NULL).
    ("loki_structured_metadata",
      (s: SparkSession, d: String) => {
        val st = stubSync(stubs.getOrElseUpdate(s"$d#structmeta", {
          val scratch = new LokiStubServer
          scratch.start()
          Tables.events(s, d)
            .filter(col("event_type") === "click")
            .select(
              col("ts").as("timestamp"),
              map(lit("app"), lit("m")).as("labels"),
              concat(col("event_type"), lit(" value="),
                col("value").cast("string")).as("line"),
              // deterministic, oracle-replayable metadata; every third
              // user gets NO metadata (the classic-entry shape)
              when(col("user_id") % 3 === 0,
                map().cast("map<string,string>"))
                .otherwise(map(lit("trace"),
                  concat(lit("t"), col("user_id").cast("string"))))
                .as("metadata"))
            .write.format("loki")
            .option("endpoint", scratch.endpoint)
            .option("structured_metadata", "true")
            .option("push_batch_size", "8192")
            .mode("append").save()
          sys.addShutdownHook(scratch.stop())
          scratch
        }))
        val df = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .option("structured_metadata", "true")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line"),
            element_at(col("metadata"), "trace").as("trace"),
            size(col("metadata")).as("n_meta"))
          .orderBy("ts_us", "line")
        require(df.schema.fieldNames.toSeq ==
          Seq("ts_us", "line", "trace", "n_meta"))
        df
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line,
          |       CASE WHEN user_id % 3 = 0 THEN NULL
          |            ELSE concat('t', CAST(user_id AS VARCHAR)) END AS trace,
          |       CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END AS n_meta
          |FROM events
          |WHERE event_type = 'click'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-03-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Optimizer-statistics report under the oracle (round 11,
    // report_statistics=true → SupportsReportStatistics from
    // index/stats): the self-verifying booleans pin that (a) the
    // optimizer actually SEES the probe's numbers (optimizedPlan.stats
    // row count ≤ the stub's corpus, sizeInBytes far below the
    // conservative default) and (b) the same scan still returns the
    // exact relation the oracle computes — sizing must never change
    // results.
    ("loki_stats_report",
      (s: SparkSession, d: String) => {
        val st = stubFor(s, d)
        val logs = s.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "event_type")
          .option("report_statistics", "true")
          .load()
          .filter(element_at(col("labels"), "event_type") === "signup" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
        val stats = logs.queryExecution.optimizedPlan.stats
        val statsOk = stats.rowCount.exists(_.toLong <= 100000L) &&
          stats.sizeInBytes > 0 && stats.sizeInBytes < (1L << 30)
        import s.implicits._
        logs.select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
          .crossJoin(broadcast(Seq(statsOk).toDF("stats_reported_ok")))
          .orderBy("ts_us", "line")
      },
      Some(
        """SELECT epoch_us(ts) AS ts_us,
          |       concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line,
          |       true AS stats_reported_ok
          |FROM events
          |WHERE event_type = 'signup'
          |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
          |ORDER BY ts_us, line""".stripMargin)),

    // Loki label injection under the oracle (round 11): real Loki injects
    // `detected_level` (log-level discovery over the line) and
    // `service_name` (first label in the discover_service_name list) at
    // ingest — visible in every reference golden output
    // (tests/table.rs:21-22, the init.sql rows). This row replays the
    // reference's exact init.sql inserts through the SQL INSERT surface
    // plus one detection-positive row, scans back through the connector
    // (default_label = service_name, so the dispatcher's {service_name=~".+"}
    // matcher itself depends on the injection), and pins the full label
    // maps byte-for-byte against literal goldens. The first two output
    // rows ARE the reference's golden label sets.
    ("loki_injected_labels",
      (s: SparkSession, d: String) => {
        val scratch = stubSync(stubs.getOrElseUpdate(s"$d#golden", {
          val st = new LokiStubServer
          st.start()
          sys.addShutdownHook(st.stop())
          st
        }))
        scratch.clear()
        s.read.format("loki")
          .option("endpoint", scratch.endpoint)
          .option("default_label", "app")
          .load()
          .createOrReplaceTempView("loki_golden_probe")
        s.sql(
          """INSERT INTO loki_golden_probe VALUES
            |  (TIMESTAMP'2024-01-10 00:00:00', map('app','my-app1'), 'this is aaa log'),
            |  (TIMESTAMP'2024-01-10 00:00:01', map('app','my-app2'), 'this is bbb log'),
            |  (TIMESTAMP'2024-01-10 00:00:02', map('job','payments'), 'ERROR failed to charge')""".stripMargin)
        s.read.format("loki")
          .option("endpoint", scratch.endpoint)
          .option("default_label", "service_name")
          .load()
          .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .select(
            array_join(transform(array_sort(map_entries(col("labels"))),
              e => concat(e("key"), lit("="), e("value"))), ",").as("labels_kv"),
            col("line"))
          .orderBy("labels_kv")
      },
      Some(
        """SELECT labels_kv, line FROM (VALUES
          |  ('app=my-app1,detected_level=unknown,service_name=my-app1', 'this is aaa log'),
          |  ('app=my-app2,detected_level=unknown,service_name=my-app2', 'this is bbb log'),
          |  ('detected_level=error,job=payments,service_name=payments', 'ERROR failed to charge'))
          |  AS t(labels_kv, line) ORDER BY labels_kv""".stripMargin)),

    // Log-PATTERN mining (round 13, beyond-parity): the Spark-side
    // analogue of real Loki's /patterns detection — variable tokens
    // (uuids, ips, long hex runs, numbers) normalize to typed
    // placeholders, constants stay, and the template census says which
    // log SHAPES dominate. Shape: pushed window scan → a codegen'd
    // regexp_replace chain → ONE groupBy exchange on the template key,
    // whose cardinality is the number of distinct log shapes (bounded by
    // the emitting code, not the corpus) — the two sides of why this
    // holds at 100 TB where real Loki's own pattern sampling degrades.
    // The oracle replays the SAME normalizer chain in DuckDB (identical
    // regexes, deliberately lookaround-free so Java regex and RE2 agree),
    // so template identity, counts and exemplars all hash-match.
    ("loki_log_patterns",
      (s: SparkSession, d: String) =>
        s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("partitions", "8") // slice the full-corpus decode
          .load()
          .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .select(logTemplate(col("line")).as("template"), col("line"))
          .groupBy("template")
          .agg(count(lit(1)).as("cnt"), min("line").as("exemplar"))
          .orderBy("template"),
      Some(
        s"""SELECT ${oracleTemplateSql("line")} AS template,
           |       CAST(count(*) AS BIGINT) AS cnt,
           |       min(line) AS exemplar
           |FROM (SELECT concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
           |      FROM events
           |      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00')
           |GROUP BY 1 ORDER BY template""".stripMargin)),

    // Drain-style LEARNED templates (round 13): the complement of
    // loki_log_patterns' static token classes — lines are MASKED with
    // those classes first (Drain's own preprocessing, so timestamp-/
    // id-led lines don't shatter the head key), then positions that
    // STILL vary within a (token-count, head-token) shape group become
    // `<*>` while agreed positions stay literal. The oracle replays the
    // whole construction (masking, shape grouping, per-position min=max
    // agreement, ordered reassembly, count+exemplar join) in SQL.
    ("loki_drain_templates",
      (s: SparkSession, d: String) =>
        ConnectorOps.drainTemplates(
          s.read.format("loki")
            .option("endpoint", stubFor(s, d).endpoint)
            .option("default_label", "event_type")
            // scan split count sized to the workers, not a constant: the
            // per-line masking (log_template) is this operator's CPU and
            // ran in 8 scan tasks on a 32-core box (0.84 s of task time)
            .option("partitions", TextOps.hotPartitions(s).toString)
            .load()
            .filter(col("timestamp") >=
              lit("2024-01-01 00:00:00").cast("timestamp"))
            .select("line"))
          .orderBy("template"),
      Some(
        s"""WITH l AS (
          |  SELECT concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line
          |  FROM events WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |), m AS (
          |  SELECT line, ${oracleTemplateSql("line")} AS mline FROM l
          |), k2 AS (
          |  SELECT line, string_split(mline, ' ') AS tk,
          |         len(string_split(mline, ' ')) AS n,
          |         string_split(mline, ' ')[1] AS head
          |  FROM m
          |), p AS (
          |  SELECT n, head, unnest(generate_series(1, n)) AS pos, tk FROM k2
          |), a AS (
          |  SELECT n, head, pos,
          |         CASE WHEN min(tk[pos]) = max(tk[pos]) THEN min(tk[pos])
          |              ELSE '<*>' END AS t
          |  FROM p GROUP BY 1, 2, 3
          |), tpl AS (
          |  SELECT n, head, string_agg(t, ' ' ORDER BY pos) AS template
          |  FROM a GROUP BY 1, 2
          |), c AS (
          |  SELECT n, head, CAST(count(*) AS BIGINT) AS cnt,
          |         min(line) AS exemplar
          |  FROM k2 GROUP BY 1, 2
          |)
          |SELECT template, cnt, exemplar
          |FROM tpl JOIN c USING (n, head) ORDER BY template""".stripMargin)),

    // Log analytics THROUGH the connector: the most frequent lines per
    // label value (the "top error messages per service" staple), counted
    // from a pushed-down connector scan and ranked by the custom
    // TopKPerKeyExec — the reference surface and the beyond-parity custom
    // operator in one plan. The scan pushes the time window down to the
    // stub (bounded query_range); counts partial-aggregate; the per-label
    // top-5 runs through bounded heaps (no per-label sort, no window).
    ("loki_label_top_lines",
      (s: SparkSession, d: String) => {
        // worker-sized split count: the whole-corpus scan decodes through
        // parallel time slices (the loki_connector_labels scale-out
        // shape) instead of one single-threaded reader feeding the
        // aggregation; sized to the session like drain_templates
        val counted = s.read.format("loki")
          .option("endpoint", stubFor(s, d).endpoint)
          .option("default_label", "event_type")
          .option("partitions", TextOps.hotPartitions(s).toString)
          .load()
          .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-03-01 00:00:00").cast("timestamp"))
          .select(element_at(col("labels"), "event_type").as("label_event_type"),
            col("line"))
          .groupBy("label_event_type", "line")
          .agg(count(lit(1)).as("cnt"))
        graft.plans.GraftPlans.topKPerKey(counted,
            Seq("label_event_type"), Seq("cnt" -> false, "line" -> true), 5)
          .orderBy("label_event_type", "line")
      },
      Some(
        """SELECT label_event_type, line, cnt FROM (
          |  SELECT event_type AS label_event_type,
          |         concat(event_type, ' value=', CAST(value AS VARCHAR)) AS line,
          |         CAST(count(*) AS BIGINT) AS cnt,
          |         row_number() OVER (
          |           PARTITION BY event_type
          |           ORDER BY count(*) DESC,
          |                    concat(event_type, ' value=', CAST(value AS VARCHAR))) AS rn
          |  FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          |    AND ts < TIMESTAMP '2024-03-01 00:00:00'
          |  GROUP BY event_type, value
          |) WHERE rn <= 5 ORDER BY label_event_type, line""".stripMargin)),

    // §2.1 row 13 (plan display, scan.rs:149-175): the EXPLAIN surface.
    // The description string is driver-side plan text, so the gate row
    // computes its content checks in-query (the recall_ok idiom) and
    // pairs them with a REAL 5-row scan through the same plan — a display
    // regression (missing query/limit/start) or a broken scan both go red.
    ("loki_plan_display",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val df = lokiDf(s, d)
          .filter(element_at(col("labels"), "event_type") === "click" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
          .limit(5)
        val plan = df.queryExecution.executedPlan.toString
        Seq((plan.contains("LokiLogScan:"),
          plan.contains("query={event_type=\"click\"}"),
          plan.contains("start=") && plan.contains("end="),
          plan.contains("limit=5"),
          df.count()))
          .toDF("display_scan_ok", "display_query_ok", "display_range_ok",
            "display_limit_ok", "n_rows")
      },
      Some(
        """SELECT true AS display_scan_ok, true AS display_query_ok,
          |       true AS display_range_ok, true AS display_limit_ok,
          |       CAST(least(5, (SELECT count(*) FROM events
          |                      WHERE event_type = 'click'
          |                        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |                        AND ts < TIMESTAMP '2024-02-01 00:00:00'))
          |            AS BIGINT) AS n_rows""".stripMargin)),

    // §2.1 row 12 (plan codec, codec.rs:14-100): the reference needs a
    // protobuf codec to ship its execs; in Spark the contract dissolves
    // into Java serialization of the partition + reader/writer factories.
    // The gate row round-trips all three driver-side AND runs a real scan
    // whose task serialization ships the same classes executor-side.
    ("loki_codec_roundtrip",
      (s: SparkSession, d: String) => {
        import s.implicits._
        import graft.sources.loki._
        def rt(o: AnyRef): AnyRef = {
          val bos = new java.io.ByteArrayOutputStream()
          val oos = new java.io.ObjectOutputStream(bos)
          oos.writeObject(o); oos.close()
          new java.io.ObjectInputStream(
            new java.io.ByteArrayInputStream(bos.toByteArray)).readObject()
        }
        val part = LokiInputPartition("http://codec-probe", "{a=\"b\"}",
          Some(1L), Some(2L), Some(3), None, LokiDataSource.LOG_SCHEMA)
        val scanRows = lokiDf(s, d)
          .filter(element_at(col("labels"), "event_type") === "click" &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-03 00:00:00").cast("timestamp"))
          .count()
        Seq((rt(part) == part,
          rt(LokiReaderFactory()).isInstanceOf[LokiReaderFactory],
          rt(LokiWriterFactory(LokiOptions("http://x", None, 1, 4096, false)))
            .isInstanceOf[LokiWriterFactory],
          scanRows))
          .toDF("part_roundtrip_ok", "reader_factory_ok", "writer_factory_ok",
            "scan_rows")
      },
      Some(
        """SELECT true AS part_roundtrip_ok, true AS reader_factory_ok,
          |       true AS writer_factory_ok,
          |       CAST((SELECT count(*) FROM events
          |             WHERE event_type = 'click'
          |               AND ts >= TIMESTAMP '2024-01-01 00:00:00'
          |               AND ts < TIMESTAMP '2024-01-03 00:00:00') AS BIGINT)
          |         AS scan_rows""".stripMargin)),

    // §2.1 row 15 (time defaults, utils.rs:3-12): a scan with NO
    // timestamp bounds must hit the API with start=now−30d, end=now,
    // evaluated at EXECUTE time (scan.rs:107-111). The stub records every
    // request's (logql, start, end); the probe label is unique so the
    // row reads back exactly its own request. The 2024 corpus lies
    // outside any now−30d window, so the scan itself returns 0 rows —
    // also part of the differential (the reference behaves identically
    // on aged data).
    ("loki_time_defaults",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val st = stubFor(s, d)
        val rows = lokiDf(s, d)
          .filter(element_at(col("labels"), "event_type") === "graft_defaults_probe")
          .count()
        val probe = st.ranges.synchronized {
          st.ranges.filter(_._1 == "{event_type=\"graft_defaults_probe\"}").lastOption
        }
        val nowNs = System.currentTimeMillis() * 1000000L
        val slackNs = 15L * 60 * 1000000000L
        val (startOk, endOk) = probe match {
          case Some((_, Some(st0), Some(en))) =>
            val expStart = nowNs - 30L * 24 * 3600 * 1000000000L
            (math.abs(st0 - expStart) <= slackNs, math.abs(en - nowNs) <= slackNs)
          case _ => (false, false)
        }
        Seq((rows, startOk, endOk))
          .toDF("n_rows", "start_30d_ok", "end_now_ok")
      },
      Some(
        """SELECT CAST(0 AS BIGINT) AS n_rows, true AS start_30d_ok,
          |       true AS end_now_ok""".stripMargin))
  )
}
