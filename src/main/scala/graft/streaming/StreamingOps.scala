package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.Tables

/** Structured Streaming surface over the events table (file-stream source):
  * the streaming shape of the batch `events_hourly_window` /
  * `events_sessionize` operators. Streams are out of the reference's parity
  * surface (its scan is `Boundedness::Bounded`, scan.rs:48) but part of the
  * engine's 100 TB story: the same windowed aggregations run incrementally
  * with watermark-bounded state.
  */
object StreamingOps {

  /** Recursive delete for scratch checkpoint/roundtrip dirs — the one
    * definition (the helper had grown three verbatim copies across
    * ConnectorOps and ScaleSmoke; a cleanup fix must land once).
    */
  def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  /** Source-schema memo: every stream construction needs the file's
    * schema, read via a batch footer scan — and a stream-stream join
    * constructs TWO sources, so uncached each query construction paid
    * the footer read repeatedly. Keyed per (session, file, mtime, length):
    * the two corpus generations differ PHYSICALLY (ns-Long vs µs-timestamp
    * `ts`, CorpusGenerationsSpec), so an in-place regeneration at the same
    * path must miss — the same rewrite-hygiene rule the dedup result memos
    * follow (DedupSpec). The fingerprint stat is one filesystem call per
    * stream construction, which the footer scan it guards dwarfs.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), StructType]

  private def fileSchema(
      spark: SparkSession, path: String): StructType = {
    val fp = pathFingerprint(new java.io.File(path))
    schemaCache.keys.foreach { k =>
      if ((k._1 eq spark) && k._2 == path && k._3 != fp)
        schemaCache.remove(k)
    }
    schemaCache.getOrElseUpdate((spark, path, fp), {
      Tables.readerConfs(spark)
      spark.read.parquet(path).schema
    })
  }

  /** Drop this session's schema memos (and any stopped session's) —
    * called from [[graft.operators.CacheRegistry.clearSession]] so a
    * stopped or bench-reset session doesn't pin entries forever.
    */
  def clearSchemaCache(spark: SparkSession): Unit =
    schemaCache.keys.foreach { k =>
      if ((k._1 eq spark) || k._1.sparkContext.isStopped)
        schemaCache.remove(k)
    }

  /** Drained-result memo for the bounded gate streams — the streaming
    * twin of [[graft.operators.CacheRegistry.memoizeResult]]: a bounded
    * drain's memory-sink table persists in the session after the query
    * terminates, but re-invoking the gate entry re-ran the WHOLE drain
    * (checkpoint setup, micro-batches, state commits) because a fresh
    * streaming query can never hit Spark's CacheManager. Repeat
    * invocations on unchanged source files now return the already-drained
    * relation — exactly the repeat-consumer semantics the batch result
    * memos provide (and the bench's warm pass measures); the cold pass
    * still pays the full drain because [[clearDrainMemo]] rides
    * CacheRegistry.clearSession. Keyed on the source files' identity
    * (path + mtime + length, the schemaCache rule), so an in-place corpus
    * regeneration misses.
    */
  private val drainMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  /** Fingerprint one parquet table path. Testdata ships single files,
    * but a Spark-written table is a DIRECTORY — and a directory's own
    * length is filesystem noise while its mtime granularity can miss an
    * in-place regeneration — so a directory fingerprints its member
    * FILES (sorted name|mtime|length), which any rewrite must touch.
    */
  private def pathFingerprint(f: java.io.File): String =
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty).filter(_.isFile)
        .sortBy(_.getName)
        .map(p => s"${p.getName}|${p.lastModified}|${p.length}")
        .mkString(",")
    else s"${f.lastModified}|${f.length}"

  private def dirFingerprint(dir: String): String =
    Seq("events.parquet", "documents.parquet").map { n =>
      s"$n|${pathFingerprint(new java.io.File(s"$dir/$n"))}"
    }.mkString(";")

  def memoDrain(spark: SparkSession, dir: String, key: String)(
      compute: => DataFrame): DataFrame = {
    val fp = dirFingerprint(dir)
    // evict prior generations of this (session, key): a regenerated
    // corpus must not pin the stale drained relation (and its memory-sink
    // state) for the session's lifetime
    drainMemo.keys.foreach { k =>
      if ((k._1 eq spark) && k._2 == key && k._3 != fp) drainMemo.remove(k)
    }
    drainMemo.getOrElseUpdate((spark, key, fp), compute)
  }

  /** Live drain-memo entries for a gate key — spec hook pinning that a
    * corpus regeneration EVICTS the stale generation's entry (round 12:
    * without eviction every rewrite leaked the prior drained DataFrame
    * for the session's lifetime).
    */
  private[graft] def drainMemoEntries(spark: SparkSession, key: String): Int =
    drainMemo.keys.count(k => (k._1 eq spark) && k._2 == key)

  /** Drop this session's drained-result memos (and any stopped
    * session's); rides [[graft.operators.CacheRegistry.clearSession]].
    */
  def clearDrainMemo(spark: SparkSession): Unit =
    drainMemo.keys.foreach { k =>
      if ((k._1 eq spark) || k._1.sparkContext.isStopped)
        drainMemo.remove(k)
    }

  /** Schema of events.parquet under Tables.readerConfs (ns columns as
    * Long, µs columns as TimestampType — both corpus generations).
    */
  private def eventsSchema(spark: SparkSession, dir: String): StructType =
    fileSchema(spark, s"$dir/events.parquet")

  /** Streaming source over the documents parquet file — the shared shape
    * of the three dedup streams (exact, chained, prefix), which each
    * repeated the readerConfs + batch-schema-read + glob-filter dance.
    */
  private def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(fileSchema(spark, s"$dir/documents.parquet"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Streaming source over the events parquet file(s). The ns-Long → µs
    * truncation applies only when the corpus actually shipped ns
    * timestamps (see [[Tables.events]]).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsSchema(spark, dir)
    val raw = spark.readStream
      .schema(schema)
      // FileStreamSource wants a directory; select just the events file
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
  }

  /** Watermarked hourly windowed aggregation — streaming twin of the batch
    * `events_hourly_window` query (same buckets, same aggregates).
    */
  def hourlyWindow(spark: SparkSession, dir: String): DataFrame =
    hourlyWindowOn(eventsStream(spark, dir))

  /** The hourly-window pipeline over any event stream carrying (ts,
    * event_type, value) — split from the source so the multi-batch replay
    * spec drives the SAME pipeline over a chunked copy of the corpus
    * (maxFilesPerTrigger=1), proving the watermark/state machinery holds
    * across micro-batch boundaries, not just on a single-batch drain.
    */
  private[graft] def hourlyWindowOn(src: DataFrame): DataFrame =
    src
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Event-time session windows (30-min gap) per user — the native
    * `session_window` operator, which merges events whose gaps are
    * STRICTLY under the gap duration (an event at exactly
    * lastEvent + gap starts a new session; the batch/oracle twin must
    * therefore flag a new session at diff >= gap, not >).
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur_us"),
        unix_micros(min(col("ts"))).as("start_us"))
      .select(col("user_id"), col("start_us"), col("n_events"), col("dur_us"))

  /** Streaming exact dedup — the stateful twin of the batch `dedup_exact`
    * operator: a documents stream with every row duplicated (planted exact
    * dups) deduped on the content fingerprint via
    * `dropDuplicatesWithinWatermark`, the production-shape variant whose
    * seen-set state is EVICTED once the watermark passes (an unbounded
    * `dropDuplicates` seen-set grows forever on a real feed). Event time
    * is synthesized from doc_id; both copies of a doc share it, so the
    * dedup is exact on the bounded drain while the state bound is the
    * 10-minute watermark window at scale (1 µs per doc_id — the window
    * covers same-key rows up to 6×10⁸ ids apart, see
    * [[dedupPrefixStream]]'s contract note). Dedup key is
    * (lang, fingerprint), and the emitted columns ARE the key: a
    * fingerprint-only key would make the surviving row's other columns
    * arrival-order-dependent whenever the same text occurs under two
    * languages (sf0.1 has such cross-language exact dups), leaking
    * nondeterminism into the result; keying on everything emitted makes
    * the survivor set exactly the batch-distinct relation.
    */
  def dedupExactStream(spark: SparkSession, dir: String): DataFrame =
    dedupExactOn(documentsStream(spark, dir)
      .withColumn("copy", explode(array(lit(0), lit(1)))))

  /** The watermarked exact-dedup core over any documents stream — split
    * from the source/dup-planting so the multi-batch replay spec can feed
    * the SAME pipeline a stream whose duplicate copies arrive in
    * DIFFERENT micro-batches (the production arrival shape the explode
    * twin can't produce), proving the seen-set state carries across
    * batch boundaries while within the watermark.
    */
  private[graft] def dedupExactOn(src: DataFrame): DataFrame =
    src
      .select(col("doc_id"), col("lang"), md5(lower(col("text"))).as("fingerprint"))
      .withColumn("event_ts",
        timestamp_micros(lit(1704067200000000L) + col("doc_id")))
      .withWatermark("event_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("lang", "fingerprint")
      .select(col("lang"), col("fingerprint"))

  /** Stream-static join — the enrichment shape streaming pipelines run
    * constantly: the event stream joins a STATIC dimension (customer
    * segments) executor-side per micro-batch; the static side is a plain
    * batch relation Spark broadcasts under the join, so the stream never
    * shuffles for the lookup. Aggregated per segment; the final state
    * must equal the batch join + aggregate the oracle computes.
    */
  def streamStaticSegments(spark: SparkSession, dir: String): DataFrame = {
    // through Tables.table so the dimension read applies readerConfs like
    // every other parquet read (customer has no timestamp columns today,
    // but the one-type-surface contract shouldn't depend on that)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    eventsStream(spark, dir)
      .select(col("user_id"), col("value"))
      .join(broadcast(dim), "user_id")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
  }

  /** Stream-stream interval join — the hardest streaming join shape: each
    * click joins the same user's purchases within the following 30
    * minutes, both sides unbounded streams with watermarks bounding the
    * buffered state (a click can be dropped once no purchase within its
    * window can still arrive). Raw joined pairs are emitted append-mode;
    * the caller aggregates the materialized sink, keeping ONE stateful
    * operator in the streaming plan.
    */
  /** The watermarked click×purchase interval join both stream-stream
    * shapes share: each click joined to the same user's purchases within
    * the following 30 minutes, both sides unbounded streams with 2-hour
    * watermarks bounding the buffered state.
    */
  private def clickPurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("interval 30 minutes"))
  }

  def streamStreamClickPurchase(spark: SparkSession, dir: String): DataFrame =
    clickPurchasePairs(spark, dir)
      .select(col("c_user").as("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("purchase_us"), col("p_value"))

  /** CHAINED stateful operators in one streaming plan — the stream-stream
    * interval join feeding an event-time windowed aggregate downstream in
    * the SAME query (two stateful operators; Spark's multi-stateful-
    * operator support): joined pairs aggregate per hourly click window,
    * Append mode. A window only emits once the global watermark — min
    * over both inputs of (max observed event time − 2 h) — passes its
    * end, so the drained result is the batch aggregate RESTRICTED to
    * closed windows; the still-open tail windows stay in state. That
    * watermark rule is deterministic over a bounded corpus, and the gate
    * oracle replays it exactly (measured: the rule reproduces the emitted
    * window set at all three SFs, with no extra join-interval delay on
    * the aggregate's watermark).
    */
  def streamStreamJoinAggChained(spark: SparkSession, dir: String): DataFrame =
    clickPurchasePairs(spark, dir)
      .groupBy(window(col("click_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_pairs"), round(sum("p_value"), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("bucket_us"),
        col("n_pairs"), col("sum_value"))

  /** CHAINED dedup → windowed aggregate — the second two-stateful-operator
    * shape (the first chains a join into an aggregate, see
    * [[streamStreamJoinAggChained]]): watermark-bounded exact dedup feeding
    * an event-time windowed count in the SAME plan, the
    * dedupe-then-measure pipeline run as one streaming query. Every doc
    * is planted twice (same content fingerprint, same event time);
    * event time is bucket-TRUNCATED (10 ms buckets, 1 ms per doc_id), and
    * the truncated bucket timestamp is both the dedup key's time scope
    * and the window column — so the dedup key (lang, fingerprint,
    * bucket_ts) is exactly what the aggregate counts, making the
    * surviving set (and therefore every bucket's count) deterministic
    * under arrival-order races: organic same-content docs collapse within
    * a bucket and survive across buckets. The 0-second watermark delay is
    * the bounded-drain idiom: the final watermark lands on the max bucket
    * timestamp, closing (and emitting, Append mode) every bucket but the
    * last — the same emission rule the chained-join query pins, replayed
    * by the oracle.
    */
  def dedupAggChainedStream(spark: SparkSession, dir: String): DataFrame = {
    documentsStream(spark, dir)
      .select(col("doc_id"), col("lang"), md5(lower(col("text"))).as("fingerprint"))
      .withColumn("copy", explode(array(lit(0), lit(1))))
      .withColumn("bucket_ts",
        timestamp_micros(lit(1704067200000000L) +
          (col("doc_id") - pmod(col("doc_id"), lit(10))) * 1000L))
      .withWatermark("bucket_ts", "0 seconds")
      .dropDuplicatesWithinWatermark("lang", "fingerprint", "bucket_ts")
      .groupBy(window(col("bucket_ts"), "10 milliseconds").as("w"), col("lang"))
      .agg(count(lit(1)).as("n_keys"))
      .select(unix_micros(col("w.start")).as("bucket_us"), col("lang"),
        col("n_keys"))
  }

  /** Streaming NEAR-dup collapse: watermark-bounded dedup keyed on the
    * 5-token opening shingle (the same near-dup key the batch
    * `pipeline_quality_dedup_sample` stage collapses on — the corpus'
    * planted near-dups share openings, so this genuinely merges
    * non-identical documents, unlike the exact-fingerprint twin above).
    * Only the KEY survives to output: dropDuplicates keeps the
    * first-arriving row per key and arrival order is racy under
    * parallelism, so emitting payload columns would be nondeterministic —
    * the final key set is what equals the batch DISTINCT.
    *
    * The 'final key set equals batch DISTINCT' contract requires every
    * duplicate key to land inside the dedup window: event time advances
    * 1 µs per doc_id against the 10-minute watermark, so the window
    * covers duplicate keys up to 6×10⁸ ids apart — the whole corpus at
    * any gate SF, and well past it under multi-batch replay. A corpus
    * beyond that id range sizes the watermark to its ingest horizon, as
    * production would; keys past the watermark are re-emitted by design
    * (that is what bounds the state).
    */
  def dedupPrefixStream(spark: SparkSession, dir: String): DataFrame = {
    documentsStream(spark, dir)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 5), " ").as("k"))
      .withColumn("event_ts",
        timestamp_micros(lit(1704067200000000L) + col("doc_id")))
      .withWatermark("event_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"))
  }

  final case class SessionOut(
      user_id: Long, start_us: Long, n_events: Long, dur_us: Long)
  // not private: the state Encoder's generated code needs public accessors
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Closed-session emission via flatMapGroupsWithState + event-time
    * timeouts — the custom-state API production sessionization uses when
    * the built-in session_window can't express the per-session payload:
    * per user, events merge into the open session while gaps stay ≤ 30
    * min (the SAME rule as the batch `events_sessionize`: a gap strictly
    * over 30 min starts a new session); a session is EMITTED when it
    * closes — either a later event of the same user opens the next
    * session (gap rule), or the event-time watermark passes the open
    * session's last event + 30 min (timeout rule; `hasTimedOut`
    * invocation with the state removed). State is one (start, last, n)
    * triple per user — O(users), not O(events) — and the timeout bound
    * means an idle user's state is dropped, which is what keeps the
    * operator alive on an unbounded feed.
    *
    * Determinism on the bounded drain: every non-final session closes by
    * the gap rule regardless of arrival; the final open session per user
    * emits iff its timeout timestamp (last+30min, in WATERMARK ms
    * precision) is strictly below the final watermark ms — the emission
    * rule the gate oracle replays (pinned empirically at all three SFs,
    * like the chained-stateful queries' window rule).
    */
  def closedSessions(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      // the watermark tag lives on the TIMESTAMP column — it must reach
      // the stateful operator un-projected; µs conversion happens in the
      // lambda instead
      .select(col("user_id").cast(LongType).as("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, raw: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.n, s.last - s.start))
          } else {
            // micro-batch iterators are arrival-ordered, not time-ordered;
            // a session pass needs event-time order. The sort is per
            // (user, batch) — bounded by the batch, never the corpus.
            val sorted = raw.map { case (_, t) =>
              val i = t.toInstant
              i.getEpochSecond * 1000000L + i.getNano / 1000L
            }.toArray.sorted
            var out = List.empty[SessionOut]
            var st = state.getOption.orNull
            sorted.foreach { t =>
              if (st == null) st = SessionState(t, t, 1)
              else if (t - st.last > gapUs) {
                out ::= SessionOut(user, st.start, st.n, st.last - st.start)
                st = SessionState(t, t, 1)
              } else {
                // min/max, NOT (start, t): the per-batch sort only orders
                // WITHIN a batch — a legal late event from a later batch
                // (above the watermark) can be older than the stored
                // last, and taking it as the new last would move the
                // session boundary BACKWARDS (even to a negative
                // duration), spuriously splitting on the next on-time
                // event. The batch oracle computes sessions as min/max
                // per gap-group; the merge must too.
                st = SessionState(math.min(st.start, t),
                  math.max(st.last, t), st.n + 1)
              }
            }
            state.update(st)
            // timeout is ms-precision (the watermark's unit)
            state.setTimeoutTimestamp(st.last / 1000L + gapUs / 1000L)
            out.reverseIterator
          }
      }
  }

  final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  /** Stateful per-user running totals via mapGroupsWithState — the custom-
    * state API the engine exposes for session-style processing. State is
    * per-key and O(1) per event; at scale it partitions by user_id.
    */
  def userTotals(spark: SparkSession, dir: String): Dataset[UserStat] = {
    import spark.implicits._
    eventsStream(spark, dir)
      .select(col("user_id").cast(LongType), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var v = v0
          rows.foreach { case (_, value) => n += 1; v += value }
          state.update((n, v))
          UserStat(user, n, v)
      }
  }

  final case class UpsertRow(
      doc_id: Long, final_version: Long, op: String, final_len: Long)

  /** Streaming latest-wins upsert view — the streaming twin of the batch
    * `corpus_upsert_latest` merge: a CDC feed arrives incrementally and
    * per-key state keeps the highest-version row seen so far, emitting
    * the current winner whenever a key is touched (Update mode). A later
    * upsert resurrects a tombstoned key exactly as the batch max_by
    * does; the consumer filters winners whose op is the tombstone. State
    * is one (version, op, len) triple per key — O(keys), the live-view
    * shape a CDC subscriber keeps indefinitely.
    *
    * The feed derives from the streamed documents with the SAME rules as
    * the batch entry (v1 snapshot, %7 rev2 at +5 chars, %13 tombstone,
    * %11 net-new at id+1e6), expanded per row as a columnar
    * filter(array(struct…)) → explode — no UDF, no second source.
    */
  def upsertLatestStream(spark: SparkSession, dir: String): Dataset[UpsertRow] =
    upsertLatestOn(spark, documentsStream(spark, dir))

  /** The upsert pipeline over any (doc_id, text) stream — split from the
    * source so the multi-batch replay spec can drive chunked arrivals
    * (a key's versions split across micro-batches must converge to the
    * same winner).
    */
  private[graft] def upsertLatestOn(
      spark: SparkSession, src: DataFrame): Dataset[UpsertRow] = {
    import spark.implicits._
    def ev(keep: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
        v: Long, op: String, len: org.apache.spark.sql.Column) =
      struct(keep.as("keep"), id.as("doc_id"), lit(v).as("version"),
        lit(op).as("op"), len.as("len"))
    val len = length(col("text")).cast(LongType)
    src
      .select(col("doc_id"), len.as("len"))
      .select(explode(filter(array(
        ev(lit(true), col("doc_id"), 1L, "U", col("len")),
        ev(col("doc_id") % 7 === 0, col("doc_id"), 2L, "U", col("len") + 5L),
        ev(col("doc_id") % 13 === 0, col("doc_id"), 3L, "D", lit(0L)),
        ev(col("doc_id") % 11 === 0, col("doc_id") + 1000000L, 1L, "U",
          col("len"))),
        x => x.getField("keep"))).as("r"))
      .select(col("r.doc_id"), col("r.version"), col("r.op"), col("r.len"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, String, Long)],
         state: GroupState[(Long, String, Long)]) =>
          var (v, op, ln) = state.getOption.getOrElse((Long.MinValue, "", 0L))
          rows.foreach { case (_, rv, rop, rlen) =>
            if (rv > v) { v = rv; op = rop; ln = rlen }
          }
          state.update((v, op, ln))
          UpsertRow(key, v, op, ln)
      }
  }

  /** Run a streaming query over the bounded file source to completion and
    * return the final result from the memory sink (test/verify harness
    * path). `Trigger.AvailableNow` drains the bounded source and terminates
    * — no idle polling. The stateful shuffle is capped at 2 partitions
    * (`graft.stream.statePartitions` overrides) for the duration of the
    * query: state-store partition count is fixed from this conf at query
    * start, and 32 state stores (each with its own checkpoint dir, commit,
    * and maintenance task) dominate wall-clock on a bounded single-file
    * stream. On a real cluster with a long-lived query this knob is sized
    * to state volume, not left at the batch default.
    */
  def runToMemory(
      df: DataFrame,
      name: String,
      mode: OutputMode = OutputMode.Update(),
      // no-data microbatches exist to advance the watermark and flush
      // watermark-gated state (append-mode window aggregates). Every other
      // shape here emits on arrival, so the extra empty batch per query is
      // pure harness tax (~0.3 s each, measured) — callers whose output IS
      // watermark-gated opt in.
      watermarkFlush: Boolean = false,
      // per-query state sizing, exactly as production would size a
      // long-lived query to its state volume: on a bounded drain each
      // state store pays its own checkpoint, commit, and maintenance
      // task, and that per-store tax beats parallelism at gate-scale
      // state — the round-8 stream-tuning sweep measured the heavy-3
      // family at 5.6 s with 1 state partition vs 6.1 s at 2/4, and
      // RocksDBStateStoreProvider at 7.1-8.1 s (native DB open/commit
      // per partition per batch is pure overhead when state is tiny;
      // RocksDB is the production pick only once state outgrows the
      // executor heap). `graft.stream.statePartitions` still overrides
      // globally for experiments.
      statePartitions: Int = 1): DataFrame =
    drainToMemory(df, name, mode, watermarkFlush, statePartitions)._1

  /** Drain a bounded stream into a DURABLE parquet FILE sink — the
    * exactly-once path a production pipeline lands on (the memory sink is
    * the harness path): the sink records committed files in the
    * `_spark_metadata` manifest and the read side trusts ONLY the
    * manifest, so a task retry's orphan file can never double-count. The
    * returned relation is the lazy read over the committed files; the
    * scratch dirs live on tmpfs and are deleted at JVM exit (the caller
    * consumes the read lazily, exactly like the interchange roundtrips).
    * File sinks are Append-only by definition.
    */
  def runToParquetSink(df: DataFrame, name: String): DataFrame =
    runToParquetSinkWithDir(df, name)._1

  /** Shared conf dance for the bounded drains. Streaming queries capture
    * session conf at `.start()`, so the shuffle-partition and
    * no-data-batch settings must be in place around it. The save/restore
    * on a SHARED session is not reentrant — two interleaved drains would
    * restore each other's saved values and leave the session degraded —
    * so a JVM-wide lock serializes drains (they are bounded harness
    * operations; a production query owns its session). Also raises the
    * progress retention: `recentProgress` is the data-batch counter and
    * its default cap (100) silently undercounts a >100-file chunked
    * replay.
    */
  private val drainLock = new Object
  private def withStreamConfs[A](
      spark: SparkSession, partitions: String, noData: Boolean)(
      body: => A): A = drainLock.synchronized {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    val prevProg =
      spark.conf.getOption("spark.sql.streaming.numRecentProgressUpdates")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noData.toString)
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.conf.getOption("graft.stream.statePartitions").getOrElse(partitions))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(k, x)
      case None => spark.conf.unset(k)
    }
    try body
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      restore("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      restore("spark.sql.streaming.numRecentProgressUpdates", prevProg)
    }
  }

  /** tmpfs-backed scratch dir when available (checkpoints/sinks of the
    * bounded drains are ephemeral; fsync through the disk costs more
    * than the queries they feed — production keeps durable storage).
    */
  private def scratchDir(prefix: String): java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, prefix).toFile
  }

  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  private[graft] def runToParquetSinkWithDir(
      df: DataFrame, name: String): (DataFrame, java.io.File) = {
    val spark = df.sparkSession
    val out = scratchDir(s"graft-sink-$name-")
    val ckpt = scratchDir(s"graft-sinkck-$name-")
    sys.addShutdownHook { rmTree(out); rmTree(ckpt) }
    withStreamConfs(spark, "1", noData = false) {
      val q = df.writeStream
        .outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (spark.read.schema(df.schema).parquet(out.getAbsolutePath), out)
  }

  /** [[runToMemory]] plus the number of DATA micro-batches the drain ran —
    * the replay spec asserts the chunked source really processed one batch
    * per file (state crossing real batch boundaries), not one big drain.
    */
  private[graft] def drainToMemory(
      df: DataFrame,
      name: String,
      mode: OutputMode = OutputMode.Update(),
      watermarkFlush: Boolean = false,
      statePartitions: Int = 1): (DataFrame, Int) = {
    val spark = df.sparkSession
    // The state store commits a checkpoint per partition per microbatch;
    // on a bounded drain that fsync-heavy I/O is pure overhead, so the
    // checkpoint lives on tmpfs when available (scratchDir). A long-lived
    // production query keeps its checkpoint on durable storage — this is
    // the run-to-completion harness path only.
    val ckpt = scratchDir(s"graft-ckpt-$name-")
    var dataBatches = 0
    try {
      withStreamConfs(spark, statePartitions.toString,
          noData = watermarkFlush) {
        val q = df.writeStream
          .outputMode(mode)
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        dataBatches = q.recentProgress.count(_.numInputRows > 0)
      }
    } finally rmTree(ckpt)
    (spark.table(name), dataBatches)
  }
}
