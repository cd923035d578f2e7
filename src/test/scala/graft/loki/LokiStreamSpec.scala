package graft.loki

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.sources.loki.testkit.LokiStubServer

/** Micro-batch tailing over the Loki source ([[graft.sources.loki
  * .LokiMicroBatchStream]]): bounded drains equal the batch scan,
  * checkpointed re-drains read ONLY the new offset window (incremental
  * tailing), the per-batch windows are disjoint, and the per-batch read
  * path is the same pushdown-bearing reader stack as batch (selector on
  * the wire, columnar decode).
  */
class LokiStreamSpec extends SparkTestBase {

  private val base = 1704067200000000000L // 2024-01-01 ns

  private def withStub(f: LokiStubServer => Unit): Unit = {
    val stub = new LokiStubServer
    stub.start()
    try f(stub) finally stub.stop()
  }

  private def streamDf(stub: LokiStubServer, opts: Map[String, String]): DataFrame = {
    val r = spark.readStream.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
      .option("stream_start_ns", base.toString)
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  private def drain(df: DataFrame, name: String, ckpt: String): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("bounded drain equals the batch scan (cap via stream_end_ns)") {
    withStub { stub =>
      stub.seed((0 until 300).map(i =>
        stub.LogRow(base + i * 1000000000L, Map("app" -> s"a${i % 2}"), s"r-$i")))
      val cap = base + 86400L * 1000000000L
      val streamed = drain(
        streamDf(stub, Map("stream_end_ns" -> cap.toString))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line")),
        "loki_tail_eq", tmp("loki_tail_ck"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val batch = spark.read.format("loki")
        .option("endpoint", stub.endpoint)
        .option("default_label", "app")
        .load()
        .filter(col("timestamp") >= timestamp_micros(lit(base / 1000)) &&
          col("timestamp") < timestamp_micros(lit(cap / 1000)))
        .select(unix_micros(col("timestamp")).as("ts_us"), col("line"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    }
  }

  test("structured_metadata drain projects metadata like the batch read") {
    // the micro-batch path builds its reader factory apart from the batch
    // scan; both must decode the fourth column, over entries with and
    // without metadata (empty map, so element_at yields NULL)
    withStub { stub =>
      stub.seed((0 until 120).map(i =>
        stub.LogRow(base + i * 1000000000L, Map("app" -> "m"), s"m-$i",
          if (i % 3 == 0) Map.empty[String, String] else Map("trace" -> s"t$i"))))
      val cap = base + 3600L * 1000000000L
      def project(df: DataFrame): DataFrame =
        df.select(col("line"), element_at(col("metadata"), "trace").as("trace"))
      val streamed = drain(
        project(streamDf(stub, Map(
          "stream_end_ns" -> cap.toString, "structured_metadata" -> "true"))),
        "loki_tail_meta", tmp("loki_tail_meta_ck"))
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).sortBy(_._1).toSeq
      val batch = project(spark.read.format("loki")
        .option("endpoint", stub.endpoint)
        .option("default_label", "app")
        .option("structured_metadata", "true")
        .load()
        .filter(col("timestamp") >= timestamp_micros(lit(base / 1000)) &&
          col("timestamp") < timestamp_micros(lit(cap / 1000))))
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).sortBy(_._1).toSeq
      val want = (0 until 120).map(i =>
        (s"m-$i", if (i % 3 == 0) None else Some(s"t$i"))).sortBy(_._1)
      assert(batch == want, s"batch read: ${batch.take(5)}")
      assert(streamed == want, s"stream=${streamed.size} batch=${batch.size}")
    }
  }

  test("checkpointed re-drain reads only the NEW window (incremental tail)") {
    withStub { stub =>
      // first generation: historical rows well in the past
      stub.seed((0 until 100).map(i =>
        stub.LogRow(base + i * 1000000000L, Map("app" -> "t"), s"old-$i")))
      val ckpt = tmp("loki_tail_incr_ck")
      val out = tmp("loki_tail_incr_out")
      // durable sink: the memory sink cannot recover from a checkpoint,
      // and recovery IS what this test exercises
      def drainToDir(): Set[String] = {
        val q = streamDf(stub, Map.empty).select("line")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(out).collect().map(_.getString(0)).toSet
      }
      val got1 = drainToDir()
      assert(got1 == (0 until 100).map(i => s"old-$i").toSet, s"got ${got1.size}")
      val reqs1 = stub.ranges.synchronized(stub.ranges.size)
      // new rows land at NOW-ish timestamps — inside the next drain's
      // window [prev latest offset, new latest offset)
      val nowNs = System.currentTimeMillis() * 1000000L
      stub.seed((0 until 50).map(i =>
        stub.LogRow(nowNs + i * 1000L, Map("app" -> "t"), s"new-$i")))
      val got2 = drainToDir()
      assert(got2 == got1 ++ (0 until 50).map(i => s"new-$i"),
        s"re-drain must append exactly the new rows (got ${got2.size})")
      // the second drain's windows must all start at/after the first
      // drain's committed offset — no historical re-read
      val newReqs = stub.ranges.synchronized(stub.ranges.drop(reqs1).toList)
      assert(newReqs.nonEmpty && newReqs.forall(_._2.exists(_ > base + 99L * 1000000000L)),
        s"re-drain re-read history: $newReqs")
      // a third drain with NOTHING new appends nothing
      assert(drainToDir() == got2, "empty-window drain must not duplicate rows")
    }
  }

  test("tail reads through the same pushdown-bearing reader stack as batch") {
    withStub { stub =>
      stub.seed((0 until 40).map(i =>
        stub.LogRow(base + i * 1000000000L,
          Map("app" -> (if (i % 2 == 0) "keep" else "drop")), s"r-$i")))
      val cap = base + 3600L * 1000000000L
      val q0 = stub.queries.synchronized(stub.queries.size)
      // filter on the label: the default-label selector reaches the wire
      // regardless; the row filter stays correct post-scan either way
      val got = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "partitions" -> "4",
          "query_limit" -> "8"))
          .filter(element_at(col("labels"), "app") === "keep")
          .select("line"),
        "loki_tail_push", tmp("loki_tail_push_ck"))
        .collect().map(_.getString(0)).toSet
      assert(got == (0 until 40 by 2).map(i => s"r-$i").toSet, s"got ${got.size}")
      val wire = stub.queries.synchronized(stub.queries.drop(q0).toList)
      // sliced (4 partitions) and paged (limit 8 over 10-row slices):
      // more than one request per slice, each carrying the selector
      assert(wire.size > 4, s"expected sliced+paged requests, saw ${wire.size}")
      assert(wire.forall(_.contains("app")), s"selector must reach the wire: $wire")
    }
  }

  test("tail composes with a stateful windowed aggregate (source + state)") {
    // the tailing source feeding Spark's stateful machinery — hourly
    // per-label counts under Complete mode must equal the batch
    // aggregate over the same window
    withStub { stub =>
      stub.seed((0 until 500).map(i =>
        stub.LogRow(base + i * 137L * 1000000000L % (86400L * 1000000000L),
          Map("app" -> s"a${i % 3}"), s"r-$i")))
      val cap = base + 86400L * 1000000000L
      val agg = streamDf(stub, Map("stream_end_ns" -> cap.toString))
        .groupBy(window(col("timestamp"), "1 hour").as("w"),
          element_at(col("labels"), "app").as("app"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("bucket_us"), col("app"), col("n"))
      val q = agg.writeStream
        .format("memory").queryName("loki_tail_agg")
        .option("checkpointLocation", tmp("loki_tail_agg_ck"))
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val streamed = spark.table("loki_tail_agg")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = spark.read.format("loki")
        .option("endpoint", stub.endpoint)
        .option("default_label", "app")
        .load()
        .filter(col("timestamp") >= timestamp_micros(lit(base / 1000)) &&
          col("timestamp") < timestamp_micros(lit(cap / 1000)))
        .groupBy(window(col("timestamp"), "1 hour").as("w"),
          element_at(col("labels"), "app").as("app"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")), col("app"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
    }
  }

  test("streaming write: loki-to-loki forwarding pipeline (at-least-once push sink)") {
    // the bidirectional streaming story: tail one endpoint, transform,
    // push to another — writeStream.format("loki") through the same
    // buffered per-task writer as the batch insert, epoch-committed
    withStub { src =>
      withStub { dst =>
        src.seed((0 until 120).map(i =>
          src.LogRow(base + i * 1000000000L,
            Map("app" -> (if (i % 3 == 0) "keep" else "drop")), s"fwd-$i")))
        val cap = base + 86400L * 1000000000L
        val q = streamDf(src, Map("stream_end_ns" -> cap.toString))
          .filter(element_at(col("labels"), "app") === "keep")
          .writeStream.format("loki")
          .option("endpoint", dst.endpoint)
          .option("checkpointLocation", tmp("loki_fwd_ck"))
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val want = (0 until 120 by 3).map(i => s"fwd-$i").toSet
        assert(dst.ingested.map(_.line).toSet == want,
          s"forwarded ${dst.ingested.size} rows")
        // epoch commit recorded the pushed total
        assert(graft.sources.loki.LokiWrite.lastCommittedRows(dst.endpoint)
          == want.size.toLong)
        // a non-log-schema write is rejected exactly like the batch path
        // (schema identity, insert.rs:44-46); streaming planning is
        // async, so the failure surfaces at awaitTermination
        val agg = streamDf(src, Map("stream_end_ns" -> cap.toString))
          .groupBy(element_at(col("labels"), "app").as("app"))
          .agg(count(lit(1)).as("n"))
        val e = intercept[Exception] {
          val bad = agg.writeStream.format("loki")
            .option("endpoint", dst.endpoint)
            .option("checkpointLocation", tmp("loki_fwd_bad_ck"))
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .start()
          bad.awaitTermination()
        }
        val msg = (e.getMessage + Option(e.getCause).fold("")(_.getMessage))
          .toLowerCase
        assert(msg.contains("schema") || msg.contains("complete") ||
          msg.contains("truncate"), e.getMessage)
      }
    }
  }

  test("max_rows_per_batch shapes a backfill into bounded batches (admission control)") {
    // a tail recovering from a long outage reads the whole missed window;
    // with the cap, Trigger.AvailableNow drains it in ~ceil(total/cap)
    // batches whose end offsets are placed by index/stats bisection —
    // the relation stays complete and duplicate-free
    withStub { stub =>
      stub.seed((0 until 600).map(i =>
        stub.LogRow(base + i * 1000000000L, Map("app" -> "b"), s"bf-$i")))
      val cap = base + 86400L * 1000000000L
      val stats0 = stub.statsCalls.get()
      val q = streamDf(stub, Map(
        "stream_end_ns" -> cap.toString,
        "max_rows_per_batch" -> "150"))
        .select("line")
        .writeStream.format("memory").queryName("loki_tail_shaped")
        .option("checkpointLocation", tmp("loki_tail_shaped_ck"))
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("loki_tail_shaped")
        .collect().map(_.getString(0)).toSet
      assert(got == (0 until 600).map(i => s"bf-$i").toSet,
        s"shaped backfill must stay complete (got ${got.size})")
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 4,
        s"600 rows / cap 150 must take >= 4 batches, took $dataBatches")
      val maxBatch = q.recentProgress.map(_.numInputRows).max
      // stats bisection is approximate (ns granularity), but a batch
      // should stay in the cap's neighborhood, not swallow the window
      assert(maxBatch <= 300,
        s"batches must stay near the 150-row cap, saw $maxBatch")
      assert(stub.statsCalls.get() > stats0,
        "shaping must have probed index/stats")
    }
  }

  test("admission control sweep: random burst profiles stay complete under any cap") {
    // adversarial shapes for the bisection: clustered bursts (many rows
    // on one ns), sparse tails, caps smaller than a burst (overshoot
    // allowed, progress required), caps larger than the corpus (one
    // batch). Deterministic seeds — failures reproduce.
    val rnd = new scala.util.Random(12)
    for (case_ <- 0 until 3) {
      withStub { stub =>
        val clusters = 1 + rnd.nextInt(4)
        val rows = (0 until clusters).flatMap { c =>
          val at = base + c * 3600L * 1000000000L + rnd.nextInt(1000) * 1000000L
          (0 until 20 + rnd.nextInt(120)).map(i =>
            stub.LogRow(at + (if (rnd.nextBoolean()) 0L else i * 1000L),
              Map("app" -> "s"), s"c$c-$i"))
        }
        stub.seed(rows)
        val cap = 10 + rnd.nextInt(200)
        val q = streamDf(stub, Map(
          "stream_end_ns" -> (base + 86400L * 1000000000L).toString,
          "max_rows_per_batch" -> cap.toString))
          .select("line")
          .writeStream.format("memory").queryName(s"loki_acsweep_$case_")
          .option("checkpointLocation", tmp(s"loki_acsweep_ck$case_"))
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val got = spark.table(s"loki_acsweep_$case_")
          .collect().map(_.getString(0)).toSeq
        assert(got.sorted == rows.map(_.line).sorted,
          s"case $case_ cap=$cap: ${got.size} vs ${rows.size} " +
            "(shaped drain lost or duplicated rows)")
      }
    }
  }

  test("max_bytes_per_batch shapes a bursty backfill by BYTES (composes with max_rows)") {
    // bursty line sizes: rows are a poor work proxy when one hour's lines
    // are 100× another's — the byte cap bounds actual transfer/decode.
    // First 200 rows are ~10 B, last 200 are ~1000 B; a 40 kB byte cap
    // must slice the fat region into many more batches than the thin one.
    withStub { stub =>
      val thin = (0 until 200).map(i =>
        stub.LogRow(base + i * 1000000000L, Map("app" -> "y"), s"t-$i"))
      val fat = (0 until 200).map(i =>
        stub.LogRow(base + (1000L + i) * 1000000000L, Map("app" -> "y"),
          s"f-$i-" + ("x" * 1000)))
      stub.seed(thin ++ fat)
      val cap = base + 86400L * 1000000000L
      val q = streamDf(stub, Map(
        "stream_end_ns" -> cap.toString,
        "max_bytes_per_batch" -> "40000",
        // a row cap too loose to bind: proves composition picks the
        // TIGHTER of the two caps per region
        "max_rows_per_batch" -> "100000"))
        .select("line")
        .writeStream.format("memory").queryName("loki_tail_bytes")
        .option("checkpointLocation", tmp("loki_tail_bytes_ck"))
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("loki_tail_bytes")
        .collect().map(_.getString(0)).toSet
      assert(got == (thin ++ fat).map(_.line).toSet,
        s"byte-shaped backfill must stay complete (got ${got.size})")
      // fat region ~200 kB / 40 kB cap → ≥ 4 data batches overall; and no
      // batch may hold more than ~2 caps of bytes (single-step overshoot
      // tolerance) — the thin region (~2 kB total) legally fits in one
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      assert(progress.length >= 4,
        s"~202 kB / 40 kB cap must take >= 4 batches, took ${progress.length}")
      val rowsByLine = (thin ++ fat).map(r => r.line -> r.line.length.toLong).toMap
      // reconstruct per-batch byte sums from the wire windows
      val windows = stub.ranges.synchronized(stub.ranges.toList)
        .collect { case (_, Some(s0), Some(e0)) => (s0, e0) }.distinct
      val all = thin ++ fat
      val batchBytes = windows.map { case (s0, e0) =>
        all.filter(r => r.tsNs >= s0 && r.tsNs < e0).map(_.line.length.toLong).sum
      }.filter(_ > 0)
      assert(batchBytes.forall(_ <= 80000L),
        s"a batch exceeded 2x the byte cap: ${batchBytes.max}")
      assert(rowsByLine.nonEmpty) // silence unused in case of refactor
    }
  }

  test("min_rows_per_batch: live tail holds below the minimum, AvailableNow never strands the sliver") {
    import graft.sources.loki.{LokiOffset, LokiScan, LokiTable, LokiOptions}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    withStub { stub =>
      stub.seed((0 until 5).map(i =>
        stub.LogRow(base + i * 1000000000L, Map("app" -> "m"), s"mr-$i")))
      def stream(minRows: Long, delayMs: Long) = {
        val opts = LokiOptions.from(Map(
          "endpoint" -> stub.endpoint, "default_label" -> "app",
          "check_connection" -> "false",
          "stream_start_ns" -> base.toString,
          "min_rows_per_batch" -> minRows.toString,
          "min_batch_delay_ms" -> delayMs.toString))
        LokiTable(opts)
          .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap()))
          .build().asInstanceOf[LokiScan]
          .toMicroBatchStream("unused")
          .asInstanceOf[graft.sources.loki.LokiMicroBatchStream]
      }
      // live tail (no AvailableNow pin): 5 rows < min 10 and the delay is
      // young → the offset HOLDS at start
      val live = stream(10, 3600000L)
      val s0 = live.initialOffset()
      val held = live.latestOffset(s0, live.getDefaultReadLimit)
      assert(held.asInstanceOf[LokiOffset].ns == s0.asInstanceOf[LokiOffset].ns,
        "a live tail below min_rows must hold the offset")
      // delay exceeded (0 ms): the batch is forced through
      val forced = stream(10, 0L)
      val f = forced.latestOffset(s0, forced.getDefaultReadLimit)
      assert(f.asInstanceOf[LokiOffset].ns > s0.asInstanceOf[LokiOffset].ns,
        "past min_batch_delay_ms the batch must trigger regardless")
      // AvailableNow: the pin disables the hold — the final sliver drains
      val drain = stream(1000, 3600000L)
      drain.prepareForTriggerAvailableNow()
      val d = drain.latestOffset(s0, drain.getDefaultReadLimit)
      assert(d.asInstanceOf[LokiOffset].ns > s0.asInstanceOf[LokiOffset].ns,
        "AvailableNow must never strand rows below min_rows")
      // and the composite default limit carries the min-rows piece
      assert(drain.getDefaultReadLimit.isInstanceOf[ReadLimit])
    }
  }

  test("offset json roundtrips and empty windows plan zero partitions") {
    import graft.sources.loki.LokiOffset
    val off = LokiOffset(1704067200000000123L)
    assert(off.json == "1704067200000000123")
    withStub { stub =>
      stub.seed(Seq(stub.LogRow(base, Map("app" -> "x"), "one")))
      // stream_end_ns == stream_start_ns → empty window → drains nothing
      val got = drain(
        streamDf(stub, Map("stream_end_ns" -> base.toString)).select("line"),
        "loki_tail_empty", tmp("loki_tail_empty_ck"))
      assert(got.isEmpty, "empty window must produce no rows")
    }
  }

  test("selector option pushes label+line filters into the tail's wire queries") {
    // Spark applies no DSv2 filter pushdown to micro-batch scans, so the
    // explicit `selector` option is the ONLY way a tail avoids reading
    // the full firehose. Prove both halves: (a) every query_range the
    // stub served carried the selector — only matching streams crossed
    // the wire; (b) the drained rows equal the batch-filtered result.
    withStub { stub =>
      stub.seed((0 until 240).map { i =>
        val app = if (i % 3 == 0) "api" else if (i % 3 == 1) "web" else "db"
        val line = if (i % 2 == 0) s"error code=$i" else s"ok code=$i"
        stub.LogRow(base + i * 1000000000L, Map("app" -> app), line)
      })
      val cap = base + 86400L * 1000000000L
      stub.queries.synchronized(stub.queries.clear())
      val got = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> """{app="api"} |= "error"""",
          // shape the drain into several batches so the selector is
          // proven on EVERY batch's wire query, not just one
          "max_rows_per_batch" -> "16"))
          .select(unix_micros(col("timestamp")).as("ts_us"), col("line")),
        "loki_tail_sel", tmp("loki_tail_sel_ck"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val want = (0 until 240 by 6)
        .map(i => ((base / 1000) + i * 1000000L, s"error code=$i")).sorted
      assert(got == want, s"${got.size} rows vs ${want.size} expected")
      val wire = stub.queries.synchronized(stub.queries.toSeq)
      assert(wire.nonEmpty)
      assert(wire.forall(_ == """{app="api"} |= `error`"""),
        s"unexpected wire queries: ${wire.distinct}")
    }
  }

  test("| keep exempts __error__; | drop removes it; value-qualified drop") {
    withStub { stub =>
      stub.seed((0 until 40).map { i =>
        val line =
          if (i % 2 == 0) s"""{"code": $i}""" else s"""{"code": x$i"""
        stub.LogRow(base + i * 1000000000L,
          Map("app" -> (if (i % 4 < 2) "api" else "web"), "env" -> "prod"),
          line)
      })
      val cap = base + 3600L * 1000000000L
      // (a) keep app: env drops from the returned set (size 1), but
      // __error__ SURVIVES the keep (grafana/loki special-label
      // exemption) — the downstream filter selects exactly the
      // malformed-JSON rows
      val kept = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> ("""{app="api"} | json | keep app """ +
            """| __error__="JSONParserErr""""))),
        "loki_tail_keep_err", tmp("loki_keep_err_ck"))
        .select(col("line"), size(col("labels")).as("n"))
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(kept.nonEmpty &&
        kept.forall { case (l, n) => l.contains(": x") && n == 1 }, kept)
      // (b) an explicit `drop __error__` is the documented
      // ignore-parse-errors idiom: after it, `__error__=""` passes ALL
      // api rows — malformed included
      val cleared = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> ("""{app="api"} | json | drop __error__ """ +
            "| __error__=\"\""))),
        "loki_tail_drop_err", tmp("loki_drop_err_ck"))
        .collect()
      assert(cleared.length == 20, s"${cleared.length}")
      // (c) value-qualified drop: `drop app="api"` strips the label from
      // api streams only — web rows keep theirs
      val vq = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> """{env="prod"} | drop app="api"""")),
        "loki_tail_drop_vq", tmp("loki_drop_vq_ck"))
        .select(element_at(col("labels"), "app").as("app"))
        .collect().map(r => Option(r.getString(0))).toSeq
      assert(vq.count(_.isEmpty) == 20 && vq.count(_.contains("web")) == 20,
        vq.groupBy(identity).view.mapValues(_.size).toMap)
    }
  }

  test("| decolorize strips ANSI codes; downstream stages see the CURRENT line") {
    withStub { stub =>
      // color codes SPLIT the word "error" in the raw bytes, so a plain
      // |= `error` matches only AFTER decolorize rewrites the line —
      // this pins both the stage and the current-line pipeline model
      stub.seed((0 until 30).map { i =>
        val line =
          if (i % 3 == 0) s"\u001b[31mer\u001b[0mror code=$i"
          else s"ok code=$i"
        stub.LogRow(base + i * 1000000000L, Map("app" -> "api"), line)
      })
      val cap = base + 3600L * 1000000000L
      val got = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> """{app="api"} | decolorize |= "error"""")),
        "loki_tail_decolor", tmp("loki_decolor_ck"))
        .collect().map(_.getString(2)).sorted.toSeq
      assert(got == (0 until 30 by 3).map(i => s"error code=$i").sorted,
        s"${got.take(3)}… (${got.size} rows)")
      // …and a filter AFTER line_format reads the FORMATTED line (the
      // current-line model, not the raw bytes)
      val fmt = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> ("""{app="api"} | decolorize | logfmt c="code" """ +
            """| line_format "id={{.c}}" |= "id=2""""))),
        "loki_tail_fmt_filter", tmp("loki_fmt_filter_ck"))
        .collect().map(_.getString(2)).sorted.toSeq
      assert(fmt == Seq("id=2", "id=20", "id=21", "id=22", "id=23", "id=24",
        "id=25", "id=26", "id=27", "id=28", "id=29"),
        s"$fmt")
    }
  }

  test("ip() filters on a tail: label form and line form") {
    withStub { stub =>
      stub.seed((0 until 32).map { i =>
        stub.LogRow(base + i * 1000000000L,
          Map("app" -> "api", "addr" -> s"10.0.0.$i"),
          s"conn from 10.1.0.$i ok")
      })
      val cap = base + 3600L * 1000000000L
      // label form: the addr STREAM label as a whole-value IPv4 range
      val byLabel = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> """{app="api"} | addr=ip("10.0.0.8-10.0.0.15")""")),
        "loki_tail_ip_label", tmp("loki_ip_label_ck"))
        .collect().map(r => r.getString(2)).sorted.toSeq
      assert(byLabel == (8 to 15).map(i => s"conn from 10.1.0.$i ok").sorted,
        s"$byLabel")
      // line form: CIDR over IPs IN the line, minus a single exclusion
      val byLine = drain(
        streamDf(stub, Map(
          "stream_end_ns" -> cap.toString,
          "selector" -> ("""{app="api"} |= ip("10.1.0.0/28") """ +
            """!= ip("10.1.0.3")"""))),
        "loki_tail_ip_line", tmp("loki_ip_line_ck"))
        .collect().map(r => r.getString(2)).sorted.toSeq
      assert(byLine == (0 until 16).filter(_ != 3)
        .map(i => s"conn from 10.1.0.$i ok").sorted, s"$byLine")
    }
  }

  test("selector option composes with stream window and survives checkpointed re-drain") {
    withStub { stub =>
      stub.seed((0 until 100).map(i =>
        stub.LogRow(base + i * 1000000000L,
          Map("app" -> (if (i % 2 == 0) "keep" else "drop")), s"s-$i")))
      val mid = base + 50L * 1000000000L
      val ck = tmp("loki_tail_sel2_ck")
      val out = tmp("loki_tail_sel2_out")
      // durable sink: memory cannot recover from a checkpoint, and the
      // second drain must resume from the first's committed offset
      def drainTo(capNs: Long): Set[String] = {
        val q = streamDf(stub, Map(
          "stream_end_ns" -> capNs.toString,
          "selector" -> """{app="keep"}"""))
          .select("line")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(out).collect().map(_.getString(0)).toSet
      }
      assert(drainTo(mid) == (0 until 50 by 2).map(i => s"s-$i").toSet)
      // extend the cap; the re-drain reads ONLY [mid, cap) — still selected
      assert(drainTo(base + 100L * 1000000000L) ==
        (0 until 100 by 2).map(i => s"s-$i").toSet,
        "re-drain must append only the new window, still selector-filtered")
    }
  }

  test("streaming write commit is idempotent per epoch (replay between sink commit and offset log)") {
    // If the driver fails AFTER the sink commit but BEFORE the offset-log
    // write, Spark replays the epoch: commit(epochId, ...) runs again with
    // the same id. The counter must not double-count (the server-side
    // ingest dedup already collapses the re-pushed rows themselves).
    import graft.sources.loki.{LokiCommitMessage, LokiOptions, LokiStreamingWrite, LokiWrite}
    val ep = "http://127.0.0.1:1/idempotent-epoch-test"
    val w = LokiStreamingWrite(LokiOptions.from(Map("endpoint" -> ep)))
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(LokiCommitMessage(5L), LokiCommitMessage(7L))
    w.commit(0L, msgs)
    assert(LokiWrite.lastCommittedRows(ep.stripSuffix("/")) == 12L)
    w.commit(0L, msgs) // replayed epoch — same id, same rows
    assert(LokiWrite.lastCommittedRows(ep.stripSuffix("/")) == 12L,
      "a replayed epoch must not double-count")
    w.commit(1L, Array(LokiCommitMessage(3L)))
    assert(LokiWrite.lastCommittedRows(ep.stripSuffix("/")) == 15L)
  }
}
