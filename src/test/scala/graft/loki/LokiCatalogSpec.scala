package graft.loki

import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sources.loki.LokiWrite
import graft.sources.loki.testkit.LokiStubServer

/** Pure-SQL access through the catalog plugin: SELECT with pushdown and
  * INSERT INTO VALUES with no temp view — the reference's
  * `ctx.sql(...)` entry points (README.md:24-38).
  */
class LokiCatalogSpec extends SparkTestBase with BeforeAndAfterAll {

  private val stub = new LokiStubServer

  override def beforeAll(): Unit = {
    stub.start()
    spark.conf.set("spark.sql.catalog.lokicat", "graft.sources.loki.LokiCatalog")
    spark.conf.set("spark.sql.catalog.lokicat.endpoint", stub.endpoint)
    spark.conf.set("spark.sql.catalog.lokicat.default_label", "app")
  }

  override def afterAll(): Unit = stub.stop()

  test("INSERT INTO catalog table via SQL (README.md:24)") {
    spark.sql(
      "INSERT INTO lokicat.default.loki VALUES " +
        "(current_timestamp(), map('app','cat-app'), 'catalog line')")
    assert(LokiWrite.lastCommittedRows(stub.endpoint) == 1L)
    assert(stub.ingested.exists(_.line == "catalog line"))
  }

  test("SELECT with label pushdown via SQL (README.md:30-38)") {
    val rows = spark.sql(
      "SELECT line FROM lokicat.default.loki " +
        "WHERE labels['app'] = 'cat-app' AND timestamp > timestamp'2020-01-01'")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("catalog line"))
    assert(stub.queries.last.startsWith("{app=\"cat-app\"}"))
  }

  test("readStream.table through the catalog tails the endpoint (round 12)") {
    // the MICRO_BATCH_READ capability makes catalog tables streamable
    // with zero extra wiring — the tail composes with the SQL-catalog
    // entry point exactly like a batch SELECT
    val base = 1704067200000000000L
    stub.seed((0 until 30).map(i =>
      stub.LogRow(base + i * 1000000000L, Map("app" -> "ct"), s"cat-$i")))
    // the stream window rides PER-READ options — newScanBuilder overlays
    // them on the catalog table's base config (round 12)
    val q = spark.readStream
      .option("stream_start_ns", base.toString)
      .option("stream_end_ns", (base + 3600L * 1000000000L).toString)
      .table("lokicat.default.loki")
      .filter(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.col("labels"), "app") === "ct")
      .select("line")
      .writeStream.format("memory").queryName("cat_tail")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cat_tail_ck").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("cat_tail").collect().map(_.getString(0)).toSet
    assert(got == (0 until 30).map(i => s"cat-$i").toSet, s"got ${got.size}")
    // per-read overrides reach BATCH catalog reads too: an explicit
    // window + partitions override against the same table
    val batch = spark.read
      .option("partitions", "4")
      .table("lokicat.default.loki")
      .filter(
        org.apache.spark.sql.functions.col("timestamp") >=
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.lit(base / 1000)) &&
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.col("labels"), "app") === "ct")
    assert(batch.rdd.getNumPartitions == 4,
      "per-read partitions override must reach the scan")
    assert(batch.count() == 30)
  }

  test("meta.labels / meta.label_values: SHOW-style discovery with label pushdown (round 13)") {
    val base = 1704067200000000000L
    stub.seed(Seq(
      stub.LogRow(base + 1, Map("app" -> "a1", "env" -> "prod"), "m1"),
      stub.LogRow(base + 2, Map("app" -> "a2", "env" -> "dev"), "m2"),
      stub.LogRow(base + 3, Map("app" -> "a1", "zone" -> "us"), "m3")))
    def windowed(table: String) = spark.read
      .option("start_ns", (base + 1).toString)
      .option("end_ns", (base + 4).toString)
      .table(table)
    val labels = windowed("lokicat.meta.labels")
      .collect().map(_.getString(0)).toSet
    assert(labels == Set("app", "env", "zone"))
    val values = windowed("lokicat.meta.label_values")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(values == Set(
      "app" -> "a1", "app" -> "a2",
      "env" -> "prod", "env" -> "dev", "zone" -> "us"))
    // `label = 'x'` is pushed: one /values request, no /labels round trip
    val one = windowed("lokicat.meta.label_values")
      .where(org.apache.spark.sql.functions.col("label") === "env")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(one == Set("env" -> "prod", "env" -> "dev"))
    // a selector narrows the census to matching streams (values API's
    // `query` param); per-read option overlay carries it
    val sel = spark.read
      .option("start_ns", (base + 1).toString)
      .option("end_ns", (base + 4).toString)
      .option("selector", """{env="prod"}""")
      .table("lokicat.meta.label_values")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sel == Set("app" -> "a1", "env" -> "prod"))
    // window honored: an empty window sees nothing
    val none = spark.read
      .option("start_ns", "1").option("end_ns", "2")
      .table("lokicat.meta.labels").count()
    assert(none == 0L)
    // SHOW TABLES surfaces the namespace's relations
    val shown = spark.sql("SHOW TABLES IN lokicat.meta")
      .collect().map(_.getString(1)).toSet
    assert(shown == Set(
      "labels", "label_values", "series", "volume", "volume_range",
      "patterns", "deletes"))
    // series: each stream's canonical selector, match[]-narrowed by the
    // selector option; pasteable straight back into a LogQL query
    val streams = spark.read
      .option("start_ns", (base + 1).toString)
      .option("end_ns", (base + 4).toString)
      .table("lokicat.meta.series")
      .collect().map(_.getString(0)).toSet
    assert(streams == Set(
      """{app="a1", env="prod"}""",
      """{app="a2", env="dev"}""",
      """{app="a1", zone="us"}"""), streams)
    val matched = spark.read
      .option("start_ns", (base + 1).toString)
      .option("end_ns", (base + 4).toString)
      .option("selector", """{app="a1"}""")
      .table("lokicat.meta.series")
      .collect().map(_.getString(0)).toSet
    assert(matched == Set(
      """{app="a1", env="prod"}""", """{app="a1", zone="us"}"""), matched)
  }

  test("meta.volume / meta.volume_range: capacity census and trend (round 13)") {
    // own time island, clear of every other test's seeds — the stub
    // accumulates across tests in this suite
    val dayNs = 86400L * 1000000000L
    val base = 1804067200L * 1000000000L // second-aligned: ts_s asserts below
    val baseS = base / 1000000000L
    stub.seed(Seq(
      stub.LogRow(base + 1, Map("zone" -> "z", "app" -> "big"), "0123456789"),
      stub.LogRow(base + 2, Map("zone" -> "z", "app" -> "big"), "x" * 30),
      stub.LogRow(base + dayNs + 5, Map("zone" -> "z", "app" -> "big"), "y" * 7),
      stub.LogRow(base + 3, Map("zone" -> "z", "app" -> "small"), "z" * 5),
      // carries NO app label: excluded under target_labels=app, but
      // counted in the full-series census
      stub.LogRow(base + 4, Map("zone" -> "z"), "w" * 100)))
    def volRead() = spark.read
      .option("start_ns", base.toString)
      .option("end_ns", (base + 2 * dayNs).toString)
      .option("selector", """{zone="z"}""")

    // per-label census: rows without the target label contribute nothing
    val byApp = volRead()
      .option("target_labels", "app")
      .table("lokicat.meta.volume")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(byApp == Set("""{app="big"}""" -> 47L, """{app="small"}""" -> 5L),
      byApp)
    // wire pin: the census was computed SERVER-side from one request
    // carrying the selector, the target labels and the window
    val req = stub.volumeRequests.synchronized(stub.volumeRequests.last)
    assert(req("query") == """{zone="z"}""" &&
      req("targetLabels") == "app" &&
      req("start") == base.toString, req)

    // full-series census (no targets): the label-set grouping, canonical
    // selector rendering — pasteable back into a `selector` option
    val bySeries = volRead()
      .table("lokicat.meta.volume")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(bySeries == Set(
      """{app="big", zone="z"}""" -> 47L,
      """{app="small", zone="z"}""" -> 5L,
      """{zone="z"}""" -> 100L), bySeries)

    // top-N by volume: limit=1 keeps the biggest stream only
    val top = volRead()
      .option("volume_limit", "1")
      .table("lokicat.meta.volume")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq("""{zone="z"}""" -> 100L), top)

    // aggregate_by=labels: grouped by label NAME, each row contributing
    // to every target name it carries
    val byName = volRead()
      .option("target_labels", "app,zone")
      .option("aggregate_by", "labels")
      .table("lokicat.meta.volume")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(byName == Set("""{app=""}""" -> 52L, """{zone=""}""" -> 152L),
      byName)

    // the trend: day buckets from start_ns, empty buckets omitted,
    // bucket starts in epoch seconds
    val trend = volRead()
      .option("target_labels", "app")
      .option("step_ns", dayNs.toString)
      .table("lokicat.meta.volume_range")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(trend == Set(
      ("""{app="big"}""", baseS, 40L),
      ("""{app="big"}""", baseS + 86400L, 7L),
      ("""{app="small"}""", baseS, 5L)), trend)
    // wire pin for the step param: a DURATION (seconds), like real Loki
    // parses — NOT epoch ns (start/end speak ns; step does not)
    val trendReq = stub.volumeRequests.synchronized(stub.volumeRequests.last)
    assert(trendReq("step") == "86400s", trendReq)

    // volume-only knobs are inert on other meta kinds: a malformed
    // step_ns left on a reused reader must not crash a labels read
    val inert = spark.read
      .option("start_ns", base.toString)
      .option("end_ns", (base + 2 * dayNs).toString)
      .option("step_ns", "not-a-number")
      .option("aggregate_by", "bogus")
      .table("lokicat.meta.labels")
      .collect().map(_.getString(0)).toSet
    assert(inert == Set("zone", "app"), inert)

    // contract errors surface at PLAN time, not as a server 400:
    // volume_range without a step; a sub-second step (the wire carries
    // second-precision sample timestamps); a selector-less census
    intercept[Exception] {
      volRead().table("lokicat.meta.volume_range").count()
    }
    intercept[Exception] {
      volRead().option("step_ns", "1500000000")
        .table("lokicat.meta.volume_range").count()
    }
    intercept[Exception] {
      spark.read
        .option("start_ns", base.toString)
        .option("end_ns", (base + 2 * dayNs).toString)
        .option("default_label", "") // drops the catalog's fallback
        .table("lokicat.meta.volume").count()
    }
  }

  test("meta.patterns: server-side Drain census ≡ the Spark-side mining (round 14)") {
    // own time island; two shapes — one with a genuinely varying
    // position (the `<_>` path) and one fully constant after masking
    val dayNs = 86400L * 1000000000L
    val base = 1904067200L * 1000000000L
    val baseS = base / 1000000000L
    val users = Seq("alice", "bob", "carol")
    stub.seed(
      users.zipWithIndex.map { case (u, i) =>
        stub.LogRow(base + i, Map("isle" -> "pat"), s"user $u logged in")
      } ++ Seq(
        stub.LogRow(base + 10, Map("isle" -> "pat"), "req id=17 status=OK"),
        stub.LogRow(base + dayNs + 1, Map("isle" -> "pat"),
          "req id=9423 status=OK"),
        // different selector: must be invisible under {isle="pat"}
        stub.LogRow(base + 11, Map("isle" -> "other"), "noise line")))
    def patRead() = spark.read
      .option("start_ns", base.toString)
      .option("end_ns", (base + 2 * dayNs).toString)
      .option("selector", """{isle="pat"}""")

    // unbucketed census: one bucket spanning the window, at start
    val census = patRead()
      .table("lokicat.meta.patterns")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(census == Set(
      ("user <_> logged in", baseS, 3L),
      ("req id=<num> status=OK", baseS, 2L)), census)

    // day buckets: counts split across buckets, empty buckets omitted
    val trend = patRead()
      .option("step_ns", dayNs.toString)
      .table("lokicat.meta.patterns")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(trend == Set(
      ("user <_> logged in", baseS, 3L),
      ("req id=<num> status=OK", baseS, 1L),
      ("req id=<num> status=OK", baseS + 86400L, 1L)), trend)

    // cross-check against the SPARK-side Drain mining on the same corpus
    // read back through the log scan — the two implementations (stub
    // serial fold with `<_>`, distributed position-aggregate census with
    // `<*>`) must detect identical templates with identical counts
    val lines = spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("selector", """{isle="pat"}""")
      .option("default_label", "isle")
      .load()
      .filter(
        org.apache.spark.sql.functions.col("timestamp") >=
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.lit(base / 1000L)) &&
        // the island is in the future relative to the scan's default
        // now-anchored window end — the bound must be explicit
        org.apache.spark.sql.functions.col("timestamp") <
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.lit((base + 2 * dayNs) / 1000L)))
      .select("line")
    val sparkSide = graft.operators.ConnectorOps.drainTemplates(lines)
      .collect()
      .map(r => (r.getString(0).replace("<*>", "<_>"), r.getLong(1))).toSet
    assert(sparkSide == census.map { case (p, _, c) => (p, c) }, sparkSide)

    // the endpoint requires a selector, like volume — plan-time error
    intercept[Exception] {
      spark.read
        .option("start_ns", base.toString)
        .option("end_ns", (base + dayNs).toString)
        .option("default_label", "")
        .table("lokicat.meta.patterns").count()
    }
  }

  test("meta.volume differential: random corpora match an independent census (round 13)") {
    // seeded-random corpora through the FULL stub→wire→decode→relation
    // path, compared against a census computed independently here (its
    // own grouping fold AND its own selector rendering — a shared bug
    // with the stub or the reader would hide behind either)
    val rnd = new scala.util.Random(20260816L)
    val dayNs = 86400L * 1000000000L
    val apps = Seq("a0", "a1", "a2")
    for (iter <- 0 until 4) {
      val isl = s"i$iter"
      // disjoint time island per iteration (the stub accumulates)
      val base = (1850000000L + iter * 1000000L) * 1000000000L
      val rows = (0 until 50).map { j =>
        val labels = Map("isl" -> isl) ++
          (if (rnd.nextBoolean()) Map("app" -> apps(rnd.nextInt(3)))
           else Map.empty) ++
          (if (rnd.nextInt(4) == 0) Map("env" -> s"e${rnd.nextInt(2)}")
           else Map.empty)
        stub.LogRow(
          base + rnd.nextInt(172000).toLong * 1000000000L + j, // unique ts
          labels, "x" * (1 + rnd.nextInt(20)))
      }
      stub.seed(rows)

      def render(kvs: Seq[(String, String)]): String =
        "{" + kvs.map { case (k, v) => s"""$k="$v"""" }.mkString(", ") + "}"
      def expectCensus(targets: Seq[String]): Map[String, Long] =
        rows.groupBy { r =>
          if (targets.isEmpty) r.labels.toSeq.sortBy(_._1)
          else targets.flatMap(t => r.labels.get(t).map(t -> _))
        }.collect { case (k, rs) if k.nonEmpty =>
          render(k) -> rs.map(_.line.length.toLong).sum
        }

      def read(targets: Seq[String]) = {
        val r = spark.read
          .option("start_ns", base.toString)
          .option("end_ns", (base + 2 * dayNs).toString)
          .option("selector", s"""{isl="$isl"}""")
          .option("volume_limit", "10000")
        (if (targets.isEmpty) r else r.option("target_labels", targets.mkString(",")))
          .table("lokicat.meta.volume")
          .collect().map(x => (x.getString(0), x.getLong(1))).toMap
      }

      assert(read(Nil) == expectCensus(Nil), s"full census, iter $iter")
      assert(read(Seq("app")) == expectCensus(Seq("app")), s"by app, iter $iter")
      assert(read(Seq("app", "env")) == expectCensus(Seq("app", "env")),
        s"by app+env, iter $iter")

      // the trend, same corpus: day buckets, independent bucket math
      val expTrend = rows.groupBy { r =>
        (r.labels.get("app").map("app" -> _).toSeq,
          (base + (r.tsNs - base) / dayNs * dayNs) / 1000000000L)
      }.collect { case ((k, tsS), rs) if k.nonEmpty =>
        (render(k), tsS) -> rs.map(_.line.length.toLong).sum
      }
      val gotTrend = spark.read
        .option("start_ns", base.toString)
        .option("end_ns", (base + 2 * dayNs).toString)
        .option("selector", s"""{isl="$isl"}""")
        .option("volume_limit", "10000")
        .option("target_labels", "app")
        .option("step_ns", dayNs.toString)
        .table("lokicat.meta.volume_range")
        .collect().map(x => ((x.getString(0), x.getLong(1)), x.getLong(2))).toMap
      assert(gotTrend == expTrend, s"trend, iter $iter")
    }
  }

  test("DDL is rejected; unknown table errors") {
    intercept[Exception] {
      spark.sql("CREATE TABLE lokicat.default.other (x INT)")
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM lokicat.default.nope").collect()
    }
  }

  test("unknown options fail through the catalog: base config and per-read") {
    // the IllegalArgumentException naming the key, however Spark wraps it
    def rejected(key: String)(body: => Any): Unit = {
      val t = intercept[Exception](body)
      val msg = Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e.getMessage }
      assert(msg.exists(m => m.contains(key) && m.contains("partitions")), t)
    }
    spark.conf.set("spark.sql.catalog.typocat", "graft.sources.loki.LokiCatalog")
    spark.conf.set("spark.sql.catalog.typocat.endpoint", stub.endpoint)
    spark.conf.set("spark.sql.catalog.typocat.default_label", "app")
    spark.conf.set("spark.sql.catalog.typocat.partiton", "4")
    rejected("partiton")(spark.sql("SELECT line FROM typocat.default.loki").collect())
    rejected("strict_bounds")(
      spark.read.option("strict_bounds", "false")
        .table("lokicat.default.loki").select("line").collect())
  }
}
