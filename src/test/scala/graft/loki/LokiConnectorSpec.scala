package graft.loki

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sources.loki.{LokiDataSource, LokiWrite}
import graft.sources.loki.testkit.LokiStubServer

/** Replicates the reference's integration suite
  * (`integration-tests/tests/table.rs`) against the in-process stub:
  * full scan / projection / label / line / timestamp filters, insert
  * roundtrip with count, plan serialization, schema identity — plus the
  * golden normalizations of `integration-tests/src/utils.rs:40-171`
  * (sorted map keys, row sort by timestamp, timestamp dropped).
  */
class LokiConnectorSpec extends SparkTestBase with BeforeAndAfterAll {
  import spark.implicits._

  private val stub = new LokiStubServer

  override def beforeAll(): Unit = {
    stub.start()
    // seed rows via SQL INSERT, mirroring integration-tests/testdata/init.sql
    lokiDf().createOrReplaceTempView("loki")
    spark.sql(
      "INSERT INTO loki VALUES " +
        "(current_timestamp(), map('app','my-app1'), 'this is aaa log')," +
        "(current_timestamp(), map('app','my-app2'), 'this is bbb log')")
  }

  override def afterAll(): Unit = stub.stop()

  private def lokiDf(): DataFrame =
    spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
      .load()

  /** Golden normalization: sorted labels rendered k=v, timestamp dropped,
    * rows sorted.
    */
  private def golden(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      val labels = r.getAs[Map[String, String]]("labels")
      val ls = labels.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
      s"{$ls} ${r.getAs[String]("line")}"
    }.sorted

  /** (line, labels, metadata) per row, sorted by line — the relation a
    * `structured_metadata=true` scan must return for seeded rows.
    */
  private def relation(df: DataFrame): Seq[(String, Map[String, String], Map[String, String])] =
    df.select("line", "labels", "metadata").collect().toSeq.map { r =>
      (r.getString(0), r.getMap[String, String](1).toMap,
        r.getMap[String, String](2).toMap)
    }.sortBy(_._1)

  test("unknown options fail at load, naming the key and the valid keys") {
    // a typo and two removed options: each was once accepted and ignored
    for (key <- Seq("partiton", "escape_logql", "strict_bounds")) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("loki")
          .option("endpoint", stub.endpoint)
          .option("default_label", "app")
          .option(key, "4")
          .load()
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("partitions"),
        e.getMessage)
    }
  }

  test("every scan shape decodes columnar, structured metadata included") {
    // the reference streams Arrow batches end-to-end (scan.rs:200-213);
    // the single-request and paged shapes both decode wire parquet
    // straight into column vectors, with or without the metadata column,
    // so their plans must carry the ColumnarToRow transition
    def plan(opts: Map[String, String]): String = {
      val r = spark.read.format("loki")
        .option("endpoint", stub.endpoint)
        .option("default_label", "app")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load().queryExecution.executedPlan.toString
    }
    for (opts <- Seq(Map.empty[String, String],
        Map("query_limit" -> "100"),
        Map("structured_metadata" -> "true"),
        Map("structured_metadata" -> "true", "query_limit" -> "100"))) {
      val p = plan(opts)
      assert(p.contains("ColumnarToRow"), s"opts=$opts must scan columnar:\n$p")
    }
    val want = Seq(
      "{app=my-app1,detected_level=unknown,service_name=my-app1} this is aaa log",
      "{app=my-app2,detected_level=unknown,service_name=my-app2} this is bbb log")
    assert(golden(lokiDf()) == want)
  }

  test("both decode paths are complete across multiple wire row groups") {
    // real Loki responses to big windows span several parquet row groups;
    // the default test stub writes ONE, leaving the reader's row-group
    // advance unexercised. Force tiny row groups and drain a 5k-row
    // response through the single-request and paged (query_limit) shapes
    // — both must return the corpus exactly once, label and metadata
    // maps intact across group and page boundaries.
    val rgStub = new LokiStubServer
    rgStub.start()
    rgStub.rowGroupBytes = 8 * 1024 // ~dozens of rows per group
    try {
      val base = 1704067200000000000L
      // every third row carries no metadata (the classic-entry shape)
      val seeded = (0 until 5000).map(i =>
        rgStub.LogRow(base + i * 1000000000L,
          Map("app" -> "rg", "pod" -> s"p${i % 7}"), s"row-$i",
          if (i % 3 == 0) Map.empty[String, String]
          else Map("trace" -> s"t$i", "span" -> s"s${i % 5}")))
      rgStub.seed(seeded)
      def scan(opts: Map[String, String]) = {
        val r = spark.read.format("loki")
          .option("endpoint", rgStub.endpoint)
          .option("default_label", "app")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
      }
      val expected = seeded.map(r => (r.line, r.labels, r.metadata)).sortBy(_._1)
      for (shape <- Seq(Map.empty[String, String], Map("query_limit" -> "700"))) {
        val lines = scan(shape).select("line").collect().map(_.getString(0))
          .sorted.toSeq
        assert(lines == expected.map(_._1).sorted,
          s"opts=$shape dropped/duplicated rows")
        val got = relation(scan(shape + ("structured_metadata" -> "true")))
        assert(got == expected, s"opts=$shape: maps differ across row groups")
      }
    } finally rgStub.stop()
  }

  test("wire parquet conformance matrix: codecs x dictionary x page version, all reader paths") {
    // a real `frontend.support_parquet_encoding` Loki picks its own
    // compression codec, dictionary policy, and data-page version; the
    // reader must accept the whole matrix (the reference inherits the
    // same contract from ParquetRecordBatchStreamBuilder,
    // scan.rs:200-213). Every combination drains through both read
    // shapes — single request and query_limit paged — over a
    // multi-row-group response, against the same golden relation,
    // label and metadata maps included.
    import org.apache.parquet.hadoop.metadata.CompressionCodecName._
    val mStub = new LokiStubServer
    mStub.start()
    mStub.rowGroupBytes = 4 * 1024 // force several row groups per page
    try {
      val base = 1704067200000000000L
      // every fourth row carries no metadata (the classic-entry shape)
      val seeded = (0 until 800).map(i =>
        mStub.LogRow(base + i * 1000000000L,
          Map("app" -> s"a${i % 3}", "k" -> "v"), s"row-$i",
          if (i % 4 == 0) Map.empty[String, String]
          else Map("trace" -> s"t${i % 9}")))
      val expected = seeded.map(r => (r.line, r.labels, r.metadata)).sortBy(_._1)
      def scan(opts: Map[String, String]) = {
        val r = spark.read.format("loki")
          .option("endpoint", mStub.endpoint)
          .option("default_label", "app")
          .option("structured_metadata", "true")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
      }
      for {
        codec <- Seq(UNCOMPRESSED, SNAPPY, ZSTD, GZIP)
        dict <- Seq(true, false)
        v2 <- Seq(false, true)
      } {
        mStub.wireCodec = codec
        mStub.wireDictionary = dict
        mStub.wireV2Pages = v2
        mStub.clear()
        mStub.seed(seeded)
        val tag = s"codec=$codec dict=$dict v2=$v2"
        // the last leg decodes compressed pages in four tasks at once,
        // all through the reader's one shared parquet configuration
        for (opts <- Seq(Map.empty[String, String], Map("query_limit" -> "150"),
            Map("query_limit" -> "150", "partitions" -> "4"))) {
          val got = relation(scan(opts))
          assert(got == expected, s"$tag opts=$opts: ${got.size} rows")
        }
      }
    } finally mStub.stop()
  }

  test("a paged scan reports its pages, wire bytes and decode time as task metrics") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val mStub = new LokiStubServer
    mStub.start()
    try {
      val base = 1704067200000000000L
      mStub.seed((0 until 250).map(i =>
        mStub.LogRow(base + i * 1000000000L, Map("app" -> "m"), s"m-$i")))
      val df = spark.read.format("loki")
        .option("endpoint", mStub.endpoint)
        .option("default_label", "app")
        .option("query_limit", "100")
        .load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
      val before = mStub.queries.synchronized(mStub.queries.size)
      assert(df.collect().length == 250)
      val requests = mStub.queries.synchronized(mStub.queries.size) - before
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val metrics = plan.collectFirst { case b: BatchScanExec => b.metrics }.get
      assert(requests >= 3, s"$requests requests for 250 rows in pages of 100")
      assert(metrics("loki_pages").value == requests)
      assert(metrics("loki_wire_bytes").value > 0)
      assert(metrics.contains("loki_decode_ms"))
      // that scan was read on the driver; with partitions=2 the same
      // counters come from two tasks
      assert(plan.isInstanceOf[graft.plans.LokiLocalExec], plan.toString)
      val df2 = spark.read.format("loki")
        .option("endpoint", mStub.endpoint)
        .option("default_label", "app")
        .option("query_limit", "100")
        .option("partitions", "2")
        .load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
      val before2 = mStub.queries.synchronized(mStub.queries.size)
      assert(df2.collect().length == 250)
      val requests2 = mStub.queries.synchronized(mStub.queries.size) - before2
      val plan2 = df2.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan2.collectFirst { case l: graft.plans.LokiLocalExec => l }.isEmpty,
        plan2.toString)
      val metrics2 = plan2.collectFirst { case b: BatchScanExec => b.metrics }.get
      assert(requests2 >= 4, s"$requests2 requests for two slices in pages of 100")
      assert(metrics2("loki_pages").value == requests2)
      assert(metrics2("loki_wire_bytes").value > 0)
    } finally mStub.stop()
  }

  test("the silent-truncation trap is REAL and query_limit closes it (round 12)") {
    // against a server with max_entries_limit: (a) the reference-parity
    // unlimited request is SILENTLY truncated at the server default —
    // wrong row count, no error; (b) query_limit pages to completeness;
    // (c) an explicit over-cap limit is rejected with 400 by the server,
    // and our planning-time require fails before ever sending it.
    val tStub = new LokiStubServer
    tStub.start()
    try {
      val base = 1704067200000000000L
      tStub.seed((0 until 250).map(i =>
        tStub.LogRow(base + i * 1000000000L, Map("app" -> "t"), s"t-$i")))
      tStub.serverDefaultLimit = 100
      tStub.rejectOverLimit = 100
      def scan(opts: Map[String, String]) = {
        val r = spark.read.format("loki")
          .option("endpoint", tStub.endpoint)
          .option("default_label", "app")
          .option("check_connection", "false")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
      }
      // (a) reference parity: silently short — THE trap
      assert(scan(Map.empty).count() == 100,
        "parity config must show the silent truncation this models")
      // (b) query_limit at the cap: paged walk, complete
      assert(scan(Map("query_limit" -> "100")).count() == 250)
      // (c) over-cap page size: the server 400s; the request fails loudly
      // (not silently clamped) — surfaced through the reader
      val e = intercept[Exception] {
        scan(Map("query_limit" -> "100")).limit(150).count()
      }
      def chain(t: Throwable): List[String] =
        if (t == null) Nil
        else Option(t.getMessage).getOrElse("") :: chain(t.getCause)
      assert(chain(e).exists(_.contains("max entries limit")),
        s"over-cap limit must fail loudly: ${chain(e)}")
    } finally tStub.stop()
  }

  test("pushed LIMIT keeps the NEWEST n (real Loki's backward default, round 12)") {
    // real Loki's query_range direction defaults to backward, so a bare
    // LIMIT n returns the LATEST n entries — the reference omits the
    // param (scan.rs:106-121) and would see the same against a real
    // server. The old stub silently served the OLDEST n.
    val dStub = new LokiStubServer
    dStub.start()
    try {
      val base = 1704067200000000000L
      dStub.seed((0 until 100).map(i =>
        dStub.LogRow(base + i * 1000000000L, Map("app" -> "d"), s"d-$i")))
      val got = spark.read.format("loki")
        .option("endpoint", dStub.endpoint)
        .option("default_label", "app")
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
        .limit(10)
        .select("line").collect().map(_.getString(0)).toSet
      assert(got == (90 until 100).map(i => s"d-$i").toSet,
        s"bare LIMIT must return the newest entries, got $got")
    } finally dStub.stop()
  }

  test("transient 5xx heal in-reader: scan, paged walk, stats probe, push (round 12)") {
    // a 100 TB paged scan issues thousands of requests per task — a
    // single transient 503 must retry inside the reader instead of
    // failing the task (which re-reads the whole partition). 4xx contract
    // errors stay immediate; exhaustion of the 4 attempts still fails.
    val rStub = new LokiStubServer
    rStub.start()
    try {
      val base = 1704067200000000000L
      rStub.seed((0 until 90).map(i =>
        rStub.LogRow(base + i * 1000000000L, Map("app" -> "r"), s"rt-$i")))
      def scan(opts: Map[String, String]) = {
        val r = spark.read.format("loki")
          .option("endpoint", rStub.endpoint)
          .option("default_label", "app")
          .option("check_connection", "false")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
      }
      // single-request scan heals 2 consecutive 503s
      rStub.failNextQueries.set(2)
      assert(scan(Map.empty).count() == 90)
      // paged walk heals failures mid-walk (pages after the first)
      rStub.failNextQueries.set(3)
      assert(scan(Map("query_limit" -> "20"))
        .select("line").collect().map(_.getString(0)).toSet ==
        (0 until 90).map(i => s"rt-$i").toSet)
      // stats probe heals (report_statistics sizing)
      rStub.failNextStats.set(2)
      val st = scan(Map("report_statistics" -> "true"))
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.exists(_.toLong == 90L), s"stats after retry: $st")
      // push heals
      rStub.failNextPushes.set(2)
      import spark.implicits._
      Seq((java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
        Map("app" -> "r"), "pushed-after-retry"))
        .toDF("timestamp", "labels", "line")
        .write.format("loki").option("endpoint", rStub.endpoint)
        .mode("append").save()
      assert(rStub.ingested.exists(_.line == "pushed-after-retry"))
      // the metadata family heals too — labels/values/series/volume all
      // ride the same getJson→withRetry path; one injected pair of 503s
      // per request kind would otherwise fail the census
      rStub.failNextMeta.set(2)
      val labelNames = graft.sources.loki.LokiHttp
        .labelNames(rStub.endpoint, base, base + 90L * 1000000000L)
      assert(labelNames.contains("app"), s"labels after retry: $labelNames")
      rStub.failNextMeta.set(2)
      val vols = graft.sources.loki.LokiHttp.indexVolume(
        rStub.endpoint, """{app="r"}""", base, base + 90L * 1000000000L)
      assert(vols.map(_._2).sum > 0L, s"volume after retry: $vols")
      // round-14 endpoints ride the same retry families: metric queries
      // share the query_range injection point, patterns/delete the
      // metadata one. A retried delete filing collapses into the SAME
      // server-side request (stub dedup) — at-least-once made exact.
      rStub.failNextQueries.set(2)
      val metric = graft.sources.loki.LokiHttp.queryRangeMetric(
        rStub.endpoint, """sum(count_over_time({app="r"} [90s]))""",
        base + 90L * 1000000000L - 1, base + 90L * 1000000000L - 1,
        90L * 1000000000L)
      assert(metric.map(_._2.map(_._2).sum).sum == 90.0,
        s"metric after retry: $metric")
      rStub.failNextMeta.set(2)
      val pats = graft.sources.loki.LokiHttp.patterns(
        rStub.endpoint, """{app="r"}""", base, base + 90L * 1000000000L)
      assert(pats.nonEmpty, "patterns after retry must answer")
      rStub.failNextMeta.set(2)
      graft.sources.loki.LokiHttp.deleteRequest(
        rStub.endpoint, """{app="r"} |= `rt-89`""",
        Some(base), Some(base + 90L * 1000000000L - 1)) // inclusive ns bounds
      assert(rStub.deleteReqs.synchronized(rStub.deleteReqs.size) == 1,
        "retried delete must file exactly once")
      assert(!rStub.ingested.exists(_.line == "rt-89"),
        "the deleted row must be gone after the retried filing")
      // exhaustion (more failures than attempts) still fails loudly
      rStub.failNextQueries.set(10)
      val e = intercept[Exception] { scan(Map.empty).count() }
      def chain(t: Throwable): List[String] =
        if (t == null) Nil else t.getMessage :: chain(t.getCause)
      assert(chain(e).exists(m => m != null && m.contains("503")),
        s"terminal failure must surface the status: ${chain(e)}")
      rStub.failNextQueries.set(0)
      rStub.failNextMeta.set(10)
      val em = intercept[Exception] {
        graft.sources.loki.LokiHttp.labelNames(rStub.endpoint, base, base + 1L)
      }
      assert(chain(em).exists(m => m != null && m.contains("503")),
        s"terminal metadata failure must surface the status: ${chain(em)}")
      rStub.failNextMeta.set(0)
    } finally rStub.stop()
  }

  test("report_statistics feeds the optimizer: small log scans broadcast") {
    // SupportsReportStatistics from index/stats: with it, Spark's
    // size-based planner can broadcast a SMALL log scan against a big
    // relation — the join-planning integration file scans get for free.
    val sStub = new LokiStubServer
    sStub.start()
    try {
      val base = 1704067200000000000L
      sStub.seed((0 until 40).map(i =>
        sStub.LogRow(base + i * 1000000000L, Map("app" -> "s"), s"ln-$i")))
      def logs(report: Boolean) = spark.read.format("loki")
        .option("endpoint", sStub.endpoint)
        .option("default_label", "app")
        .option("report_statistics", report.toString)
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      // reported: the optimizer sees ~40 rows / a few KB
      val stats = logs(report = true).queryExecution.optimizedPlan.stats
      assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 100000,
        s"expected a small reported size, got ${stats.sizeInBytes}")
      assert(stats.rowCount.forall(_.toLong <= 40L),
        s"row count should be the selector's, got ${stats.rowCount}")
      // unreported (default): planner keeps its conservative default
      val defStats = logs(report = false).queryExecution.optimizedPlan.stats
      assert(defStats.sizeInBytes > stats.sizeInBytes,
        s"default sizing must stay conservative: ${defStats.sizeInBytes}")
      // and the size drives the JOIN SHAPE: a big static side joined to
      // the tiny reported scan must broadcast the SCAN side
      import spark.implicits._
      val big = spark.range(50000).select(
        concat(lit("ln-"), (col("id") % 500).cast("string")).as("line"),
        col("id"))
      val joined = big.join(logs(report = true).select("line"), "line")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"reported stats should broadcast the small scan:\n$plan")
      assert(joined.count() == 40 * 100, "join result must be exact")
    } finally sStub.stop()
  }

  test("report_statistics survives TB-scale stats (no int64 overflow)") {
    // bytes × rows overflows int64 once bytes×entries > 2^63 (a ~10 TB
    // selector with ~1e9 entries); a wrapped-negative/tiny sizeInBytes
    // would BROADCAST a huge log scan — the opposite of errs-large-safe.
    // The BigInt-and-clamp fix must report ≥ the true per-entry share.
    val oStub = new LokiStubServer
    oStub.start()
    try {
      val base = 1704067200000000000L
      oStub.seed(Seq(oStub.LogRow(base, Map("app" -> "o"), "x")))
      // 10 TB over 1e9 entries: bytes×entries ≈ 1e22 >> 2^63 ≈ 9.2e18
      oStub.statsOverride = Some((10L * 1000 * 1000 * 1000 * 1000, 1000000000L))
      val logs = spark.read.format("loki")
        .option("endpoint", oStub.endpoint)
        .option("default_label", "app")
        .option("report_statistics", "true")
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      val stats = logs.queryExecution.optimizedPlan.stats
      // true size ≈ 10 TB payload + row floors — far above any broadcast
      // threshold; the old code wrapped to a small/negative Long here
      assert(stats.sizeInBytes > BigInt(1000000000000L),
        s"TB-scale selector must not look broadcastable: ${stats.sizeInBytes}")
    } finally oStub.stop()
  }

  test("push_count answers COUNT(*) from index/stats without scanning") {
    val cStub = new LokiStubServer
    cStub.start()
    try {
      val base = 1704067200000000000L
      cStub.seed((0 until 730).map(i =>
        cStub.LogRow(base + i * 1000000000L,
          Map("app" -> (if (i % 3 == 0) "a" else "b")), s"r-$i")))
      def view(push: Boolean): Unit = spark.read.format("loki")
        .option("endpoint", cStub.endpoint)
        .option("default_label", "app")
        .option("push_count", push.toString)
        .load().createOrReplaceTempView("loki_count_probe")
      def counted: Long = spark.sql(
        """SELECT count(*) FROM loki_count_probe
          |WHERE labels['app'] = 'a'
          |  AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND timestamp < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
        .collect().head.getLong(0)
      // enabled: one stats probe, ZERO query_range scans, exact count
      view(push = true)
      val scans0 = cStub.queries.synchronized(cStub.queries.size)
      val stats0 = cStub.statsCalls.get()
      assert(counted == 244L)
      assert(cStub.queries.synchronized(cStub.queries.size) == scans0,
        "pushed COUNT(*) must not issue query_range")
      assert(cStub.statsCalls.get() > stats0,
        "pushed COUNT(*) must hit index/stats")
      // the plan discloses the stats-answered shape
      val p = spark.sql(
        """SELECT count(*) FROM loki_count_probe
          |WHERE labels['app'] = 'a'""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(p.contains("count=index/stats"), s"plan was:\n$p")
      // a LINE filter disqualifies the pushdown (index/stats is
      // selector-only — silently accepting would overcount) — the scan
      // path answers instead, same result
      val scans1 = cStub.queries.synchronized(cStub.queries.size)
      val lineCounted = spark.sql(
        """SELECT count(*) FROM loki_count_probe
          |WHERE labels['app'] = 'a' AND line LIKE '%r-3%'
          |  AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND timestamp < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
        .collect().head.getLong(0)
      assert(cStub.queries.synchronized(cStub.queries.size) > scans1,
        "line-filtered COUNT must fall back to the scan")
      assert(lineCounted ==
        (0 until 730).count(i => i % 3 == 0 && s"r-$i".contains("r-3")))
      // GROUP BY disqualifies too (index/stats cannot split by label) —
      // the scan answers, counts exact per group
      val scansG = cStub.queries.synchronized(cStub.queries.size)
      val grouped = spark.sql(
        """SELECT labels['app'] AS app, count(*) AS n FROM loki_count_probe
          |WHERE labels['app'] != 'zzz'
          |  AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'
          |  AND timestamp < TIMESTAMP '2024-02-01 00:00:00'
          |GROUP BY 1""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cStub.queries.synchronized(cStub.queries.size) > scansG,
        "grouped COUNT must fall back to the scan")
      assert(grouped == Map("a" -> 244L, "b" -> 486L), s"got $grouped")
      // a LIMIT below the aggregate disqualifies as well (the scan obeys
      // the limit; a stats answer would count the whole window)
      val scansL = cStub.queries.synchronized(cStub.queries.size)
      val limited = spark.sql(
        """SELECT count(*) AS n FROM (
          |  SELECT * FROM loki_count_probe
          |  WHERE labels['app'] = 'a'
          |    AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'
          |    AND timestamp < TIMESTAMP '2024-02-01 00:00:00'
          |  LIMIT 10)""".stripMargin).collect().head.getLong(0)
      assert(cStub.queries.synchronized(cStub.queries.size) > scansL,
        "limited COUNT must fall back to the scan")
      assert(limited == 10L, s"got $limited")
      // disabled (default): the scan answers
      view(push = false)
      val scans2 = cStub.queries.synchronized(cStub.queries.size)
      assert(counted == 244L)
      assert(cStub.queries.synchronized(cStub.queries.size) > scans2,
        "default path must scan")
    } finally cStub.stop()
  }

  test("columnar decode handles empty label maps (definition-0 triplets)") {
    // a stored row with NO labels encodes its map column as one def-0
    // placeholder triplet — the one branch the seeded corpora never hit
    // (push-API injection always adds detected_level/service_name).
    // Interleave empty and non-empty maps and decode columnar.
    val emStub = new LokiStubServer
    emStub.start()
    try {
      val base = 1704067200000000000L
      emStub.seed(Seq(
        emStub.LogRow(base, Map.empty, "bare-0"),
        emStub.LogRow(base + 1000000000L, Map("app" -> "a", "z" -> "y"), "labeled-1"),
        emStub.LogRow(base + 2000000000L, Map.empty, "bare-2"),
        emStub.LogRow(base + 3000000000L, Map("app" -> "b"), "labeled-3")))
      val df = spark.read.format("loki")
        .option("endpoint", emStub.endpoint)
        // match-all selector over a label EVERY row lacks would return
        // nothing; Prometheus semantics treat missing as "" so use !=
        .option("default_label", "app")
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp") &&
          col("line").like("%-%"))
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      val got = df.select(col("line"), map_keys(col("labels")))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).sorted.toSeq)
        .toMap
      // default_label=app + no explicit label filter → {app=~".+"} matches
      // only the labeled rows; the bare rows are invisible to this scan
      assert(got == Map("labeled-1" -> Seq("app", "z"), "labeled-3" -> Seq("app")))
      // a {app!="a"} matcher selects the LABEL-LESS streams too on the
      // wire (Prometheus semantics: missing ≡ ""), so the columnar
      // decoder must walk a response whose map column interleaves def-0
      // placeholder triplets with real entries; Spark's residual then
      // drops the NULL-map rows (SQL semantics — the contract the
      // loki_absent_label_neq gate row pins). A mis-decoded empty map
      // would shift the runs and corrupt labeled-3's labels.
      val bare = spark.read.format("loki")
        .option("endpoint", emStub.endpoint)
        .option("default_label", "app")
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp") &&
          element_at(col("labels"), "app") =!= "a")
      assert(bare.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      val bareRows = bare
        .select(col("line"),
          array_join(transform(array_sort(map_entries(col("labels"))),
            e => concat(e("key"), lit("="), e("value"))), ","))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(bareRows == Map("labeled-3" -> "app=b"),
        s"decode through interleaved empty maps must stay aligned, got $bareRows")
    } finally emStub.stop()
  }

  test("label injection models Loki's discovery rules (tests/table.rs:21-22)") {
    val st = new LokiStubServer
    st.start()
    try {
      Seq(
        (Map("app" -> "a1"), "plain line"),            // golden shape: unknown/app
        (Map("app" -> "a2"), "WARNING: low disk"),     // warning → warn
        (Map("level" -> "ERR", "job" -> "j"), "text"), // explicit label wins, err → error
        (Map("service_name" -> "svc", "app" -> "a3"), "x"), // explicit service kept
        (Map("container" -> "c", "job" -> "j2"), "err at 3"), // list order: container first
        (Map.empty[String, String], "no labels at all")
      ).zipWithIndex.foreach { case ((labels, line), i) =>
        val df = Seq((labels, line)).toDF("labels", "line")
          .select(lit(java.sql.Timestamp.valueOf(s"2024-03-01 00:00:0$i"))
            .as("timestamp"), col("labels"), col("line"))
        df.write.format("loki").option("endpoint", st.endpoint)
          .mode("append").save()
      }
      val got = st.ingested.map(r =>
        (r.line, r.labels("detected_level"), r.labels("service_name"))).toSet
      assert(got == Set(
        ("plain line", "unknown", "a1"),
        ("WARNING: low disk", "warn", "a2"),
        ("text", "error", "j"),
        ("x", "unknown", "svc"),
        ("err at 3", "error", "c"),
        ("no labels at all", "unknown", "unknown")))
    } finally st.stop()
  }

  test("insert roundtrip surfaces the row count (reference count table)") {
    assert(LokiWrite.lastCommittedRows(stub.endpoint) == 2L)
    val ing = stub.ingested
    assert(ing.size == 2)
    // Loki-injected labels present (tests/table.rs:21-22)
    assert(ing.forall(r => r.labels.contains("detected_level") &&
      r.labels.contains("service_name")))
  }

  test("full table scan via default label (tests/table.rs:14-27)") {
    assert(golden(lokiDf()) == Seq(
      "{app=my-app1,detected_level=unknown,service_name=my-app1} this is aaa log",
      "{app=my-app2,detected_level=unknown,service_name=my-app2} this is bbb log"))
    assert(stub.queries.last == "{app=~\".+\"}")
  }

  test("projection pushdown (tests/table.rs:29-41)") {
    val df = lokiDf().select("line")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("this is aaa log", "this is bbb log"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("projection=[line]"), s"plan was:\n$scan")
  }

  test("label filter pushdown, eq + empty result (tests/table.rs:59-78)") {
    val hit = lokiDf().filter(col("labels")("app") === "my-app1")
    assert(golden(hit) == Seq(
      "{app=my-app1,detected_level=unknown,service_name=my-app1} this is aaa log"))
    assert(stub.queries.last == "{app=\"my-app1\"}")
    // Exact pushdown: no post-scan Filter node remains
    val residualFilters = hit.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(residualFilters.isEmpty,
      s"expected no residual filter:\n${hit.queryExecution.optimizedPlan}")

    val miss = lokiDf().filter(col("labels")("app") === "no-such-app")
    assert(miss.count() == 0)
  }

  test("line filter pushdown LIKE (tests/table.rs:80-99)") {
    val df = lokiDf().filter(col("line").like("%bbb%"))
    assert(golden(df) == Seq(
      "{app=my-app2,detected_level=unknown,service_name=my-app2} this is bbb log"))
    assert(stub.queries.last.endsWith("|= `bbb`"), stub.queries.last)
    assert(lokiDf().filter(col("line").like("%zzz%")).count() == 0)
  }

  test("line regex + label regex push as LogQL regex matchers") {
    val df = lokiDf().filter(col("line").rlike("a{3}") &&
      col("labels")("app").rlike("my-app[0-9]"))
    assert(golden(df) == Seq(
      "{app=my-app1,detected_level=unknown,service_name=my-app1} this is aaa log"))
    assert(stub.queries.last ==
      "{app=~\"(?s).*(?:my-app[0-9]).*\"} |~ `a{3}`")
  }

  test("timestamp filter pushdown incl. now() folding (tests/table.rs:43-57)") {
    val df = lokiDf().filter(
      col("timestamp") > current_timestamp() - expr("interval 1 hour"))
    assert(df.count() == 2)
    val df2 = lokiDf().filter(
      col("timestamp") > current_timestamp() + expr("interval 1 hour"))
    assert(df2.count() == 0)
  }

  test("limit pushdown reaches the Loki query param") {
    val df = lokiDf().limit(1)
    assert(df.count() == 1)
  }

  test("README conjunction: label AND line AND timestamp AND limit") {
    val df = lokiDf()
      .filter(col("labels")("app") === "my-app1" &&
        col("line").like("%aaa%") &&
        col("timestamp") > lit("2020-01-01 00:00:00").cast("timestamp"))
      .limit(10)
    assert(golden(df) == Seq(
      "{app=my-app1,detected_level=unknown,service_name=my-app1} this is aaa log"))
    assert(stub.queries.last == "{app=\"my-app1\"} |= `aaa`")
  }

  test("query_limit pages an unbounded scan through the server cap (round 9)") {
    // a real Loki truncates a no-limit query_range at its server default
    // (~100 entries) — the stub enforces the limit param the same way.
    // With query_limit=100, the reader must walk the window in forward
    // pages and return the COMPLETE 250-row relation; with a pushed
    // LIMIT, the single-request reference shape stays.
    val pageStub = new LokiStubServer
    pageStub.start()
    try {
      val base = 1704067200000000000L // 2024-01-01 ns
      pageStub.seed((0 until 250).map { i =>
        pageStub.LogRow(base + i * 1000000000L, Map("app" -> "pg"), s"row-$i")
      })
      def scan(opts: Map[String, String]) = {
        val r = spark.read.format("loki")
          .option("endpoint", pageStub.endpoint)
          .option("default_label", "app")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      }
      // paged: complete relation in ceil(250/100)=3 pages
      val reqs0 = pageStub.ranges.synchronized(pageStub.ranges.size)
      val lines = scan(Map("query_limit" -> "100"))
        .select("line").collect().map(_.getString(0)).toSet
      val pagedReqs = pageStub.ranges.synchronized(pageStub.ranges.size) - reqs0
      assert(lines == (0 until 250).map(i => s"row-$i").toSet,
        s"paged scan must be complete (got ${lines.size} rows)")
      assert(pagedReqs >= 3, s"expected >= 3 page requests, saw $pagedReqs")
      // projection that prunes the timestamp still pages correctly (the
      // cursor decodes the column internally)
      assert(scan(Map("query_limit" -> "100")).select("line").count() == 250)
      // pushed LIMIT: single request, no paging
      val reqs1 = pageStub.ranges.synchronized(pageStub.ranges.size)
      assert(scan(Map("query_limit" -> "100")).limit(50).count() == 50)
      val limitReqs = pageStub.ranges.synchronized(pageStub.ranges.size) - reqs1
      assert(limitReqs == 1, s"pushed LIMIT must stay single-request, saw $limitReqs")
      // slicing × paging: each of the 4 time slices pages its own
      // disjoint window independently — the relation stays complete
      val sliced = scan(Map("query_limit" -> "40", "partitions" -> "4"))
        .select("line").collect().map(_.getString(0)).toSet
      assert(sliced == (0 until 250).map(i => s"row-$i").toSet,
        s"sliced+paged scan must be complete (got ${sliced.size} rows)")
      // paged scans disclose the page size in EXPLAIN
      val plan = scan(Map("query_limit" -> "100"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("page_size=100"), s"plan was:\n$plan")
      // EXPLAIN honesty (round 12): a scan that pages only because
      // server_max_entries is declared (query_limit unset) must still
      // disclose its effective page size — the disclosed plan IS the
      // executed one
      val capPlan = scan(Map("server_max_entries" -> "150"))
        .queryExecution.executedPlan.toString
      assert(capPlan.contains("page_size=150"), s"plan was:\n$capPlan")
      // ...and a pushed LIMIT never pages, so it must NOT claim a page size
      val limPlan = scan(Map("server_max_entries" -> "150")).limit(50)
        .queryExecution.executedPlan.toString
      assert(!limPlan.contains("page_size="), s"plan was:\n$limPlan")
      // server_max_entries ALONE opts into completeness (round 11): an
      // unlimited single request against a declared-cap server would be
      // clamped silently, so the scan pages at the server max instead
      val reqs2 = pageStub.ranges.synchronized(pageStub.ranges.size)
      val capOnly = scan(Map("server_max_entries" -> "150"))
        .select("line").collect().map(_.getString(0)).toSet
      assert(capOnly == (0 until 250).map(i => s"row-$i").toSet,
        s"cap-only scan must page to completeness (got ${capOnly.size})")
      assert(pageStub.ranges.synchronized(pageStub.ranges.size) - reqs2 >= 2,
        "cap-only scan should have paged")
      // a pushed LIMIT within the cap keeps the single-request shape;
      // above it the plan fails loudly instead of silently clamping
      assert(scan(Map("server_max_entries" -> "150")).limit(50).count() == 50)
      val e = intercept[Exception] {
        scan(Map("server_max_entries" -> "150")).limit(200).count()
      }
      assert(e.getMessage.contains("server_max_entries") ||
        Option(e.getCause).exists(_.getMessage.contains("server_max_entries")),
        s"expected loud over-cap LIMIT failure: ${e.getMessage}")
    } finally pageStub.stop()
  }

  test("paging is complete through same-ns bursts wider than a page (round 10)") {
    // Loki's only cursor is the inclusive start timestamp, so a page cut
    // inside a run of rows sharing one ns is the silent-loss hazard: the
    // round-9 reader advanced to maxTs+1 and dropped the rest of the run.
    // The round-10 reader holds back each page's trailing max-ts run,
    // re-reads it from cursor = maxTs, and doubles the limit on a
    // degenerate full page (all rows at the cursor's own ns).
    val burstStub = new LokiStubServer
    burstStub.start()
    try {
      val base = 1704067200000000000L // 2024-01-01 ns
      val burstTs = base + 50L * 1000000000L
      // 50 distinct-ns rows, then 120 rows at ONE ns, then 80 distinct-ns
      val rows =
        (0 until 50).map(i =>
          burstStub.LogRow(base + i * 1000000000L, Map("app" -> "b"), s"pre-$i")) ++
        (0 until 120).map(i =>
          burstStub.LogRow(burstTs, Map("app" -> "b"), s"burst-$i")) ++
        (0 until 80).map(i =>
          burstStub.LogRow(burstTs + (i + 1) * 1000000000L, Map("app" -> "b"), s"post-$i"))
      burstStub.seed(rows)
      def scan(opts: Map[String, String]) = {
        val r = spark.read.format("loki")
          .option("endpoint", burstStub.endpoint)
          .option("default_label", "app")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-02 00:00:00").cast("timestamp"))
      }
      val expected = rows.map(_.line)
      // page size 100 cuts inside the 120-row burst: the scan must still
      // return all 250 rows, exactly once each (Seq equality catches dups)
      val got = scan(Map("query_limit" -> "100"))
        .select("line").collect().map(_.getString(0)).toSeq
      assert(got.sorted == expected.sorted,
        s"burst scan must be complete+exact (got ${got.size} rows)")
      // degenerate from the first request: page size 30 << burst, and the
      // window STARTS at the burst — the reader must double 30→60→120→240
      // until the 120-row run fits one (short) page
      val onlyBurst = spark.read.format("loki")
        .option("endpoint", burstStub.endpoint)
        .option("default_label", "app")
        .option("query_limit", "30")
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:50").cast("timestamp") &&
          col("timestamp") < lit("2024-01-01 00:00:51").cast("timestamp"))
        .select("line").collect().map(_.getString(0)).toSeq
      assert(onlyBurst.sorted == (0 until 120).map(i => s"burst-$i").sorted,
        s"degenerate-page scan must be complete+exact (got ${onlyBurst.size} rows)")
      // pruned projection still pages correctly through the burst
      assert(scan(Map("query_limit" -> "64")).select("line").count() == 250)
      // server_max_entries (round 11): adaptive doubling never requests
      // past the server's declared max_entries_limit. 200 > burst: the
      // capped growth 30→60→120→200 fits the 120-row run in one short
      // page — complete scan, no request ever exceeds the contract.
      val capped = scan(
        Map("query_limit" -> "30", "server_max_entries" -> "200"))
        .select("line").collect().map(_.getString(0)).toSeq
      assert(capped.sorted == expected.sorted,
        s"capped scan must be complete (got ${capped.size} rows)")
      // cap BELOW the burst: the reader cannot prove the run complete
      // within the contract — loud failure, never silent truncation
      val e = intercept[org.apache.spark.SparkException] {
        scan(Map("query_limit" -> "30", "server_max_entries" -> "100"))
          .select("line").count()
      }
      assert(e.getMessage.contains("server_max_entries") ||
        Option(e.getCause).exists(_.getMessage.contains("server_max_entries")),
        s"expected the cap in the failure message: ${e.getMessage}")
      // query_limit above the declared server max is a load-time error
      intercept[IllegalArgumentException] {
        scan(Map("query_limit" -> "300", "server_max_entries" -> "200")).count()
      }
    } finally burstStub.stop()
  }

  test("paging property: complete+exact over randomized burst shapes and page sizes") {
    // seeded randomized sweep over timestamp multisets (runs of 1..~60
    // rows per ns, including runs far above the page size) × page sizes —
    // every shape must return the corpus exactly once. Deterministic seed
    // so a failure reproduces.
    val rnd = new scala.util.Random(42)
    val propStub = new LokiStubServer
    propStub.start()
    try {
      (1 to 6).foreach { iter =>
        propStub.clear()
        val base = 1704067200000000000L + iter * 1000000000000L
        var ts = base
        val rows = scala.collection.mutable.ArrayBuffer.empty[propStub.LogRow]
        var i = 0
        while (rows.size < 300) {
          // run length: mostly 1, sometimes a burst up to 60
          val run = if (rnd.nextInt(5) == 0) 1 + rnd.nextInt(60) else 1
          (0 until run).foreach { _ =>
            rows += propStub.LogRow(ts, Map("app" -> "p"), s"r$iter-$i")
            i += 1
          }
          ts += 1 + rnd.nextInt(3).toLong * 1000000000L // 1ns..3s gaps
        }
        propStub.seed(rows)
        val ps = Seq(7, 30, 100)(rnd.nextInt(3))
        val got = spark.read.format("loki")
          .option("endpoint", propStub.endpoint)
          .option("default_label", "app")
          .option("query_limit", ps.toString)
          .load()
          .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .select("line").collect().map(_.getString(0)).toSeq
        assert(got.sorted == rows.map(_.line).sorted,
          s"iter=$iter ps=$ps: expected ${rows.size} rows exactly once, " +
            s"got ${got.size}")
      }
    } finally propStub.stop()
  }

  test("a push carries one stream object per label set") {
    import org.apache.spark.sql.Row
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val ws = new LokiStubServer
    ws.start()
    try {
      val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
      // 6 rows over 2 interleaved label sets, then one row carrying
      // structured metadata
      val rows = (0 until 7).map { i =>
        (t0.plusSeconds(i), Map("app" -> s"a${i % 2}"), s"line-$i",
          if (i == 6) Map("trace" -> "t6") else Map.empty[String, String])
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (t, l, line, m) =>
          Row(java.sql.Timestamp.from(t), l, line, m) }, 1),
        LokiDataSource.logSchema(structuredMetadata = true))
        .write.format("loki").option("endpoint", ws.endpoint)
        .option("push_batch_size", "100").option("structured_metadata", "true")
        .mode("append").save()
      val bodies = ws.pushBodies.synchronized(ws.pushBodies.toList)
      assert(bodies.size == 1, bodies)
      val streams = new ObjectMapper().readTree(bodies.head).get("streams")
        .elements().asScala.toList
      // each set's values in row order; only row 6 has a third element
      assert(streams.map(st => st.get("stream").get("app").textValue ->
        st.get("values").elements().asScala.map(v => v.get(1).textValue).toList) ==
        List("a0" -> List("line-0", "line-2", "line-4", "line-6"),
          "a1" -> List("line-1", "line-3", "line-5")), bodies.head)
      assert(bodies.head.contains(""""line-6",{"trace":"t6"}]"""), bodies.head)
      assert(streams.flatMap(_.get("values").elements().asScala).count(_.size == 3) == 1)
      val ingested = ws.ingested.map(r =>
        (r.tsNs, r.labels("app"), r.line, r.metadata)).toSet
      assert(ingested == rows.map { case (t, l, line, m) =>
        (t.getEpochSecond * 1000000000L, l("app"), line, m) }.toSet)
      assert(LokiWrite.lastCommittedRows(ws.endpoint) == 7L)
    } finally ws.stop()
  }

  test("scan output schema matches the declared log schema (tests/table.rs:177-218)") {
    assert(lokiDf().schema == LokiDataSource.LOG_SCHEMA)
  }

  test("plan pieces serialize for distributed execution (tests/table.rs:102-173)") {
    // the reference needs a protobuf codec for this; in Spark the contract
    // is Java-serializability of the partition + factories
    import graft.sources.loki._
    val part = LokiInputPartition("http://x", "{a=\"b\"}", Some(1L), Some(2L),
      Some(3), None, LokiDataSource.LOG_SCHEMA)
    val out = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(out)
    oos.writeObject(part)
    oos.writeObject(LokiReaderFactory())
    oos.writeObject(LokiWriterFactory(LokiOptions("http://x", None, 1, 4096, false)))
    oos.close()
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(out.toByteArray))
    assert(in.readObject().asInstanceOf[LokiInputPartition] == part)
  }

  test("failed-then-retried writer task: committed count exact, no duplicate rows") {
    // The at-least-once contract (LokiWrite class doc): batches POST
    // during write(), so a failed attempt's already-pushed batches stay in
    // Loki; the retry re-pushes everything, Loki's ingest dedup collapses
    // the replays, and only the WINNING attempt is counted at commit.
    // Exercised end-to-end with a real failed task: the session runs
    // local[4,2] (maxFailures=2), and partition 0's first attempt throws
    // mid-stream AFTER several push batches (batch size 10 « rows) have
    // left the writer.
    val retryStub = new LokiStubServer
    retryStub.start()
    try {
      val n = 200
      RetryProbe.injected.set(0)
      val base = spark.range(n).select(
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("timestamp"),
        map(lit("app"), lit("retry-app")).as("labels"),
        concat(lit("line-"), col("id")).as("line"))
      val flaky = base.as[(java.sql.Timestamp, Map[String, String], String)]
        .mapPartitions { it =>
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
            val rows = it.toVector
            // accumulators from failed tasks are discarded by Spark, so the
            // injection is counted via a JVM-local probe (executor == this
            // JVM in local mode)
            RetryProbe.injected.incrementAndGet()
            // yield all but the last row, then die: the writer has POSTed
            // every full batch it saw before the failure reaches it
            rows.take(rows.size - 1).iterator ++ new Iterator[(java.sql.Timestamp, Map[String, String], String)] {
              override def hasNext: Boolean = true
              override def next(): (java.sql.Timestamp, Map[String, String], String) =
                throw new RuntimeException("injected task failure after partial write")
            }
          } else it
        }
        .toDF("timestamp", "labels", "line")
      flaky.write.format("loki")
        .option("endpoint", retryStub.endpoint)
        .option("push_batch_size", "10")
        .mode("append").save()
      assert(RetryProbe.injected.get() == 1,
        "the failure must have been injected exactly once")
      assert(LokiWrite.lastCommittedRows(retryStub.endpoint) == n.toLong,
        "committed count must reflect only the winning attempts")
      assert(retryStub.ingested.size == n,
        s"ingest dedup must collapse the failed attempt's replayed batches: ${retryStub.ingested.size}")
      assert(retryStub.ingested.map(_.line).toSet ==
        (0 until n).map(i => s"line-$i").toSet)
    } finally retryStub.stop()
  }

  test("overwrite is rejected (append-only, table.rs:164-169)") {
    val ex = intercept[Exception] {
      Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        Map("app" -> "x"), "line"))
        .toDF("timestamp", "labels", "line")
        .write.format("loki").option("endpoint", stub.endpoint)
        .mode("overwrite").save()
    }
    assert(ex.getMessage.toLowerCase.contains("truncate") ||
      ex.getMessage.toLowerCase.contains("overwrite"))
  }

  test("mismatched insert schema is rejected (insert.rs:44-46)") {
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("a", "b")
        .write.format("loki").option("endpoint", stub.endpoint)
        .mode("append").save()
    }
    assert(ex.getMessage.contains("schema") || ex.getMessage.contains("column"))
  }

  test("time-range split partitioning produces the same rows (scale path)") {
    val df = spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
      .option("partitions", "4")
      .load()
    assert(df.rdd.getNumPartitions == 4)
    assert(golden(df) == golden(lokiDf()))
  }

  test("partitions=8 survives a filtered+projected plan (gate query shape)") {
    // the loki_connector_labels gate entry runs this shape: bounded window,
    // pushed label regex, projection — the split must still plan 8 slices
    // and the slice union must equal the unsplit relation
    val df = spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
      .option("partitions", "8")
      .load()
      .filter(col("labels")("app").rlike("my-app[0-9]") &&
        col("timestamp") >= current_timestamp() - expr("interval 1 day") &&
        col("timestamp") < current_timestamp() + expr("interval 1 day"))
    assert(df.rdd.getNumPartitions == 8)
    assert(golden(df) == golden(lokiDf()))
  }

  test("split=stats holds its invariants over randomized burst shapes") {
    // three seeded corpora with different burst structures (one spike,
    // several clusters, mixed cluster+background). For each: the sliced
    // relation equals the unsliced one exactly (disjoint cover of the
    // window — no row lost or duplicated at any boundary), and slice
    // balance beats the grain bound with slack (target + target/4 ⇒
    // max/mean ≤ 1.25 + quantization; asserted at 1.5)
    val base = 1704067200000000000L
    val day = 86400L * 1000000000L
    val shapes: Seq[(String, Long => Long)] = Seq(
      ("one_spike", i => if (i % 10 < 7) base + 3 * day + (i * 7919) % (day / 24)
                         else base + (i % 20) * day + (i * 104729) % day),
      ("five_clusters", i => base + (i % 5) * 4 * day + (i * 7919) % (day / 6)),
      ("mixed", i => if (i % 3 == 0) base + 11 * day + (i * 31) % (day / 48)
                     else base + (i * 2654435761L) % (20 * day)))
    shapes.foreach { case (name, tsOf) =>
      val st = new graft.sources.loki.testkit.LokiStubServer
      st.start()
      try {
        st.seed((0L until 3000L).map(i =>
          st.LogRow(tsOf(i), Map("app" -> "p"), s"$name-$i")))
        def scan(split: String) = spark.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
          .option("partitions", "6")
          .option("split", split)
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-21 00:00:00").cast("timestamp"))
        val expect = golden(scan("width"))
        assert(golden(scan("stats")) == expect, s"$name: relation must not change")
        val per = scan("stats").select(spark_partition_id().as("p"))
          .groupBy("p").count().collect().map(_.getLong(1))
        val total = per.sum
        val ratio = per.max.toDouble * per.length / total
        assert(ratio <= 1.5, s"$name: max/mean $ratio per-slice ${per.toSeq}")
      } finally st.stop()
    }
  }

  test("split=stats balances a bursty window and keeps the relation exact") {
    // a spike corpus: 90 of 100 rows inside one hour of a 4-day window.
    // width-split puts ~all rows in one slice; stats-split must (a) return
    // the identical relation, (b) probe index/stats at plan time, and
    // (c) spread the spike across slices (no slice holds > total/2 once
    // boundaries follow cumulative count at grain target/4)
    val statsStub = new graft.sources.loki.testkit.LokiStubServer
    statsStub.start()
    try {
      val base = 1704067200000000000L // 2024-01-01 ns
      val hour = 3600L * 1000000000L
      statsStub.seed((0 until 100).map { i =>
        val ts = if (i < 90) base + 24 * hour + i * (hour / 90)
                 else base + (i - 90) * 9 * hour
        statsStub.LogRow(ts, Map("app" -> "s"), s"r$i")
      })
      def scan(split: String) = spark.read.format("loki")
        .option("endpoint", statsStub.endpoint)
        .option("default_label", "app")
        .option("partitions", "4")
        .option("split", split)
        .load()
        .filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-05 00:00:00").cast("timestamp"))
      assert(golden(scan("stats")) == golden(scan("width")))
      assert(statsStub.statsCalls.get() > 0, "stats split must probe index/stats")
      val per = scan("stats").select(spark_partition_id().as("p"))
        .groupBy("p").count().collect().map(_.getLong(1))
      assert(per.max <= 50, s"stats split must break the spike: ${per.toSeq}")
    } finally statsStub.stop()
  }

  test("report_statistics and split=stats share the full-window probe (one memo)") {
    // both features probe the same index/stats endpoint; round 12 unifies
    // them on one per-(endpoint, selector, window) memo so a stats-split
    // scan of a query the optimizer already sized never re-probes the
    // full window (and vice versa) — only bisection SUB-windows go out.
    val uStub = new graft.sources.loki.testkit.LokiStubServer
    uStub.start()
    try {
      val base = 1704067200000000000L
      val hour = 3600L * 1000000000L
      uStub.seed((0 until 100).map { i =>
        val ts = if (i < 90) base + 24 * hour + i * (hour / 90)
                 else base + (i - 90) * 9 * hour
        uStub.LogRow(ts, Map("app" -> "u"), s"r$i")
      })
      def scan(extra: Map[String, String]) = {
        val r = spark.read.format("loki")
          .option("endpoint", uStub.endpoint)
          .option("default_label", "app")
        extra.foreach { case (k, v) => r.option(k, v) }
        r.load().filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-05 00:00:00").cast("timestamp"))
      }
      // 1. optimizer sizes the scan — this probes the FULL window once
      val st = scan(Map("report_statistics" -> "true"))
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.exists(_.toLong == 100L), s"sizing probe: $st")
      val fullWindows0 = uStub.statsRanges.synchronized(uStub.statsRanges.toList)
      assert(fullWindows0.nonEmpty, "sizing must have probed")
      val full = fullWindows0.head // the sized window (s, e)
      // 2. a stats-split scan of the SAME window: its root count must be
      //    served by the shared memo — no second full-window probe
      val before = uStub.statsRanges.synchronized(uStub.statsRanges.size)
      val per = scan(Map("split" -> "stats", "partitions" -> "4"))
        .select(spark_partition_id().as("p"))
        .groupBy("p").count().collect().map(_.getLong(1))
      assert(per.sum == 100, s"stats-split scan must stay complete: ${per.toSeq}")
      val probed = uStub.statsRanges.synchronized(
        uStub.statsRanges.drop(before).toList)
      assert(probed.nonEmpty, "bisection sub-probes must still fire")
      assert(!probed.contains(full),
        s"full window $full re-probed — the memo must serve the root count " +
          s"(saw ${probed.take(8)}...)")
    } finally uStub.stop()
  }

  test("split=stats probes survive a brace inside a pushed regex matcher") {
    // round-9 regression pin: the probe selector was substring-parsed to
    // the first '}', so a pushed rlike pattern like 'r[0-9]{1}' truncated
    // the selector mid-matcher, every index/stats probe threw, and
    // split=stats silently degraded to width. The selector now renders
    // from the matchers; probes must succeed and the split must balance.
    val statsStub = new graft.sources.loki.testkit.LokiStubServer
    statsStub.start()
    try {
      val base = 1704067200000000000L // 2024-01-01 ns
      val hour = 3600L * 1000000000L
      statsStub.seed((0 until 100).map { i =>
        val ts = if (i < 90) base + 24 * hour + i * (hour / 90)
                 else base + (i - 90) * 9 * hour
        statsStub.LogRow(ts, Map("app" -> s"s${i % 3}"), s"r$i")
      })
      val df = spark.read.format("loki")
        .option("endpoint", statsStub.endpoint)
        .option("default_label", "app")
        .option("partitions", "4")
        .option("split", "stats")
        .load()
        .filter(col("labels")("app").rlike("s[0-9]{1}") &&
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-05 00:00:00").cast("timestamp"))
      val per = df.select(spark_partition_id().as("p"))
        .groupBy("p").count().collect().map(_.getLong(1))
      assert(per.sum == 100, s"brace regex must still match all rows: ${per.toSeq}")
      assert(statsStub.statsCalls.get() > 0,
        "probes must fire (selector no longer truncates at the first '}')")
      assert(per.max <= 50,
        s"stats split must balance (width fallback means probes failed): ${per.toSeq}")
    } finally statsStub.stop()
  }

  test("label regex keeps Spark's unanchored find semantics through pushdown") {
    // "app[0-9]" is a SUBSTRING of the label value "my-app1"; Spark rlike
    // matches it, and the pushed full-match matcher must too (wrapped form)
    val df = lokiDf().filter(col("labels")("app").rlike("app[0-9]"))
    assert(df.count() == 2, "unanchored label regex must match substrings")
    val none = lokiDf().filter(col("labels")("app").rlike("^app[0-9]$"))
    assert(none.count() == 0, "anchored regex must still bind to value start/end")
  }

  test("timestamp boundary semantics: strict vs non-strict at the exact ns") {
    val boundary = stub.ingested.map(_.tsNs).min
    val us = boundary / 1000L // µs value Spark sees/pushes
    import java.time.Instant
    def at(cmp: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Long =
      lokiDf().filter(cmp(col("timestamp"))).count()
    val t = lit(java.sql.Timestamp.from(
      Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)))
    // expected counts from the stub's stored ns values, truncated to the µs
    // the Spark predicate actually compares
    val usAll = stub.ingested.map(_.tsNs / 1000L)
    assert(at(_ >= t) == usAll.count(_ >= us).toLong, ">= must include the boundary")
    assert(at(_ > t) == usAll.count(_ > us).toLong, "> must exclude the boundary")
    assert(at(_ <= t) == usAll.count(_ <= us).toLong, "<= must include the boundary")
    assert(at(_ < t) == usAll.count(_ < us).toLong, "< must exclude the boundary")
  }

  test("negative label matcher keeps SQL semantics when the label is absent") {
    // Loki's != / !~ also match streams where the label is ABSENT; Spark SQL
    // drops them (GetMapValue → NULL → filter false). The rule pushes the
    // matcher for pruning but keeps the residual, so SQL wins. Both seeded
    // rows lack the 'k' label entirely (r1) or carry k=v (r2) — SQL expects
    // ZERO rows; unfixed Loki semantics would return the absent-label row.
    val st = new LokiStubServer
    st.start()
    try {
      // inside the default now−30d scan window
      val nowNs = System.currentTimeMillis() * 1000000L
      st.seed(Seq(
        st.LogRow(nowNs - 2000000000L, Map("app" -> "x"), "no k here"),
        st.LogRow(nowNs - 1000000000L, Map("app" -> "x", "k" -> "v"), "k equals v")))
      val df = spark.read.format("loki")
        .option("endpoint", st.endpoint)
        .option("default_label", "app")
        .load()
        .filter(col("labels")("k") =!= "v")
      assert(df.count() == 0, "absent-label rows must be dropped (SQL semantics)")
      // the matcher WAS pushed (server-side pruning), and a residual Filter remains
      assert(st.queries.last.contains("k!=\"v\""), st.queries.last)
      val residual = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
      assert(residual.nonEmpty, "negative matcher must keep its residual Filter")
      // and rows where k is present and ≠ v still flow
      val present = spark.read.format("loki")
        .option("endpoint", st.endpoint).option("default_label", "app").load()
        .filter(col("labels")("k") =!= "nope")
      assert(present.count() == 1)

      def df2(cond: org.apache.spark.sql.Column) =
        spark.read.format("loki")
          .option("endpoint", st.endpoint).option("default_label", "app").load()
          .filter(cond)
      // positive matchers that can match "" also select absent-label
      // streams in Loki (missing label ≡ empty string) — SQL semantics
      // must still drop the NULL-map-access rows
      assert(df2(col("labels")("k") === "").count() == 0,
        "k='' must not surface Loki's absent-label match under SQL semantics")
      assert(df2(col("labels")("k").rlike(".*")).count() == 1,
        "k=~'.*' matches absent in Loki; SQL keeps only the present-label row")
      // a pattern that cannot match "" stays fully Exact (no residual)
      val exactDf = df2(col("labels")("k").rlike("^v$"))
      assert(exactDf.count() == 1)
      val exactResidual = exactDf.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
      assert(exactResidual.isEmpty,
        s"non-empty-matching regex must stay residual-free:\n${exactDf.queryExecution.optimizedPlan}")
    } finally st.stop()
  }

  test("literal-on-left regex is NOT translated — Spark rlike semantics kept") {
    // Spark's RLike('p', line) asks whether 'p' contains a match of the
    // regex stored in `line` — not the reference's order-insensitive "line
    // matches p" (expr.rs:63-80). Translating it made the result depend on
    // whether the pushdown fired, so the form stays a residual Filter with
    // SQL semantics authoritative: no seeded line, read as a regex, matches
    // the string 'aaa' (the old translation returned the aaa row here).
    val df = lokiDf().where(expr("'aaa' rlike line"))
    assert(df.count() == 0)
    assert(!stub.queries.last.contains("|~"), stub.queries.last)
    val residual = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(residual.nonEmpty, "literal-on-left rlike must stay a residual Filter")
  }

  test("no label matcher and no default_label errors like the reference") {
    val df = spark.read.format("loki").option("endpoint", stub.endpoint).load()
    val ex = intercept[Exception] { df.collect() }
    assert(ex.getMessage.contains("label matcher"))
  }

  test("element_at label access pushes the same matcher as labels['k']") {
    // element_at(labels,'k') resolves to ElementAt, not GetMapValue; both
    // have NULL-on-missing map semantics (SPARK-40066) and must push alike
    val df = lokiDf().where(expr("element_at(labels, 'app') = 'my-app1'"))
    assert(golden(df) == Seq(
      "{app=my-app1,detected_level=unknown,service_name=my-app1} this is aaa log"))
    assert(stub.queries.last == "{app=\"my-app1\"}")
    val residual = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(residual.isEmpty,
      s"element_at eq must be Exact (no residual):\n${df.queryExecution.optimizedPlan}")
  }

  test("ingest dedups identical (ts, labels, line) entries (at-least-once)") {
    // the writer's at-least-once delivery relies on Loki deduping identical
    // entries on ingest; the stub must model that or a retried/speculative
    // task double-counts rows in stub-backed runs
    val st = new LokiStubServer
    st.start()
    try {
      val payload =
        """{"streams":[{"stream":{"app":"a"},"values":[["1700000000000000000","x"],["1700000000000000001","y"]]}]}"""
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(st.endpoint + "/loki/api/v1/push"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(payload))
        .build()
      client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      assert(st.ingested.size == 2, "re-POSTed batch must not double-count")
    } finally st.stop()
  }

  test("the stub answers back-to-back small query_range calls without a Nagle stall") {
    // with Nagle's algorithm on, a response body written after its headers
    // waits for the client's delayed ACK, about 40 ms per request on a
    // kept-alive connection; real Loki sets TCP_NODELAY and so does the stub
    val st = new LokiStubServer
    st.start()
    try {
      val base = 1704067200000000000L
      st.seed((0 until 200).map(i =>
        st.LogRow(base + i * 1000000000L, Map("app" -> "n"), s"nagle line $i")))
      val ms = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        val body = graft.sources.loki.LokiHttp.queryRange(st.endpoint, """{app="n"}""",
          base, base + 3600L * 1000000000L, Some(200), None)
        assert(body.nonEmpty)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, s"median $median ms over ${ms.map(m => f"$m%.1f")}")
    } finally st.stop()
  }

  test("the stub answers an off-shape push body 400 and ingests nothing") {
    val st = new LokiStubServer
    st.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(body: String): Int = client.send(
        java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(st.endpoint + "/loki/api/v1/push"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      def push(streams: String) = s"""{"streams":$streams}"""
      Seq(
        push("""{"s":{"stream":{"app":"a"},"values":[["1","x"]]}}"""),
        push("""[{"stream":"app","values":[["1","x"]]}]"""),
        push("""[{"stream":{"app":"a"},"values":{"v":["1","x"]}}]"""),
        push("""[{"stream":{"app":"a"},"values":["1"]}]"""),
        push("""[{"stream":{"app":"a"},"values":[["1"]]}]"""),
        push("""[{"stream":{"app":"a"},"values":[["1","x","meta"]]}]"""),
        push("""[{"stream":{"app":"a"},"values":[["1","x"]]}"""),
        push("""[{"stream":{"app":"a"},"values":[["1","x"]]}]""") + " {"
      ).foreach(b => assert(post(b) == 400, b))
      assert(st.ingested.isEmpty)
      assert(post(push("""[{"stream":{"app":"a"},"values":[["1","x",{"t":"u"}]]}]""")) == 204)
      assert(st.ingested.size == 1)
    } finally st.stop()
  }

  test("direction option: which n rows a LIMIT keeps (backward=newest, forward=oldest, paged=ignored)") {
    val st = new LokiStubServer
    st.start()
    try {
      val base = 1704067200000000000L
      st.seed((0 until 100).map(i =>
        st.LogRow(base + i * 1000000000L, Map("app" -> "d"), s"d-$i")))
      def read(extra: (String, String)*): Set[String] = {
        val r = spark.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("default_label", "app")
        extra.foreach { case (k, v) => r.option(k, v) }
        r.load()
          .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
          .limit(10)
          .select("line")
          .collect().map(_.getString(0)).toSet
      }
      // parity default (param omitted): server default is backward → newest
      assert(read() == (90 until 100).map(i => s"d-$i").toSet)
      // explicit backward: same newest-n, stated on the wire
      assert(read("direction" -> "backward") == (90 until 100).map(i => s"d-$i").toSet)
      // explicit forward flips the LIMIT to the OLDEST n
      assert(read("direction" -> "forward") == (0 until 10).map(i => s"d-$i").toSet)
      // paged (unlimited) scan: direction is ignored — the forward-cursor
      // walk still returns the COMPLETE row set
      val paged = spark.read.format("loki")
        .option("endpoint", st.endpoint)
        .option("default_label", "app")
        .option("query_limit", "16")
        .option("direction", "backward")
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
        .select("line")
        .collect().map(_.getString(0)).toSet
      assert(paged == (0 until 100).map(i => s"d-$i").toSet)
      // EXPLAIN honesty: the single-request scan discloses its direction,
      // the paged scan does not claim one
      val dirPlan = spark.read.format("loki")
        .option("endpoint", st.endpoint).option("default_label", "app")
        .option("direction", "backward").load().limit(5)
        .queryExecution.executedPlan.toString
      assert(dirPlan.contains("direction=backward"), dirPlan)
      val pagedPlan2 = spark.read.format("loki")
        .option("endpoint", st.endpoint).option("default_label", "app")
        .option("query_limit", "16").option("direction", "backward").load()
        .queryExecution.executedPlan.toString
      assert(!pagedPlan2.contains("direction="), pagedPlan2)
    } finally st.stop()
  }

  test("escaped selector values survive the full wire round trip (round-13 review fix)") {
    // a label value containing a quote and a line pattern containing a
    // backtick: parsed at load, re-rendered ESCAPED onto the wire, and
    // the stub (like real Loki) Go-unescapes them back before matching
    val st = new LokiStubServer
    st.start()
    try {
      val base = 1704067200000000000L
      st.seed(Seq(
        st.LogRow(base + 1, Map("msg" -> "say \"hi\""), "has tick`mark here"),
        st.LogRow(base + 2, Map("msg" -> "say \"hi\""), "no tick"),
        st.LogRow(base + 3, Map("msg" -> "other"), "has tick`mark here")))
      val got = spark.read.format("loki")
        .option("endpoint", st.endpoint)
        .option("selector", """{msg="say \"hi\""} |= "tick`mark"""")
        .load()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
        .select("line")
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq("has tick`mark here"))
      val wire = st.queries.synchronized(st.queries.distinct.toList)
      assert(wire == List("""{msg="say \"hi\""} |= "tick`mark""""), wire)
    } finally st.stop()
  }

  test("pushed label values with a backslash, quote or newline match exactly") {
    // rendered raw, `{path="C:\temp"}` decodes to a TAB on the server
    // (the TAB row, or no row, with no residual Filter to notice) and
    // `{path="say "hi""}` is malformed (HTTP 400): every value renders
    // escaped, so the server decodes exactly the SQL literal
    val st = new LokiStubServer
    st.start()
    try {
      val now = System.currentTimeMillis() * 1000000L - 60L * 1000000000L
      val values = Seq("C:\\temp", "say \"hi\"", "two\nlines")
      st.seed(values.zipWithIndex.map { case (v, i) =>
        st.LogRow(now + i, Map("path" -> v), s"row $i")
      } :+ st.LogRow(now + 9, Map("path" -> "C:\temp"), "tab row"))
      values.zipWithIndex.foreach { case (v, i) =>
        val df = spark.read.format("loki")
          .option("endpoint", st.endpoint)
          .load()
          .filter(col("labels")("path") === v)
          .select("line")
        assert(df.collect().map(_.getString(0)).toSeq == Seq(s"row $i"),
          s"value $i")
        val residual = df.queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
        }
        assert(residual.isEmpty,
          s"expected no residual filter:\n${df.queryExecution.optimizedPlan}")
      }
    } finally st.stop()
  }

  test("batch selector option conjoins with optimizer-pushed filters on the wire") {
    val st = new LokiStubServer
    st.start()
    try {
      st.seed((0 until 60).map { i =>
        val env = if (i % 2 == 0) "prod" else "dev"
        val app = if (i % 3 == 0) "api" else "web"
        st.LogRow(1704067200000000000L + i * 1000000000L,
          Map("app" -> app, "env" -> env),
          s"${if (i % 5 == 0) "error" else "ok"} i=$i")
      })
      st.queries.synchronized(st.queries.clear())
      val got = spark.read.format("loki")
        .option("endpoint", st.endpoint)
        .option("selector", """{env="prod"} |= "i="""")
        .load()
        .filter(element_at(col("labels"), "app") === "api" &&
          col("line").like("%error%") &&
          // explicit window: the seeded 2024 rows sit outside the
          // default now−30d scan window
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
        .select("line")
        .collect().map(_.getString(0)).toSet
      // env=prod (i even) ∧ app=api (i%3==0) ∧ error (i%5==0) → i%30==0
      assert(got == Set("error i=0", "error i=30"))
      // ONE wire query carrying selector-option matchers AND stages first,
      // then the optimizer-pushed matcher and line filter
      val wire = st.queries.synchronized(st.queries.distinct.toList)
      assert(wire == List("""{env="prod", app="api"} |= `i=` |= `error`"""),
        s"wire: $wire")
      // a malformed selector fails at load(), not first-task time
      assertThrows[IllegalArgumentException] {
        spark.read.format("loki")
          .option("endpoint", st.endpoint)
          .option("selector", "{app=}")
          .load()
      }
    } finally st.stop()
  }

  test("drain templates: mask first, then learn the still-varying positions (round 13)") {
    // the gate corpus is shape-uniform (every line "<type> value=<v>");
    // this pins mixed shapes, class-masking before shape grouping (the
    // Drain preprocessing: a timestamp-led line must NOT shatter the
    // head key into per-line groups), the single-line group, and
    // per-position agreement within a group
    import spark.implicits._
    val got = graft.operators.ConnectorOps.drainTemplates(
      Seq(
        "GET /a 200", "GET /b 200", "GET /c 500", // mask → "GET /x <num>";
        "GET /a done",                            // pos2+pos3 still vary → <*>
        "POST /x 201",                            // own head; masked literal
        "shutdown",                               // 1-token shape → literal
        "1712000000 rotate /a",                   // digit-led: heads mask to
        "1713000000 rotate /b"                    // one <num> group, pos3 varies
      ).toDF("line"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(
      ("GET <*> <*>", 4L, "GET /a 200"),
      ("POST /x <num>", 1L, "POST /x 201"),
      ("shutdown", 1L, "shutdown"),
      ("<num> rotate <*>", 2L, "1712000000 rotate /a")), got)
  }

  test("drain templates differential: random corpora match an independent fold (round 13)") {
    // seeded-random lines through the distributed construction vs a
    // plain-Scala reimplementation (java.util.regex mask + groupBy +
    // per-position agreement) — a bug in the explode/agg/join shape or
    // in Spark-vs-plain split semantics (empty tokens from repeated
    // separators included) would diverge
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val vocab = Seq("GET", "POST", "ok", "fail", "x", "/a", "/b",
      "10.0.0.1", "1712345678", "7f3a9b2c4d5e6f70", "", "u123")
    val maskRes = Seq(
      ("[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}") -> "<uuid>",
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<ip>",
      ("\\b(?:" + ((0 to 6).map(j => s"[0-9]{$j}[a-f][0-9a-f]{${7 - j},}") :+
        "[0-9]{7,}[a-f][0-9a-f]*").mkString("|") + ")\\b") -> "<hex>",
      "\\d+(\\.\\d+)?" -> "<num>")
    def mask(s: String): String =
      maskRes.foldLeft(s) { case (x, (p, r)) => x.replaceAll(p, r) }
    for (iter <- 0 until 3) {
      val lines = (0 until 200).map { _ =>
        (0 until (1 + rnd.nextInt(5)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val expected = lines
        .map(l => (l, mask(l).split(" ", -1).toSeq))
        .groupBy { case (_, tk) => (tk.size, tk.head) }
        .map { case (_, grp) =>
          val toks = grp.map(_._2)
          val tpl = toks.head.indices.map { i =>
            val vs = toks.map(_(i)).distinct
            if (vs.size == 1) vs.head else "<*>"
          }.mkString(" ")
          (tpl, grp.size.toLong, grp.map(_._1).min)
        }.toSet
      val got = graft.operators.ConnectorOps.drainTemplates(
        lines.toDF("line"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSet
      assert(got == expected, s"iter $iter: got $got\nexpected $expected")
    }
  }

  test("log template normalizer: typed placeholders, most-specific-first (round 13)") {
    // the loki_log_patterns gate exercises only numeric lines (the events
    // corpus); this pins the other token classes and their precedence —
    // a uuid is ALSO four hex runs, an ip ALSO four numbers, so a wrong
    // rule order shreds them into mixed placeholders
    import spark.implicits._
    val got = Seq(
      "conn 7f3a9b2c4d5e6f70 from 10.0.12.9 took 3.5ms",
      "req 550e8400-e29b-41d4-a716-446655440000 status 404",
      "GET /api/v2/items/123",
      "DEADBEEF stays: uppercase hex is a word, not an id",
      // a pure-decimal run of 8+ digits is a NUMBER (epoch ts, long id),
      // not hex — the hex class requires at least one a-f letter
      "purchase id=12345678 at 1704067200000",
      "letter late 0000000a and letter early a0000000 are hex",
      "plain text with no variables")
      .toDF("line")
      .select(graft.operators.ConnectorOps.logTemplate(col("line")).as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "conn <hex> from <ip> took <num>ms",
      "req <uuid> status <num>",
      "GET /api/v<num>/items/<num>",
      "DEADBEEF stays: uppercase hex is a word, not an id",
      "purchase id=<num> at <num>",
      "letter late <hex> and letter early <hex> are hex",
      "plain text with no variables"), got)
  }
}

/** JVM-local failure-injection probe for the task-retry test (accumulator
  * updates from failed tasks are discarded, so they can't count injections).
  */
private[loki] object RetryProbe {
  val injected = new java.util.concurrent.atomic.AtomicInteger(0)
}
