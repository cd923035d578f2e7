package graft.loki

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sources.loki.testkit.LokiStubServer

/** LogQL metric-query pushdown (graft.plans.LokiMetricAggRule): a
  * time-bucketed grouped count over the log relation must be answered by
  * ONE wire metric query (`sum by (…) (count_over_time({…}[step]))`)
  * with results identical to the host-side aggregation of the same scan
  * — and every shape outside the rewrite's exactness contract must fall
  * back to the scan untouched.
  */
class LokiMetricSpec extends SparkTestBase with BeforeAndAfterAll {

  private val stub = new LokiStubServer

  // a known corpus: 3 days × hours, labels app/env; some rows exactly ON
  // bucket boundaries (the floor-vs-range-vector boundary the −1ns
  // evaluation trick exists for)
  private val dayNs = 86400L * 1000000000L
  private val baseNs = 1704067200000000000L // 2024-01-01T00:00:00Z

  override def beforeAll(): Unit = {
    stub.start()
    val rows = for {
      d <- 0 until 3
      h <- 0 until 24
      k <- 0 until (1 + (d + h) % 3)
    } yield stub.LogRow(
      baseNs + d * dayNs + h * 3600L * 1000000000L, // exactly on the hour
      Map("app" -> s"app${h % 2}", "env" -> (if (h % 3 == 0) "prod" else "dev")),
      s"d=$d h=$h k=$k ${if (k == 0) "error" else "ok"}")
    stub.seed(rows)
  }

  override def afterAll(): Unit = stub.stop()

  private def lokiDf(extra: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
    extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  /** Exclude it to get the host-side aggregation of the same query. */
  private val metricRule = "graft.plans.LokiMetricAggRule"

  private def windowed(df: DataFrame): DataFrame =
    df.filter(
      col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("timestamp") < lit("2024-01-04 00:00:00").cast("timestamp"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("grouped day-bucket count pushes as one sum by metric query") {
    val q0 = stub.queries.synchronized(stub.queries.size)
    val df = windowed(lokiDf())
      .groupBy(
        date_trunc("day", col("timestamp")).as("bucket"),
        element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket", "app")
    val plan = planOf(df)
    assert(plan.contains("LokiMetricScan"), plan)
    assert(plan.contains("metric_query=sum by (app) " +
      "(count_over_time({app=~\".+\"} [86400s]))"), plan)
    val got = df.collect().map(r =>
      (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2)))

    // expected: host-side aggregation with the rewrite disabled
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(
        date_trunc("day", col("timestamp")).as("bucket"),
        element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket", "app"))
    assert(!planOf(exp).contains("LokiMetricScan"))
    val expRows = exp.collect().map(r =>
      (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2)))
    assert(got.toSeq == expRows.toSeq)
    assert(got.nonEmpty)

    // wire pin: the requests since q0 are metric queries only — no log
    // scan ran for the pushed aggregate (the fallback side issued plain
    // selector scans, which must NOT be metric-shaped)
    val wire = stub.queries.synchronized(stub.queries.drop(q0).toList)
    assert(wire.exists(_.startsWith("sum by (app) (count_over_time(")), wire)
  }

  test("line filter stages ride inside count_over_time") {
    val df = windowed(lokiDf())
      .filter(col("line").like("%error%"))
      .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val plan = planOf(df)
    assert(plan.contains(
      "metric_query=sum(count_over_time({app=~\".+\"} |= `error` [3600s]))"),
      plan)
    val got = df.orderBy("bucket").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .filter(col("line").like("%error%"))
      .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
    assert(got.toSeq == exp.toSeq)
    assert(got.nonEmpty)
  }

  test("label equality filter becomes a selector matcher") {
    val df = windowed(lokiDf())
      .filter(element_at(col("labels"), "env") === "prod")
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val plan = planOf(df)
    // the table's default matcher stays: `env` does not imply `app`
    assert(plan.contains("count_over_time({app=~\".+\", env=\"prod\"} [86400s])"), plan)
    val got = df.orderBy("bucket").collect().map(r => r.getLong(1)).toSeq
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .filter(element_at(col("labels"), "env") === "prod")
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")).collect().map(r => r.getLong(1)).toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("partitions=N slices the metric window into whole-bucket runs") {
    val df = windowed(lokiDf(Map("partitions" -> "4")))
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    assert(planOf(df).contains("LokiMetricScan"))
    // 3 day-buckets, 4 requested slices → clamped to 3 disjoint queries
    assert(df.rdd.getNumPartitions == 3)
    val got = df.orderBy("bucket").collect().map(_.getLong(1)).toSeq
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")).collect().map(_.getLong(1)).toSeq
    assert(got == exp)
  }

  test("unbucketed grouped count pushes with step = window width") {
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("env")
    val plan = planOf(df)
    assert(plan.contains(
      "metric_query=sum by (env) (count_over_time({app=~\".+\"} [259200s]))"),
      plan)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("env")).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exp && got.nonEmpty, s"got=$got exp=$exp")
  }

  test("sum(octet_length(line)) pushes as bytes_over_time") {
    val df = windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(sum(octet_length(col("line"))).as("bytes"))
      .orderBy("bucket")
    val plan = planOf(df)
    assert(plan.contains(
      "metric_query=sum(bytes_over_time({app=~\".+\"} [86400s]))"), plan)
    val got = df.collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(sum(octet_length(col("line"))).as("bytes"))
      .orderBy("bucket")).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
    assert(got == exp && got.nonEmpty)
    // mixed kinds ride one wire query PER KIND since round 15 —
    // count + bytes together still push, as the two-query relation
    val mixed = planOf(windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")))
      .agg(count(lit(1)), sum(octet_length(col("line")))))
    assert(mixed.contains("LokiMetricScan") &&
      mixed.contains("count_over_time(") && mixed.contains("bytes_over_time("),
      mixed)
    // length() measures CHARACTERS, not the bytes Loki sums — fallback
    assert(!planOf(windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")))
      .agg(sum(length(col("line")))))
      .contains("LokiMetricScan"))
  }

  test("projections over the group columns collapse INTO the rewrite") {
    // CollapseProject folds a consumer's projection into the aggregate
    // list — unix_micros(date_trunc(…)) AS bucket_us — and the rewrite
    // must still fire, mapping the expression onto the metric relation's
    // bucket attribute (a past regression: the pre-projection probe
    // rewrote while the projected plan silently scanned)
    val df = windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("bucket")).as("bucket_us"),
        (col("cnt") * 2).as("cnt2"))
      .orderBy("bucket_us")
    val plan = planOf(df)
    assert(plan.contains("LokiMetricScan"), plan)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("bucket")).as("bucket_us"),
        (col("cnt") * 2).as("cnt2"))
      .orderBy("bucket_us")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("SQL surface through the catalog rewrites identically") {
    spark.conf.set("spark.sql.catalog.metcat", "graft.sources.loki.LokiCatalog")
    spark.conf.set("spark.sql.catalog.metcat.endpoint", stub.endpoint)
    spark.conf.set("spark.sql.catalog.metcat.default_label", "app")
    val df = spark.sql(
      """SELECT date_trunc('day', timestamp) AS bucket,
        |       labels['app'] AS app, count(*) AS cnt
        |FROM metcat.default.loki
        |WHERE timestamp >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND timestamp < TIMESTAMP '2024-01-04 00:00:00'
        |GROUP BY 1, 2 ORDER BY bucket, app""".stripMargin)
    val plan = planOf(df)
    assert(plan.contains("LokiMetricScan") &&
      plan.contains("sum by (app) (count_over_time("), plan)
    val got = df.collect().map(r =>
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSeq
    val exp = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(
        date_trunc("day", col("timestamp")).as("bucket"),
        element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket", "app")).collect().map(r =>
        (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("selector-option matchers and stages compose into the metric query") {
    val df = windowed(lokiDf(
      Map("selector" -> """{env="dev"} |= "ok"""")))
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")
    val plan = planOf(df)
    assert(plan.contains(
      "count_over_time({env=\"dev\"} |= `ok` [86400s])"), plan)
    val got = df.collect().map(r => r.getLong(1)).toSeq
    val exp = plannedWithout(metricRule)(windowed(lokiDf(
      Map("selector" -> """{env="dev"} |= "ok"""")))
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")).collect().map(r => r.getLong(1)).toSeq
    assert(got == exp && got.nonEmpty, s"got=$got exp=$exp")
  }

  test("fallbacks: every shape outside the exactness contract scans") {
    def noRewrite(df: DataFrame): Unit = {
      val plan = planOf(df)
      assert(!plan.contains("LokiMetricScan"), plan)
    }
    // unaligned window start (not a day multiple)
    noRewrite(
      lokiDf()
        .filter(
          col("timestamp") >= lit("2024-01-01 00:30:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-04 00:00:00").cast("timestamp"))
        .groupBy(date_trunc("day", col("timestamp"))).agg(count(lit(1))))
    // missing end bound
    noRewrite(
      lokiDf()
        .filter(col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp"))
        .groupBy(date_trunc("day", col("timestamp"))).agg(count(lit(1))))
    // non-count aggregate
    noRewrite(
      windowed(lokiDf())
        .groupBy(date_trunc("day", col("timestamp")))
        .agg(max(col("line"))))
    // distinct count
    noRewrite(
      windowed(lokiDf())
        .groupBy(date_trunc("day", col("timestamp")))
        .agg(countDistinct(col("line"))))
    // week bucket: not epoch-aligned
    noRewrite(
      windowed(lokiDf())
        .groupBy(date_trunc("week", col("timestamp"))).agg(count(lit(1))))
    // absent-matching label matcher (!=): Loki would count absent-label
    // streams SQL must drop
    noRewrite(
      windowed(lokiDf())
        .filter(element_at(col("labels"), "env") =!= "prod")
        .groupBy(date_trunc("day", col("timestamp"))).agg(count(lit(1))))
    // untranslatable residual conjunct
    noRewrite(
      windowed(lokiDf())
        .filter(length(col("line")) > 5)
        .groupBy(date_trunc("day", col("timestamp"))).agg(count(lit(1))))
    // opt-out: the rule named in spark.sql.optimizer.excludedRules
    noRewrite(plannedWithout(metricRule)(
      windowed(lokiDf())
        .groupBy(date_trunc("day", col("timestamp"))).agg(count(lit(1)))))
  }

  test("repeated bounds rewrite over the tightest window and match the scan") {
    // windowed() plus a looser start, a tighter start and a looser end:
    // the window is their intersection, [2024-01-02, 2024-01-04)
    def repeated(df: DataFrame): DataFrame =
      windowed(df).filter(
        col("timestamp") >= lit("2023-12-31 00:00:00").cast("timestamp") &&
          col("timestamp") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
          col("timestamp") < lit("2024-01-05 00:00:00").cast("timestamp"))
    def agg(df: DataFrame): DataFrame =
      repeated(df)
        .groupBy(
          date_trunc("day", col("timestamp")).as("bucket"),
          element_at(col("labels"), "app").as("app"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket", "app")
    def rows(df: DataFrame): Seq[(Long, String, Long)] =
      df.collect().toSeq.map(r =>
        (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    val plan = planOf(agg(lokiDf()))
    assert(plan.contains("LokiMetricScan") &&
      plan.contains(s"start=${baseNs + dayNs}, end=${baseNs + 3 * dayNs},"),
      plan)
    val host = plannedWithout(metricRule)(agg(lokiDf()))
    assert(!planOf(host).contains("LokiMetricScan"))
    val got = rows(agg(lokiDf()))
    assert(got.map(_._1).distinct.size == 2, got)
    assert(got == rows(host))
  }

  test("boundary rows: a row exactly on a bucket edge lands in the floor bucket") {
    // every seeded row sits exactly on an hour boundary; hour-bucketing
    // therefore puts each row at its own timestamp's bucket — the
    // (t−range, t] range-vector semantics would shift edge rows one
    // bucket EARLIER without the −1ns evaluation-point placement
    val df = windowed(lokiDf())
      .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    assert(planOf(df).contains("LokiMetricScan"))
    val got = df.collect()
      .map(r => r.getTimestamp(0).getTime * 1000L -> r.getLong(1)).toMap
    // day 0, hour 0: k rows where k = 1 + (0+0)%3 = 1
    assert(got(baseNs / 1000L) == 1L)
    // day 2, hour 23: 1 + (2+23)%3 = 2
    assert(got((baseNs + 2 * dayNs + 23 * 3600L * 1000000000L) / 1000L) == 2L)
    assert(got.values.sum == (for {
      d <- 0 until 3; h <- 0 until 24
    } yield 1L + (d + h) % 3).sum)
  }

  test("avg(octet_length) pushes as the bytes/count pair on one relation") {
    val q0 = stub.queries.synchronized(stub.queries.size)
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(avg(octet_length(col("line"))).as("avg_bytes"),
        count(lit(1)).as("cnt"))
      .orderBy("app")
    val plan = planOf(df)
    assert(plan.contains("LokiMetricScan") &&
      plan.contains("bytes_over_time(") && plan.contains("count_over_time("),
      plan)
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(avg(octet_length(col("line"))).as("avg_bytes"),
        count(lit(1)).as("cnt"))
      .orderBy("app"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == host.map(_._1).toSeq)
    got.zip(host).foreach { case ((_, a, c), (_, ha, hc)) =>
      assert(c == hc)
      assert(math.abs(a - ha) < 1e-9, s"avg diverged: $a vs $ha")
    }
    // exactly two DISTINCT wire queries (one per kind) for the whole
    // aggregate — the global Sort's sampling pass re-reads the scan, so
    // each may be issued more than once (and answered from the stub's
    // result cache); the set is what pins the wire shape
    val wired = stub.queries.synchronized(stub.queries.drop(q0).toList)
      .filter(_.contains("_over_time")).toSet
    assert(wired.size == 2 &&
      wired.count(_.contains("bytes_over_time")) == 1 &&
      wired.count(_.contains("count_over_time")) == 1, wired)
  }

  test("ORDER BY cnt DESC LIMIT k pushes as topk(k, …); ties stay valid") {
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc)
      .limit(1)
    val plan = planOf(df)
    assert(plan.contains("topk(1, sum by (env) (count_over_time("), plan)
    // env=dev carries more rows than prod in the seeded corpus: a unique
    // top-1, so the pushed answer equals the host's
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc).limit(1))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == host)
  }

  test("ORDER BY cnt ASC LIMIT k pushes as bottomk(k, …)") {
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt"))
      .limit(1)
    val plan = planOf(df)
    assert(plan.contains("bottomk(1, sum by (env) (count_over_time("), plan)
    // prod carries fewer rows than dev in the seeded corpus: a unique
    // bottom-1, so the pushed answer equals the host's
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt")).limit(1))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == host)
  }

  test("per-bucket row_number rank pushes as BUCKETED topk/bottomk") {
    import org.apache.spark.sql.expressions.{Window => W}
    // dedicated corpus with DISTINCT per-day counts, so every selection
    // boundary is tie-free: day0 a=5,b=3,c=1; day1 a=1,b=2,c=4
    val scratch = new LokiStubServer
    scratch.start()
    try {
      val counts = Seq(
        (0, "a", 5), (0, "b", 3), (0, "c", 1),
        (1, "a", 1), (1, "b", 2), (1, "c", 4))
      scratch.seed(counts.flatMap { case (d, app, n) =>
        (0 until n).map(j => scratch.LogRow(
          baseNs + d * dayNs + j * 1000000000L + app.hashCode.abs % 7,
          Map("app" -> app), s"$app row $j"))
      })
      def ranked(rn: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        spark.read.format("loki")
          .option("endpoint", scratch.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-01-03 00:00:00").cast("timestamp"))
          .groupBy(date_trunc("day", col("timestamp")).as("bucket"),
            element_at(col("labels"), "app").as("app"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(
            W.partitionBy(col("bucket")).orderBy(rn(col("cnt")))))
      // top-2 per day, descending
      val top = ranked(_.desc).filter(col("rn") <= 2)
        .select(col("bucket"), col("app"), col("cnt"))
        .orderBy("bucket", "app")
      val plan = planOf(top)
      assert(plan.contains("topk(2, sum by (app) (count_over_time(") &&
        plan.contains("[86400s]"), plan)
      val got = top.collect()
        .map(r => (r.getTimestamp(0).toInstant.toString.take(10),
          r.getString(1), r.getLong(2))).toSeq
      assert(got == Seq(("2024-01-01", "a", 5L), ("2024-01-01", "b", 3L),
        ("2024-01-02", "b", 2L), ("2024-01-02", "c", 4L)), got)
      // …equal to the host plan with the rewrite off
      val host = plannedWithout(metricRule)(ranked(_.desc)
        .filter(col("rn") <= 2)
        .select(col("bucket"), col("app"), col("cnt"))
        .orderBy("bucket", "app")).collect()
        .map(r => (r.getTimestamp(0).toInstant.toString.take(10),
          r.getString(1), r.getLong(2))).toSeq
      assert(got == host)
      // ascending rank → bottomk; rn = 1 form
      val bottom = ranked(_.asc).filter(col("rn") === 1)
        .select(col("app")).orderBy("app")
      assert(planOf(bottom).contains("bottomk(1, sum by (app) ("),
        planOf(bottom))
      assert(bottom.collect().map(_.getString(0)).toSeq == Seq("a", "c"))
      // refusal: partitioning on a LABEL (not the bucket) is not the
      // per-evaluation-point shape
      val byApp = spark.read.format("loki")
        .option("endpoint", scratch.endpoint)
        .option("default_label", "app").load()
        .filter(
          col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-03 00:00:00").cast("timestamp"))
        .groupBy(date_trunc("day", col("timestamp")).as("bucket"),
          element_at(col("labels"), "app").as("app"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("app")).orderBy(col("cnt").desc)))
        .filter(col("rn") <= 1)
      assert(!planOf(byApp).contains("topk("), planOf(byApp))
    } finally scratch.stop()
  }

  test("topk refusals: bucketed form, secondary sort key") {
    // bucketed: Prometheus topk selects per evaluation point — not the
    // SQL global top-k — so the relation keeps all series
    val bucketed = windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc).limit(2)
    assert(!planOf(bucketed).contains("topk("), planOf(bucketed))
    // secondary tie-break key: SQL's answer is deterministic, the
    // server's tie choice is not — must not push
    val tiebreak = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("env")).limit(1)
    assert(!planOf(tiebreak).contains("topk("), planOf(tiebreak))
    // both still answer correctly from their fallback plans
    assert(bucketed.count() == 2L && tiebreak.count() == 1L)
  }

  test("unwrapped avg pushes as avg_over_time with guard+unwrap+error stages") {
    import graft.functions.GraftFunctions.{logfmt_get, loki_unwrap}
    val q0 = stub.queries.synchronized(stub.queries.size)
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(avg(loki_unwrap(logfmt_get(col("line"), lit("h")))).as("avg_h"))
      .orderBy("app")
    val plan = planOf(df)
    assert(plan.contains("LokiMetricScan") &&
      plan.contains("avg_over_time({app=~\".+\"} | logfmt gp0=\"h\" " +
        "| gp0!=\"\" | unwrap gp0 | __error__=\"\" [259200s]) by (app)"),
      plan)
    // all-unwrapped SELECT: the group-enumeration count query rides along
    assert(plan.contains("sum by (app) (count_over_time({app=~\".+\"} " +
      "[259200s]))"), plan)
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1)))
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(avg(loki_unwrap(logfmt_get(col("line"), lit("h")))).as("avg_h"))
      .orderBy("app"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == host.map(_._1).toSeq)
    got.zip(host).foreach { case ((_, a), (_, ha)) =>
      assert(math.abs(a - ha) < 1e-9, s"avg diverged: $a vs $ha")
    }
    assert(got.nonEmpty)
    val wired = stub.queries.synchronized(stub.queries.drop(q0).toList)
      .filter(_.contains("_over_time")).toSet
    assert(wired.exists(_.startsWith("avg_over_time(")), wired)
  }

  test("unwrapped min/max/sum ride one wire query per kind, one relation") {
    import graft.functions.GraftFunctions.{logfmt_get, loki_unwrap}
    def acc = loki_unwrap(logfmt_get(col("line"), lit("h")))
    val df = windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(min(acc).as("mn"), max(acc).as("mx"), sum(acc).as("sm"))
      .orderBy("bucket")
    val plan = planOf(df)
    assert(plan.contains("min_over_time(") && plan.contains("max_over_time("),
      plan)
    // sum_over_time is outside LogQL's range-agg grouping: outer-sum form
    assert(plan.contains("sum(sum_over_time(") &&
      plan.contains("min_over_time({app=~\".+\"} | logfmt gp0=\"h\" " +
        "| gp0!=\"\" | unwrap gp0 | __error__=\"\" [86400s]) by ()"),
      plan)
    val got = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(date_trunc("day", col("timestamp")).as("bucket"))
      .agg(min(acc).as("mn"), max(acc).as("mx"), sum(acc).as("sm"))
      .orderBy("bucket")).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.toSeq == host.toSeq && got.nonEmpty, s"got=${got.toSeq}")
  }

  test("percentile over an unwrapped field pushes as quantile_over_time") {
    import graft.functions.GraftFunctions.{logfmt_get, loki_unwrap}
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(percentile(loki_unwrap(logfmt_get(col("line"), lit("h"))),
        lit(0.9)).as("p90"))
      .orderBy("env")
    val plan = planOf(df)
    assert(plan.contains("quantile_over_time(0.9, {app=~\".+\"} " +
      "| logfmt gp0=\"h\" | gp0!=\"\" | unwrap gp0 | __error__=\"\" " +
      "[259200s]) by (env)"), plan)
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1)))
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(percentile(loki_unwrap(logfmt_get(col("line"), lit("h"))),
        lit(0.9)).as("p90"))
      .orderBy("env")).collect().map(r => (r.getString(0), r.getDouble(1)))
    // identical interpolation formula on both sides: rank = φ(n−1),
    // lower + (upper−lower)·frac over integer-valued samples — exact
    assert(got.toSeq == host.toSeq && got.nonEmpty, s"got=${got.toSeq}")
  }

  test("mixed plain + unwrapped kinds share the relation without enumeration") {
    import graft.functions.GraftFunctions.{logfmt_get, loki_unwrap}
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"),
        avg(loki_unwrap(logfmt_get(col("line"), lit("h")))).as("avg_h"))
      .orderBy("app")
    val plan = planOf(df)
    assert(plan.contains("LokiMetricScan") && plan.contains("avg_over_time("),
      plan)
    // the requested count kind already enumerates groups — exactly one
    // count_over_time query on the relation
    assert("count_over_time\\(".r.findAllIn(plan).size == 1, plan)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"),
        avg(loki_unwrap(logfmt_get(col("line"), lit("h")))).as("avg_h"))
      .orderBy("app")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSeq == host.map(t => (t._1, t._2)).toSeq)
    got.zip(host).foreach { case ((_, _, a), (_, _, ha)) =>
      assert(math.abs(a - ha) < 1e-9) }
  }

  test("groups whose rows all fail extraction survive with NULL aggregates") {
    import graft.functions.GraftFunctions.{logfmt_get, loki_unwrap}
    // no line carries key 'nope': every unwrap pipeline row drops, yet
    // SQL keeps every app group with a NULL avg — the enumeration query
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(avg(loki_unwrap(logfmt_get(col("line"), lit("nope")))).as("avg_x"))
      .orderBy("app")
    assert(planOf(df).contains("LokiMetricScan"), planOf(df))
    val got = df.collect().map(r => (r.getString(0), r.isNullAt(1)))
    assert(got.toSeq == Seq(("app0", true), ("app1", true)), got.toSeq)
  }

  test("stddev_pop/var_pop push as stddev/stdvar_over_time; sample variants don't") {
    import graft.functions.GraftFunctions.{logfmt_get, loki_unwrap}
    def acc = loki_unwrap(logfmt_get(col("line"), lit("h")))
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(stddev_pop(acc).as("sd"), var_pop(acc).as("vr"))
      .orderBy("app")
    val plan = planOf(df)
    assert(plan.contains("stddev_over_time(") && plan.contains("stdvar_over_time("),
      plan)
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(stddev_pop(acc).as("sd"), var_pop(acc).as("vr"))
      .orderBy("app")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    got.zip(host).foreach { case ((a, s1, v1), (b, s2, v2)) =>
      assert(a == b)
      // two-pass (stub) vs Spark's central-moment merge: same multiset,
      // different accumulation — tolerance, not bit equality
      assert(math.abs(s1 - s2) < 1e-6 * (1 + math.abs(s2)), s"$s1 vs $s2")
      assert(math.abs(v1 - v2) < 1e-6 * (1 + math.abs(v2)), s"$v1 vs $v2")
    }
    assert(got.nonEmpty)
    // SAMPLE variance/stddev are not LogQL's population semantics
    assert(!planOf(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(stddev_samp(acc))).contains("LokiMetricScan"))
    assert(!planOf(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(var_samp(acc))).contains("LokiMetricScan"))
  }

  test("min_by/max_by FILTER push as first/last_over_time; unfiltered don't") {
    val u = "loki_unwrap(logfmt_get(line, 'h'))"
    def aggd(df: DataFrame): DataFrame = df
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(
        expr(s"min_by($u, timestamp) FILTER (WHERE $u IS NOT NULL)")
          .as("first_h"),
        expr(s"max_by($u, timestamp) FILTER (WHERE $u IS NOT NULL)")
          .as("last_h"))
      .orderBy("app")
    val df = aggd(windowed(lokiDf()))
    val plan = planOf(df)
    assert(plan.contains("first_over_time(") &&
      plan.contains("last_over_time("), plan)
    val got = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val host = plannedWithout(metricRule)(aggd(windowed(lokiDf())))
    assert(!planOf(host).contains("LokiMetricScan"))
    val hostRows = host.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // tied timestamps in this corpus carry identical h values, so the
    // head/last selection is deterministic on both sides — exact equality
    assert(got.toSeq == hostRows.toSeq && got.nonEmpty, s"got=${got.toSeq}")
    // exactness contract: the NOT-NULL filter is REQUIRED (an unfiltered
    // min_by could return the NULL sitting at the earliest timestamp) …
    assert(!planOf(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(expr(s"min_by($u, timestamp)"))).contains("LokiMetricScan"))
    // … and must guard the SAME accessor the value unwraps
    assert(!planOf(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(expr(s"min_by($u, timestamp) FILTER (WHERE " +
        "loki_unwrap(logfmt_get(line, 'k')) IS NOT NULL)")))
      .contains("LokiMetricScan"))
    // … and order on the RAW timestamp column (a transform breaks the
    // sample-order equivalence)
    assert(!planOf(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(expr(s"min_by($u, timestamp + INTERVAL 1 SECOND) " +
        s"FILTER (WHERE $u IS NOT NULL)")))
      .contains("LokiMetricScan"))
  }

  test("unwrap conversion functions render their wire form") {
    import graft.functions.GraftFunctions.{
      logfmt_get, loki_bytes, loki_duration_seconds}
    // the seeded lines carry no duration/bytes units, so results are
    // all-NULL groups — the render and the enumeration path are what
    // this pins; value semantics are the gate rows' job (integer-exact
    // corpus) and LokiParsersSpec's (unit conversions)
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(max(loki_duration_seconds(logfmt_get(col("line"), lit("h"))))
        .as("mx_s"),
        min(loki_bytes(logfmt_get(col("line"), lit("h")))).as("mn_b"))
      .orderBy("app")
    val plan = planOf(df)
    // both kinds unwrap the SAME accessor, so they share one generated
    // extraction label — two wire queries, one gp0
    assert(plan.contains("| unwrap duration_seconds(gp0) | __error__=\"\"") &&
      plan.contains("| unwrap bytes(gp0) | __error__=\"\""), plan)
    val got = df.collect().map(r => (r.getString(0),
      if (r.isNullAt(1)) null else (r.getDouble(1): java.lang.Double),
      if (r.isNullAt(2)) null else (r.getDouble(2): java.lang.Double)))
    // conversion semantics on the bare hour numbers: Go durations need a
    // unit EXCEPT the literal "0" (app0 carries even hours incl. 0 →
    // max 0.0; app1's odd hours all fail → NULL via the enumeration
    // path), while a bare number IS valid bytes (min = the group's
    // smallest hour)
    assert(got.toSeq == Seq(
      ("app0", 0.0: java.lang.Double, 0.0: java.lang.Double),
      ("app1", null, 1.0: java.lang.Double)), got.toSeq)
  }

  test("FILTER-clause counts push per-kind stages; untranslatable conditions don't") {
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("total"),
        expr("count(*) FILTER (WHERE line LIKE '%error%')").as("errs"),
        expr("count(*) FILTER (WHERE labels['env'] = 'prod')").as("prods"))
      .orderBy("app")
    val plan = planOf(df)
    assert(plan.contains("(count_over_time({app=~\".+\"} [259200s]))") &&
      plan.contains("(count_over_time({app=~\".+\"} |= `error` [259200s]))") &&
      plan.contains("(count_over_time({app=~\".+\"} | env=\"prod\" [259200s]))"),
      plan)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3)))
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("total"),
        expr("count(*) FILTER (WHERE line LIKE '%error%')").as("errs"),
        expr("count(*) FILTER (WHERE labels['env'] = 'prod')").as("prods"))
      .orderBy("app")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == host.toSeq && got.nonEmpty, s"got=${got.toSeq}")
    // negated label predicate carries the missing-guard stage
    val neg = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(expr("count(*) FILTER (WHERE labels['env'] != 'prod')").as("nonprod"))
    assert(planOf(neg).contains("""| env!="" | env!="prod""""), planOf(neg))
    val negHost = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(expr("count(*) FILTER (WHERE labels['env'] != 'prod')").as("nonprod"))
      .orderBy("app")).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(neg.orderBy("app").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == negHost)
    // untranslatable FILTER conditions keep the whole host fallback
    def noRewrite(df: DataFrame): Unit =
      assert(!planOf(df).contains("LokiMetricScan"), planOf(df))
    noRewrite(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(expr("count(*) FILTER (WHERE length(line) > 5)")))
    noRewrite(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(expr(
        "count(*) FILTER (WHERE timestamp < TIMESTAMP '2024-01-02 00:00:00')")))
  }

  test("stream-label unwrap pushes guard+unwrap on the label itself") {
    import graft.functions.GraftFunctions.loki_unwrap
    // the seeded labels are non-numeric (app0/app1, prod/dev): every
    // conversion fails, every group survives via enumeration with NULL —
    // the render and the NULL path are the pins; numeric-value
    // semantics are the gate row's job (integer user ids)
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "env").as("env"))
      .agg(avg(loki_unwrap(element_at(col("labels"), "app"))).as("avg_app"))
      .orderBy("env")
    val plan = planOf(df)
    assert(plan.contains("""| app!="" | unwrap app | __error__=""""), plan)
    val got = df.collect().map(r => (r.getString(0), r.isNullAt(1)))
    assert(got.toSeq == Seq(("dev", true), ("prod", true)), got.toSeq)
    // unwrapping a label that is ALSO a group key would lose the key
    // (unwrap removes the label from the series) — host fallback
    val sameKey = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(avg(loki_unwrap(element_at(col("labels"), "app"))))
    assert(!planOf(sameKey).contains("LokiMetricScan"), planOf(sameKey))
  }

  test("unwrap fallbacks: CAST, approx_percentile, push_parsers=false") {
    import graft.functions.GraftFunctions.{logfmt_get, loki_unwrap}
    def noRewrite(df: DataFrame): Unit =
      assert(!planOf(df).contains("LokiMetricScan"), planOf(df))
    // a plain CAST has Spark semantics (trims, accepts '1.5d'), not the
    // wire conversion — must not push
    noRewrite(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(avg(logfmt_get(col("line"), lit("h")).cast("double"))))
    // approximate percentile is not the exact wire quantile
    noRewrite(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app"))
      .agg(percentile_approx(
        loki_unwrap(logfmt_get(col("line"), lit("h"))), lit(0.9), lit(100))))
    // parser stages disabled: unwrapped kinds ride them
    noRewrite(windowed(lokiDf(Map("push_parsers" -> "false")))
      .groupBy(element_at(col("labels"), "app"))
      .agg(avg(loki_unwrap(logfmt_get(col("line"), lit("h"))))))
  }

  test("HAVING survives the rewrite and filters metric samples") {
    val df = windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .orderBy("app")
    val plan = planOf(df)
    assert(plan.contains("LokiMetricScan") && !plan.contains("LokiLogScan"),
      plan)
    val host = plannedWithout(metricRule)(windowed(lokiDf())
      .groupBy(element_at(col("labels"), "app").as("app"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).orderBy("app"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == host)
  }
}
