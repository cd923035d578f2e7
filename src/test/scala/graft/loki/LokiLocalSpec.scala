package graft.loki

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.plans.LokiLocalExec
import graft.sources.loki.testkit.LokiStubServer

/** Driver-local answers ([[graft.plans.LokiLocalStrategy]]): which plans
  * answer a single-request Loki query on the driver, that they return the
  * rows the distributed plan returns from the same stub with the same
  * requests and no Spark job, and which plans stay distributed.
  */
class LokiLocalSpec extends SparkTestBase with BeforeAndAfterAll {

  private val stub = new LokiStubServer
  private val base = 1704067200000000000L // 2024-01-01T00:00:00Z
  private val minNs = 60L * 1000000000L

  override def beforeAll(): Unit = {
    stub.start()
    // 300 rows over five hours, one a minute: two apps, two levels, json
    // lines with a status field and a token in every third line
    stub.seed((0 until 300).map { i =>
      stub.LogRow(base + i * minNs,
        Map("app" -> (if (i % 2 == 0) "web" else "api"),
          "level" -> (if (i % 5 == 0) "error" else "info")),
        s"""{"status":"${Seq(200, 500, 404)(i % 3)}","n":$i${if (i % 3 == 0) ",\"tok\":1" else ""}}""")
    })
  }

  override def afterAll(): Unit = stub.stop()

  private def table(opts: (String, String)*): String = {
    val r = spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
    opts.foreach { case (k, v) => r.option(k, v) }
    val name = s"loki_local_${opts.map { case (k, v) => s"${k}_$v" }.mkString("_")}"
    r.load().createOrReplaceTempView(name)
    name
  }

  private val window =
    "timestamp >= '2024-01-01 00:00:00' AND timestamp < '2024-01-01 05:00:00'"

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def requests(): Int = stub.queries.synchronized(stub.queries.size)

  /** Spark jobs started by `body` on this thread: its jobs carry a job
    * group, and a marker job run after it proves the listener has seen
    * every event before the marker.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"loki-local-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "-marker" => marked.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "query")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marked.await(30, TimeUnit.SECONDS), "marker job never seen")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("single-request shapes answer on the driver with the distributed rows") {
    val shapes = Seq(
      "browser" -> s"""SELECT timestamp, labels, line FROM ${table()}
        |WHERE labels['app'] = 'web' AND $window AND line LIKE '%tok%'
        |ORDER BY timestamp DESC LIMIT 7""".stripMargin,
      "metric panel" -> s"""SELECT date_trunc('hour', timestamp) AS bucket,
        |labels['level'] AS level, count(*) AS n FROM ${table()}
        |WHERE labels['app'] = 'api' AND $window GROUP BY 1, 2""".stripMargin,
      "parser filter" -> s"""SELECT timestamp, labels, line FROM ${table()}
        |WHERE labels['app'] = 'web' AND $window
        |AND get_json_object(line, '$$.status') = '500'""".stripMargin,
      "paged scan" -> s"""SELECT timestamp, line FROM ${table("query_limit" -> "40")}
        |WHERE labels['app'] = 'api' AND $window""".stripMargin)
    for ((shape, sql) <- shapes) {
      val df = spark.sql(sql)
      val plan = executed(df)
      assert(plan.isInstanceOf[LokiLocalExec], s"$shape must answer locally:\n$plan")
      assert(plan.toString.contains("LokiLogScan: ") || plan.toString.contains("LokiMetricScan: "),
        s"$shape must keep the scan line in EXPLAIN:\n$plan")
      val r0 = requests()
      val (local, localJobs) = jobsOf(df.collect().toSeq)
      val localRequests = requests() - r0
      // the distributed plan of the same query: RDD callers run the child
      val r1 = requests()
      val (distributed, distributedJobs) = jobsOf(df.rdd.collect().toSeq)
      val distributedRequests = requests() - r1
      assert(local.nonEmpty, s"$shape returned nothing")
      assert(localJobs == 0, s"$shape ran $localJobs Spark jobs")
      assert(distributedJobs > 0, s"$shape: the distributed leg ran no job")
      if (shape == "browser") assert(local == distributed, shape)
      else assert(local.sortBy(_.toString) == distributed.sortBy(_.toString), shape)
      assert(localRequests == distributedRequests,
        s"$shape: $localRequests local vs $distributedRequests distributed requests")
      if (shape == "paged scan") assert(localRequests >= 4, s"$localRequests pages")
      // the kept scan reports the rows it read
      val scanRows = plan.collectFirst { case b: BatchScanExec => b.metrics("numOutputRows") }
      assert(scanRows.get.value > 0, s"$shape: scan rows metric not posted")
    }
  }

  test("multi-partition, aggregate, join and unbounded residual plans stay distributed") {
    val t = table()
    val shapes = Seq(
      "partitions=4" -> s"SELECT line FROM ${table("partitions" -> "4")} WHERE $window",
      "aggregate" -> s"SELECT max(length(line)) FROM $t WHERE $window",
      "join" -> s"""SELECT a.line FROM (SELECT * FROM $t WHERE $window) a
        |JOIN (SELECT * FROM $t WHERE $window) b ON a.line = b.line""".stripMargin,
      "residual filter" -> s"SELECT line FROM $t WHERE $window AND length(line) > 30")
    for ((shape, sql) <- shapes) {
      val df = spark.sql(sql)
      val plan = executed(df)
      assert(plan.collectFirst { case l: LokiLocalExec => l }.isEmpty,
        s"$shape must stay distributed:\n$plan")
      val (rows, jobs) = jobsOf(df.collect())
      assert(rows.nonEmpty && jobs > 0, s"$shape: ${rows.length} rows, $jobs jobs")
    }
    // a pushed LIMIT bounds the response, so the residual may run locally
    val limited = spark.sql(
      s"SELECT line FROM (SELECT line FROM $t WHERE $window LIMIT 3) WHERE length(line) > 30")
    assert(executed(limited).isInstanceOf[LokiLocalExec], executed(limited).toString)
    val got: Seq[Row] = limited.collect().toSeq
    assert(got.size <= 3 && got.forall(_.getString(0).length > 30), got)
  }

  test("a response above spark.driver.maxResultSize is read by the distributed plan") {
    val big = new LokiStubServer
    big.start()
    val conf = org.apache.spark.SparkEnv.get.conf
    val saved = conf.getOption("spark.driver.maxResultSize")
    try {
      // ~2 MB of incompressible lines for a one-row answer
      val r = new scala.util.Random(7)
      big.seed((0 until 12000).map(i => big.LogRow(base + i * 1000000000L,
        Map("app" -> "big"), f"$i%05d " + r.alphanumeric.take(160).mkString)))
      spark.read.format("loki").option("endpoint", big.endpoint)
        .option("default_label", "app").load().createOrReplaceTempView("loki_local_big")
      val df = spark.sql(s"""SELECT line FROM loki_local_big WHERE $window
        |ORDER BY timestamp LIMIT 1""".stripMargin)
      assert(executed(df).isInstanceOf[LokiLocalExec], executed(df).toString)
      conf.set("spark.driver.maxResultSize", "1m")
      val (rows, jobs) = jobsOf(df.collect())
      assert(rows.map(_.getString(0).take(5)).toSeq == Seq("00000"))
      assert(jobs > 0, "the oversized response must fall back to a Spark job")
      conf.set("spark.driver.maxResultSize", "0") // unlimited: answered locally
      assert(jobsOf(df.collect())._2 == 0)
    } finally {
      saved.fold(conf.remove("spark.driver.maxResultSize"))(
        conf.set("spark.driver.maxResultSize", _))
      big.stop()
    }
  }
}
