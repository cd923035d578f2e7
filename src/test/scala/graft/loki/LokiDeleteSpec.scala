package graft.loki

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sources.loki.testkit.LokiStubServer

/** The compactor delete API through the DML surface
  * (graft.plans.LokiDeleteRule): a fully translatable DELETE files one
  * delete request and the rows vanish from subsequent scans; anything
  * outside the exactness contract is refused loudly — mapped exactly or
  * rejected, never partially applied.
  */
class LokiDeleteSpec extends SparkTestBase with BeforeAndAfterAll {

  private val stub = new LokiStubServer
  private val base = 1704067200000000000L // 2024-01-01T00:00:00Z

  override def beforeAll(): Unit = {
    stub.start()
    spark.conf.set("spark.sql.catalog.delcat", "graft.sources.loki.LokiCatalog")
    spark.conf.set("spark.sql.catalog.delcat.endpoint", stub.endpoint)
    spark.conf.set("spark.sql.catalog.delcat.default_label", "app")
    seed()
  }

  private def seed(): Unit = {
    stub.clear()
    stub.seed((0 until 40).map { i =>
      stub.LogRow(base + i * 3600L * 1000000000L,
        Map("app" -> (if (i % 2 == 0) "web" else "api")),
        s"row $i ${if (i % 4 == 0) "error" else "ok"}")
    })
  }

  override def afterAll(): Unit = stub.stop()

  private def scanLines(): Set[String] =
    spark.read.table("delcat.default.loki")
      .filter(col("timestamp") >= timestamp_micros(lit(base / 1000L)))
      .select("line").collect().map(_.getString(0)).toSet

  test("selector + window DELETE files one request; rows vanish from scans") {
    seed()
    val n0 = stub.deleteReqs.synchronized(stub.deleteReqs.size)
    // drop the web stream's first day: hours 0..23, even i
    spark.sql(
      "DELETE FROM delcat.default.loki WHERE labels['app'] = 'web' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
        "AND timestamp < TIMESTAMP '2024-01-02 00:00:00'")
    val reqs = stub.deleteReqs.synchronized(stub.deleteReqs.drop(n0).toList)
    assert(reqs.size == 1 && reqs.head.query == """{app="web"}""" &&
      reqs.head.status == "processed", reqs)
    val left = scanLines()
    val expected = (0 until 40).collect {
      case i if !(i % 2 == 0 && i < 24) =>
        s"row $i ${if (i % 4 == 0) "error" else "ok"}"
    }.toSet
    assert(left == expected, left.toSeq.sorted)
  }

  test("a catalog's selector option narrows its DELETE like its reads") {
    // api AND web rows carry error lines here; a DELETE through a catalog
    // configured with selector={app="web"} must reach only web rows
    stub.clear()
    stub.seed((0 until 8).map { i =>
      stub.LogRow(base + i * 1000000000L,
        Map("app" -> (if (i % 2 == 0) "web" else "api")),
        s"row $i ${if (i < 4) "error" else "ok"}")
    })
    spark.conf.set("spark.sql.catalog.webcat", "graft.sources.loki.LokiCatalog")
    spark.conf.set("spark.sql.catalog.webcat.endpoint", stub.endpoint)
    spark.conf.set("spark.sql.catalog.webcat.default_label", "app")
    spark.conf.set("spark.sql.catalog.webcat.selector", """{app="web"}""")
    spark.sql(
      "DELETE FROM webcat.default.loki WHERE line LIKE '%error%' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'")
    val req = stub.deleteReqs.synchronized(stub.deleteReqs.last)
    assert(req.query == """{app="web"} |= `error`""", req)
    // web error rows (0, 2) are gone; the api error rows (1, 3) are still
    // visible through the selector-less catalog
    assert(scanLines() == Set("row 1 error", "row 3 error",
      "row 4 ok", "row 5 ok", "row 6 ok", "row 7 ok"), scanLines())
    seed()
  }

  test("line-filter stages ride the delete query") {
    seed()
    spark.sql(
      "DELETE FROM delcat.default.loki WHERE labels['app'] = 'api' " +
        "AND line LIKE '%error%' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
        "AND timestamp < TIMESTAMP '2024-01-03 00:00:00'")
    val req = stub.deleteReqs.synchronized(stub.deleteReqs.last)
    assert(req.query == """{app="api"} |= `error`""", req)
    // api rows with "error": i % 2 == 1 && i % 4 == 0 — impossible; so
    // nothing vanished, but the translation + filing are pinned; now the
    // inverse slice with a real victim set
    spark.sql(
      "DELETE FROM delcat.default.loki WHERE labels['app'] = 'web' " +
        "AND line LIKE '%error%' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
        "AND timestamp < TIMESTAMP '2024-01-03 00:00:00'")
    val left = scanLines()
    assert(!left.exists(l => l.endsWith("error") && {
      val i = l.split(" ")(1).toInt; i % 2 == 0
    }), left.toSeq.sorted)
  }

  test("untranslatable or unsafe DELETE shapes are refused loudly") {
    seed()
    val n0 = stub.deleteReqs.synchronized(stub.deleteReqs.size)
    def refused(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage != null)
    }
    // bare unconditional delete: never expanded to "everything"
    refused("DELETE FROM delcat.default.loki")
    // absent-matching matcher: Loki would delete streams SQL spares
    refused("DELETE FROM delcat.default.loki WHERE labels['app'] != 'web'")
    // untranslatable conjunct
    refused("DELETE FROM delcat.default.loki WHERE length(line) > 3")
    // nothing was filed by any refused shape
    assert(stub.deleteReqs.synchronized(stub.deleteReqs.size) == n0)
    assert(scanLines().size == 40)
  }

  test("EXPLAIN shows the delete command with its wire arguments") {
    val plan = spark.sql(
      "EXPLAIN DELETE FROM delcat.default.loki WHERE labels['app'] = 'web' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00'")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("LokiDelete:") &&
      plan.contains("""query={app="web"}""") &&
      plan.contains("start=2024-01-01T00:00:00Z"), plan)
  }

  test("exclusive SQL end ships as the inclusive RFC3339Nano end − 1ns") {
    seed()
    val n0 = stub.deleteReqs.synchronized(stub.deleteReqs.size)
    // the compactor deletes start ≤ ts ≤ end; `ts < E` must therefore
    // ship end = E − 1ns or the entry at exactly E is silently
    // over-deleted (round-15 advice). The row at i=24 sits exactly on E.
    spark.sql(
      "DELETE FROM delcat.default.loki WHERE labels['app'] = 'web' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
        "AND timestamp < TIMESTAMP '2024-01-02 00:00:00'")
    val req = stub.deleteReqs.synchronized(stub.deleteReqs.drop(n0).head)
    assert(req.endNs == base + 24L * 3600L * 1000000000L - 1, req)
    assert(scanLines().contains("row 24 error"), "boundary row was deleted")
    // sub-second bounds are expressible in the nano dialect and push
    spark.sql(
      "DELETE FROM delcat.default.loki WHERE labels['app'] = 'api' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:59:59.999' " +
        "AND timestamp < TIMESTAMP '2024-01-01 01:00:00.001'")
    assert(!scanLines().contains("row 1 ok"), "sub-second window missed its row")
    assert(scanLines().contains("row 3 ok"))
    seed()
  }

  test("grace-period lifecycle: filed → received → cancel → compact") {
    seed()
    stub.deleteGraceMode = true
    try {
      spark.sql(
        "DELETE FROM delcat.default.loki WHERE labels['app'] = 'web' " +
          "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
          "AND timestamp < TIMESTAMP '2024-01-02 00:00:00'")
      spark.sql(
        "DELETE FROM delcat.default.loki WHERE labels['app'] = 'api' " +
          "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
          "AND timestamp < TIMESTAMP '2024-01-02 00:00:00'")
      val filed = stub.deleteReqs.synchronized(stub.deleteReqs.toList)
      assert(filed.size == 2 && filed.forall(_.status == "received"), filed)
      // grace period: nothing applied yet
      assert(scanLines().size == 40)
      // cancel the web request: REMOVED from the store
      val webId = filed.find(_.query.contains("web")).get.id
      graft.sources.loki.LokiHttp.cancelDeleteRequest(
        stub.endpoint, webId.toString)
      val listed = graft.sources.loki.LokiHttp.deleteRequests(stub.endpoint)
      assert(listed.size == 1 && listed.head._2 == """{app="api"}""" &&
        listed.head._5 == "received", listed)
      // cancel of an unknown id fails loudly
      assertThrows[RuntimeException](
        graft.sources.loki.LokiHttp.cancelDeleteRequest(stub.endpoint, "999"))
      // compactor run: the surviving api request applies; web rows live
      stub.compact()
      val left = scanLines()
      assert(left.count(_.nonEmpty) == 40 - 12, left.toSeq.sorted) // 12 api rows in day 1
      assert(left.exists(_.startsWith("row 0 ")), "canceled web delete must not apply")
      assert(!left.exists(_.startsWith("row 1 ")), "api delete must apply at compaction")
      assert(graft.sources.loki.LokiHttp.deleteRequests(stub.endpoint)
        .head._5 == "processed")
    } finally {
      stub.deleteGraceMode = false
      seed()
    }
  }

  test("listing relation + cancel semantics") {
    seed()
    spark.sql(
      "DELETE FROM delcat.default.loki WHERE labels['app'] = 'web' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
        "AND timestamp < TIMESTAMP '2024-01-02 00:00:00'")
    val listed = spark.read.table("delcat.meta.deletes")
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // end_s is the floor second of the INCLUSIVE wire end (E − 1ns)
    assert(listed.contains(
      ("""{app="web"}""", 1704067200L, 1704153599L, "processed")),
      listed.toSeq)
    // repeat of the identical DML: deduplicated server-side, no new row
    val n = listed.length
    spark.sql(
      "DELETE FROM delcat.default.loki WHERE labels['app'] = 'web' " +
        "AND timestamp >= TIMESTAMP '2024-01-01 00:00:00' " +
        "AND timestamp < TIMESTAMP '2024-01-02 00:00:00'")
    assert(spark.read.table("delcat.meta.deletes").count() == n.toLong)
    // cancel of a processed request is rejected like real Loki past the
    // grace period
    val id = stub.deleteReqs.synchronized(stub.deleteReqs.head.id)
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"${stub.endpoint}/loki/api/v1/delete?request_id=$id"))
        .DELETE().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 400, s"cancel answered ${resp.statusCode()}")
  }
}
