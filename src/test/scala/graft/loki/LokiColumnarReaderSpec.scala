package graft.loki

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.EncodingStats
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnPath, CompressionCodecName}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.plans.LokiLocalExec
import graft.sources.loki.{ByteArrayInputFile, LokiColumnarReader, LokiHttp, LokiInputPartition}
import graft.sources.loki.testkit.LokiStubServer

/** The map half of [[LokiColumnarReader]]: each distinct label set is
  * decoded once per column chunk and shared by the rows that have it,
  * from dictionary ids or, for chunks with plain pages, from ids numbered
  * by value bytes; the page vectors are reused across pages; and every
  * page decodes with its own parquet read options.
  */
class LokiColumnarReaderSpec extends SparkTestBase {

  private val base = 1704067200000000000L // 2024-01-01T00:00:00Z
  private val secNs = 1000000000L
  private val dayNs = 86400L * secNs
  private val stringMap = MapType(StringType, StringType, valueContainsNull = false)
  private val labelsField = StructField("labels", stringMap)
  private val metadataField = StructField("metadata", stringMap)
  private val lineField = StructField("line", StringType)

  private type Rel = Seq[(String, Map[String, String], Map[String, String])]

  private def withStub[A](body: LokiStubServer => A): A = {
    val stub = new LokiStubServer
    stub.start()
    try body(stub) finally stub.stop()
  }

  private def scan(stub: LokiStubServer, opts: (String, String)*): DataFrame = {
    val r = spark.read.format("loki")
      .option("endpoint", stub.endpoint)
      .option("default_label", "app")
      .option("structured_metadata", "true")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load().filter("timestamp >= '2024-01-01 00:00:00' AND timestamp < '2024-01-02 00:00:00'")
  }

  private def relation(df: DataFrame): Rel =
    df.select("line", "labels", "metadata").collect().toSeq.map { r =>
      (r.getString(0), r.getMap[String, String](1).toMap,
        r.getMap[String, String](2).toMap)
    }.sortBy(_._1)

  private def expected(rows: Seq[LokiStubServer#LogRow]): Rel =
    rows.map(r => (r.line, r.labels, r.metadata)).sortBy(_._1)

  /** One single-request partition over the first day. */
  private def partition(stub: LokiStubServer, schema: StructType): LokiInputPartition =
    LokiInputPartition(stub.endpoint, """{app=~".+"}""", Some(base),
      Some(base + dayNs), None, None, schema)

  /** The encoding stats of one map leaf in the first row group of the
    * stub's response.
    */
  private def stats(stub: LokiStubServer, path: String*): EncodingStats = {
    val body = LokiHttp.queryRange(stub.endpoint, """{app=~".+"}""", base,
      base + dayNs, None, None)
    val reader = ParquetFileReader.open(new ByteArrayInputFile(body),
      ParquetReadOptions.builder(new HadoopParquetConfiguration(new Configuration())).build())
    try reader.getRowGroups.get(0).getColumns.asScala
      .find(_.getPath == ColumnPath.get(path: _*)).get.getEncodingStats
    finally reader.close()
  }

  /** Child elements the map column holds after decoding the one page of
    * `schema`'s first column.
    */
  private def childElements(stub: LokiStubServer, schema: StructType): (Int, Int) = {
    val reader = new LokiColumnarReader(partition(stub, schema))
    try {
      assert(reader.next())
      val batch = reader.get()
      val v = batch.column(0).asInstanceOf[WritableColumnVector]
      val counts = (batch.numRows(), v.getChild(0).getElementsAppended)
      assert(!reader.next())
      counts
    } finally reader.close()
  }

  test("a chunk whose dictionary overflows into plain pages decodes like an all-dictionary one") {
    withStub { stub =>
      // 500 distinct pod values: a 1 KiB dictionary cap overflows after a
      // few pages, while the two-key `key` leaf stays all-dictionary
      val rows = (0 until 2000).map(i =>
        stub.LogRow(base + i * secNs,
          Map("app" -> s"a${i % 3}", "pod" -> f"pod-${i / 4}%04d"), s"row-$i",
          if (i % 5 == 0) Map.empty[String, String] else Map("trace" -> s"t${i / 2}")))
      stub.seed(rows)
      val shapes = Seq(Seq.empty[(String, String)], Seq("query_limit" -> "300"))
      val dictionary = shapes.map(o => relation(scan(stub, o: _*)))
      val value = stats(stub, "labels", "key_value", "value")
      assert(value.hasDictionaryEncodedPages && !value.hasNonDictionaryEncodedPages)
      stub.wirePageBytes = 1024
      stub.wireDictionaryPageBytes = 1024
      stub.clear()
      stub.seed(rows)
      val mixed = stats(stub, "labels", "key_value", "value")
      assert(mixed.hasDictionaryEncodedPages && mixed.hasNonDictionaryEncodedPages,
        "the value leaf must mix dictionary and plain pages")
      val key = stats(stub, "labels", "key_value", "key")
      assert(key.hasDictionaryEncodedPages && !key.hasNonDictionaryEncodedPages)
      val overflowed = shapes.map(o => relation(scan(stub, o: _*)))
      assert(dictionary == Seq.fill(2)(expected(rows)))
      assert(overflowed == dictionary)
    }
  }

  test("the labels vector appends each distinct label set once, not once per row") {
    withStub { stub =>
      // 600 rows over 12 label sets of two or three pairs
      val sets = (0 until 12).map(s =>
        Map("app" -> s"a${s % 3}", "pod" -> s"p$s") ++
          (if (s % 2 == 0) Map("level" -> "info") else Map.empty))
      val setPairs = sets.map(_.size).sum
      for (dictionary <- Seq(true, false)) {
        stub.wireDictionary = dictionary
        stub.clear()
        stub.seed((0 until 600).map(i =>
          stub.LogRow(base + i * secNs, sets(i % 12), s"row-$i")))
        val (rows, children) = childElements(stub, StructType(Seq(labelsField, lineField)))
        assert(rows == 600)
        assert(children == setPairs, s"dictionary=$dictionary")
      }
    }
  }

  test("a dictionary-encoded metadata column with empty maps decodes each row's own map") {
    withStub { stub =>
      // empty metadata on the first row, on every third row and in a run
      // of five: the empty set is one more set, of no pairs
      val rows = (0 until 900).map { i =>
        val empty = i % 3 == 0 || (i >= 400 && i < 405)
        stub.LogRow(base + i * secNs, Map("app" -> s"a${i % 2}"), f"row-$i%04d",
          if (empty) Map.empty[String, String]
          else Map("trace" -> s"t${i % 7}", "span" -> s"s${i % 2}"))
      }
      stub.seed(rows)
      val meta = stats(stub, "metadata", "key_value", "value")
      assert(meta.hasDictionaryEncodedPages && !meta.hasNonDictionaryEncodedPages)
      val distinct = rows.map(_.metadata).distinct
      val (n, children) = childElements(stub, StructType(Seq(metadataField)))
      assert(n == 900 && children == distinct.map(_.size).sum)
      for (opts <- Seq(Seq.empty[(String, String)], Seq("query_limit" -> "250"))) {
        val got = relation(scan(stub, opts: _*))
        assert(got == expected(rows), s"opts=$opts")
        assert(got.count(_._3.isEmpty) == rows.count(_.metadata.isEmpty))
      }
    }
  }

  test("reused page vectors never let one page's rows alias the next page's") {
    withStub { stub =>
      // 1,200 rows over 21 label sets, read in pages of 100, so every
      // page meets sets the previous page decoded; the sort key scatters
      // the kept rows over every page
      val rows = (0 until 1200).map(i =>
        stub.LogRow(base + i * secNs,
          Map("app" -> s"a${i % 3}", "pod" -> s"p${i % 7}"), f"${i * 7919 % 1200}%04d-row-$i"))
      stub.seed(rows)
      val want = rows.map(r => (r.line, r.labels)).sortBy(_._1).take(500)
      for (opts <- Seq(Seq("query_limit" -> "100"),
          Seq("query_limit" -> "100", "partitions" -> "4"))) {
        val df = scan(stub, opts: _*).select("line", "labels").orderBy("line").limit(500)
        val before = stub.queries.synchronized(stub.queries.size)
        val got = df.collect().toSeq.map(r => (r.getString(0), r.getMap[String, String](1).toMap))
        val requests = stub.queries.synchronized(stub.queries.size) - before
        assert(requests >= 12, s"opts=$opts: $requests requests")
        assert(got == want, s"opts=$opts")
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        assert(plan.isInstanceOf[LokiLocalExec] == !opts.contains("partitions" -> "4"),
          plan.toString)
      }
    }
  }

  test("concurrent readers decode compressed pages each with their own read options") {
    // `ParquetFileReader.close()` releases its options' codec factory: with
    // one set of options shared by every reader, concurrent readers share
    // one decompressor and one reader's close returns it to the pool while
    // another still decodes with it. Long compressible lines make
    // decompression most of each page's work, so shared state shows up
    // as failed or wrong pages.
    withStub { stub =>
      val lines = (0 until 400).map(i => f"$i%04d " + s"$i-abcdefgh " * 200)
      stub.wireDictionary = false
      val want = lines.sorted
      val pool = Executors.newFixedThreadPool(4)
      try {
        for (codec <- Seq(CompressionCodecName.SNAPPY, CompressionCodecName.GZIP)) {
          stub.wireCodec = codec
          stub.clear()
          stub.seed(lines.zipWithIndex.map { case (l, i) =>
            stub.LogRow(base + i * secNs, Map("app" -> "c"), l)
          })
          val reads = (0 until 4).map(_ => pool.submit(new Callable[Int] {
            def call(): Int = (0 until 40).count { _ =>
              val reader = new LokiColumnarReader(
                partition(stub, StructType(Seq(lineField))))
              try {
                val got = Seq.newBuilder[String]
                while (reader.next()) {
                  val it = reader.get().rowIterator()
                  while (it.hasNext) got += it.next().getUTF8String(0).toString
                }
                got.result().sorted == want
              } finally reader.close()
            }
          }))
          val good = reads.map(_.get(120, TimeUnit.SECONDS))
          assert(good == Seq.fill(4)(40), s"codec=$codec: correct reads per thread $good")
        }
      } finally pool.shutdownNow()
    }
  }
}
