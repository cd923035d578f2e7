package graft.loki

import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop}

import graft.SeededProperties
import graft.sources.loki.{LokiColumnarReader, LokiInputPartition}
import graft.sources.loki.testkit.LokiStubServer

/** Randomized completeness property for the forward-cursor pager
  * (LokiColumnarReader's paged shape): for ANY multiplicity profile —
  * including same-ns bursts wider than the page size, the silent-loss
  * hazard the held-run/doubling design exists for — a paged read
  * returns every seeded row exactly once. Drives the PartitionReader
  * directly (no Spark jobs), so 100 adversarial profiles run in
  * seconds; no projection includes `timestamp`, exercising the
  * cursor-column re-add in decode on every case, and the `labels`
  * projection makes page cuts land inside map offsets.
  */
object LokiPagerProps extends SeededProperties("LokiPager") {

  private val stub = new LokiStubServer
  stub.start()
  sys.addShutdownHook(stub.stop())

  private val base = 1704067200000000000L // 2024-01-01 ns

  // up to 12 consecutive seconds, each holding 1..30 rows at ONE shared
  // ns — with page sizes of 1..25, cuts land inside bursts constantly
  private val profile: Gen[List[Int]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1, 30)))
  private val pageSize: Gen[Int] = Gen.chooseNum(1, 25)
  private val line = StructField("line", StringType)
  private val labels =
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false))
  private val projection: Gen[StructType] =
    Gen.oneOf(StructType(Seq(line)), StructType(Seq(labels, line)))

  property("paged read is complete and duplicate-free for any burst profile") =
    Prop.forAll(profile, pageSize, projection) { (mult, ps, schema) =>
      // one shared stub, serialized cases (forAll may run concurrently)
      stub.synchronized {
        stub.clear()
        // map sizes vary row to row (1 or 2 entries), so a cut that
        // misplaces a map offset shows up as shifted labels
        val rows = mult.zipWithIndex.flatMap { case (m, sec) =>
          (0 until m).map(i => stub.LogRow(base + sec * 1000000000L,
            Map("app" -> "p") ++ (if (i % 2 == 0) Map("k" -> s"$sec-$i") else Map.empty),
            s"r-$sec-$i"))
        }
        stub.seed(rows)
        val part = LokiInputPartition(stub.endpoint, """{app="p"}""",
          Some(base), Some(base + 86400L * 1000000000L), None, Some(ps), schema)
        val withLabels = schema.fieldNames.contains("labels")
        val reader = new LokiColumnarReader(part)
        val got = scala.collection.mutable.ArrayBuffer.empty[String]
        try {
          while (reader.next()) {
            val it = reader.get().rowIterator()
            while (it.hasNext) {
              val r = it.next()
              got += (if (!withLabels) r.getUTF8String(0).toString else {
                val m = r.getMap(0)
                val kv = (0 until m.numElements()).map(j =>
                  s"${m.keyArray().getUTF8String(j)}=${m.valueArray().getUTF8String(j)}")
                s"${r.getUTF8String(1)} ${kv.sorted.mkString(",")}"
              })
            }
          }
        } finally reader.close()
        val want = rows.map { r =>
          if (!withLabels) r.line
          else s"${r.line} ${r.labels.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(",")}"
        }.sorted
        Prop.?=(got.sorted.toSeq, want) :|
          s"ps=$ps profile=$mult projection=${schema.fieldNames.mkString(",")}"
      }
    }
}
