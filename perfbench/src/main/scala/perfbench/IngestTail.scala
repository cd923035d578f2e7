package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.loki.LokiWrite
import graft.sources.loki.testkit.LokiStubServer

/** `ingest_tail`: one closed-loop client alternating an `INSERT INTO …
  * SELECT` of 5,000 new entries with a tail query (the newest 200 inserted
  * entries of one app), over a store seeded with 100,000 entries. The tail
  * must return the newest acknowledged rows.
  *
  * Each op starts from the seeded store: before its insert, the stub is
  * reset to the 100,000 base entries. So every op pays for the same store
  * size, and a program that completes more ops does not make its own later
  * ops slower (the stub re-sorts its whole store on the first read after a
  * push).
  */
final class IngestTail(spark: SparkSession, seed: Long) extends Workload {
  import IngestTail._

  val name = "ingest_tail"
  val clients = 1
  private val fx = new LokiFixture(spark, seed, BaseEntries, 0, Map.empty, "ingest")
  def stub: Option[LokiStubServer] = Option(fx.stub)

  def setup(rep: Int): Unit = fx.setup(rep)
  /** A set-up here takes about 0.15 s, so more of them are needed for a
    * steady median.
    */
  override def setupReps: Int = 9

  def settings: Seq[(String, String)] =
    Seq("corpus.entries" -> BaseEntries.toString, "insert.rows" -> BatchRows.toString,
      "table.options" -> "(defaults: push_batch_size=4096)") ++ StubLogs.describe(fx.stub)

  /** Warm-up ops (`warmup`'s two, then the warm-up clients' streams) take
    * the batch slots before op 0, so the measured stream is the same
    * whatever the warm-up did.
    */
  def op(client: Int, k: Long): OpSpec = {
    val i = if (client >= Main.WarmClientBase) -3 - k else k
    Cycle(i, tailApp(seed, i))
  }

  def warmup(ctx: OpCtx): Unit =
    (0 until 2).foreach { i => run(Cycle(-1 - i, tailApp(seed, -1 - i)), ctx) }

  override def warmSeconds: Double = 4.0

  private def batchStart(k: Long): Long = {
    require(k + WarmSlots >= 0, s"warm-up op $k is past the reserved batch slots")
    InsertBaseNs + (k + WarmSlots) * BatchSpanNs
  }

  def run(o: OpSpec, ctx: OpCtx): Outcome = {
    val c = o.asInstanceOf[Cycle]
    val (batch, input) = ctx.bench {
      fx.reset()
      val es = Corpus.generate(seed, BatchRows, batchStart(c.k), BatchSpanNs,
        salt = c.k + WarmSlots + 1, stored = false)
        .map(e => e.copy(tsNs = e.tsNs / 1000L * 1000L)) // Spark timestamps are µs
      (es, java.util.Arrays.asList(es.map(e =>
        Row(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0L, e.tsNs)),
          e.labels, e.line)): _*))
    }
    spark.createDataFrame(input, Schema).createOrReplaceTempView(BatchView)
    val insertSql =
      s"INSERT INTO ${fx.catalog}.default.loki SELECT timestamp, labels, line FROM $BatchView"
    val tailSql =
      s"""SELECT timestamp, labels, line FROM ${fx.catalog}.default.loki
         |WHERE labels['app'] = ${Sql.str(c.app)} AND timestamp >= ${Sql.ts(InsertBaseNs)}
         |ORDER BY timestamp DESC LIMIT $TailRows""".stripMargin
    var insNs = 0L
    var qNs = 0L
    val (committed, rows, plans) = ctx.op {
      val i0 = System.nanoTime()
      val ip = ctx.command(insertSql)
      insNs = System.nanoTime() - i0
      val committed = LokiWrite.lastCommittedRows(fx.stub.endpoint)
      val q0 = System.nanoTime()
      val (rs, qp) = ctx.query(spark.sql(tailSql))
      qNs = System.nanoTime() - q0
      (committed, rs, Seq(ip, qp))
    }
    val (bad, written) = ctx.bench {
      val bad =
        if (committed != BatchRows) Some(s"insert acknowledged $committed of $BatchRows rows")
        else Check.topN(rows.map(LogRows.triple).toSeq, batch.toSeq.filter(_.app == c.app)
          .map(e => (e.tsUs, Loki.injectLabels(e.labels, e.line), e.line)), TailRows)
      (bad, if (ctx.tracer.enabled) batch.map(internalRow).toSeq else Nil)
    }
    Outcome(bad.isEmpty, bad.getOrElse(""), qNs, insNs, BatchRows, plans, written)
  }

  private def internalRow(e: Entry): InternalRow = {
    val ks = e.labels.keys.toArray
    InternalRow(e.tsNs / 1000L,
      ArrayBasedMapData(ks.map(UTF8String.fromString), ks.map(k => UTF8String.fromString(e.labels(k)))),
      UTF8String.fromString(e.line))
  }

  def close(): Unit = {
    spark.catalog.dropTempView(BatchView)
    fx.close()
  }
}

object IngestTail {
  /** Smaller than the read workloads' corpus: the stub re-sorts its whole
    * store on the first read after every push, and that fixture cost would
    * otherwise dominate the tail and leave too few ops per run.
    */
  val BaseEntries = 100000
  val BatchRows = 5000
  val BatchView = "ingest_batch"
  val TailRows = 200
  /** Inserted entries start right after the base corpus. */
  val InsertBaseNs: Long = Corpus.T0Ns + Corpus.SpanNs
  val BatchSpanNs: Long = 1000000000L
  /** Batch slots reserved ahead of op 0 for the warm-up's inserts. */
  val WarmSlots = 1000L

  final case class Cycle(k: Long, app: String) extends OpSpec { val shape = "insert_tail" }

  /** The app slot a tail reads follows a fixed sequence; the seed names it. */
  def tailApp(seed: Long, k: Long): String =
    Corpus.appSlots(seed)(new SplittableRandom(0x7A11L + k).nextInt(Corpus.Apps.size))

  val Schema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("line", StringType, nullable = false)))
}
