package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver parquet corpus (TESTDATA.md) and the Loki-shaped
  * log view derived from `events` (FIXTURES.md §2), mirroring the reference
  * log-table schema `timestamp / labels / line`
  * (reference/datafusion-loki/src/table.rs:14-37).
  */
object Tables {

  // One DataFrame per (session, dir, table): repeated loads would re-list
  // files and re-read parquet footers at every query — measurable across a
  // 60-query gate run, pure waste on a cluster where the catalog caches
  // this for you. DataFrames are immutable, so sharing is safe.
  private val loaded =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Parquet-reading confs that pin a stable timestamp reading across the
    * corpus generations the driver has shipped: TIMESTAMP(NANOS) columns
    * (unrepresentable in Spark's µs TimestampType) surface as ns Longs,
    * and µs isAdjustedToUTC=false columns read as TimestampType rather
    * than TIMESTAMP_NTZ — under the UTC session the two types denote the
    * same instant, and TimestampType keeps the whole downstream surface
    * (window(), unix_micros, watermarks) on one type.
    *
    * ORDERING: these are session confs set as a side effect, so a bare
    * `spark.read.parquet` issued before the first Tables call sees
    * different timestamp types for the same files. Every entry-point
    * session builder therefore sets both confs at construction (next to
    * the UTC timezone pin); this re-apply is defensive, for sessions
    * built elsewhere (tests, ad-hoc shells).
    */
  private[graft] def readerConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // InferFiltersFromGenerate infers `size(e) > 0 AND isnotnull(e)`
    // under every explode; predicate pushdown then substitutes the FULL
    // generator-child expression into the scan's data filter, so the
    // (often expensive) array construction is evaluated twice per row —
    // and once the projection chain is inlined into one filter
    // expression, a HOF lambda over a computed token array re-evaluates
    // that token expression per ELEMENT, degrading to O(|tokens|²) per
    // row (measured 3.3 s → 0.33 s on the sf0.1 shingle explode; the
    // scan filter contained the whole split+transform+concat pipeline).
    // The inferred filter only skips rows an explode drops anyway
    // (outer=false generators emit nothing for empty/null arrays), so
    // excluding the rule is semantics-preserving. Merged, not
    // overwritten, in case the deployment excludes its own rules.
    val inferGen =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val cur = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .getOrElse("")
    if (!cur.split(",").map(_.trim).contains(inferGen))
      spark.conf.set("spark.sql.optimizer.excludedRules",
        if (cur.isEmpty) inferGen else s"$cur,$inferGen")
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    loaded.getOrElseUpdate((spark, dir, name), {
      readerConfs(spark)
      spark.read.parquet(s"$dir/$name.parquet")
    })

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) — unrepresentable
    * in Spark's µs TimestampType, so it reads as a ns Long (readerConfs)
    * and truncates to µs, the same boundary truncation the reference's
    * connector does for Loki's ns timestamps (SURVEY.md §7.4(b); `DIV`
    * keeps the arithmetic integral — a double division would lose
    * precision above 2^53) — and as TIMESTAMP(MICROS), which readerConfs
    * reads as TimestampType directly. Branch on the type actually read so
    * both corpus generations work. The LongType branch assumes ns: under
    * readerConfs the ONLY way ts reads as Long is nanosAsLong on a
    * TIMESTAMP(NANOS) column — a corpus shipping ts as a plain INT64
    * (no timestamp logical type) would be wrongly divided by 1000, so
    * that shape is outside the supported corpus contract (TESTDATA.md
    * ships either NANOS or MICROS logical types).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The Loki log table emulated over `events`: exactly the reference's
    * three-column schema. `labels` is a real MapType column so the parity
    * queries exercise Spark's map semantics (`element_at` ≙ DataFusion
    * `get_field`, reference src/expr.rs:5-16).
    */
  /** The canonical (timestamp, labels, line) projection over a raw events
    * relation — ONE definition (round 17, r16 ADVICE) shared by
    * [[lokiView]] and the spread write/export variants in ConnectorOps,
    * so the rendered view can never drift from the relation the loki
    * gates and the oracle FROM clause are built around.
    */
  def lokiProject(events: DataFrame): DataFrame =
    events.select(
      col("ts").as("timestamp"),
      map(
        lit("event_type"), col("event_type"),
        lit("user"), col("user_id").cast("string")
      ).as("labels"),
      concat(col("event_type"), lit(" value="), col("value").cast("string"))
        .as("line")
    )

  def lokiView(spark: SparkSession, dir: String): DataFrame =
    lokiProject(events(spark, dir))
}
