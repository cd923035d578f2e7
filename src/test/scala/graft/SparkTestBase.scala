package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; UTC + small shuffle partitions to match the harness).
  * `local[4,2]` = 4 threads with maxFailures=2, so task-retry semantics
  * are testable (plain `local[4]` fails the job on the first task
  * failure — the write path's at-least-once contract needs a real
  * failed-then-retried task to exercise).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // corpus timestamp contract at construction (Tables.readerConfs
    // re-applies defensively; see its ordering note)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${sys.props.getOrElse("user.name", "u")}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** `df` planned with `rules` (optimizer rule names) added to
    * `spark.sql.optimizer.excludedRules`, merged into the session's value
    * and restored after. The plan is forced inside the scope; a DataFrame
    * caches it, so later actions on the result run it as planned here.
    */
  def plannedWithout(rules: String*)(df: => DataFrame): DataFrame = {
    val key = "spark.sql.optimizer.excludedRules"
    val before = spark.conf.getOption(key)
    val merged = before.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    spark.conf.set(key, (merged ++ rules).distinct.mkString(","))
    try { val d = df; d.queryExecution.executedPlan; d }
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
