package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator from SURVEY §2
  * (materializations, data-quality tests, the cross-db function surface,
  * and the training-data-pipeline extensions); [[oracleSql]] carries the
  * DuckDB-equivalent SQL for the driver's correctness gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Self-contained smoke main (r19 — VERIFY_r18 flagged `entry_ok:false`
    * with q1 itself healthy at both SFs, i.e. an invocation-shape gap, not
    * an engine bug): `runMain graft.SparkEntry` builds a [[GraftSession]],
    * runs [[entry]], and exits nonzero unless it returns rows. Prints one
    * bare line `entry_rows=<n>` for tail consumers. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val rows = entry(spark).count()
    println(s"entry_rows=$rows")
    spark.stop()
    if (rows <= 0) sys.exit(1)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.all ++ MatQueries.all ++ FnQueries.all ++ TestQueries.all ++ OpsQueries.all ++ StreamQueries.all ++ SemanticQueries.all ++ JoinQueries.all

  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ MatQueries.oracles ++ FnQueries.oracles ++
      TestQueries.oracles ++ OpsQueries.oracles ++ StreamQueries.oracles ++ SemanticQueries.oracles ++ JoinQueries.oracles

  /** Queries intentionally without a DuckDB oracle (non-SQL-expressible);
    * the driver records a weaker rows-only check for these. */
  def rowsOnlyChecked: Set[String] = Set.empty
}
