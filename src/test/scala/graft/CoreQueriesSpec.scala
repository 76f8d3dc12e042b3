package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  /** Cores (and shuffle partitions) of the shared test session. */
  val cpus = 4
  lazy val spark: SparkSession = GraftSession.create(GraftSession.builder(cpus)
    .master(s"local[$cpus]")
    .appName("graft-test")
    // the S3-semantics mock scheme (no rename, conditional PUT) — lets any
    // spec use a URI-shaped warehouse root (UriWarehouseSpec)
    .config("spark.hadoop.fs.s3mock.impl", "graft.S3SemanticsFileSystem"))
}

class CoreQueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and is non-degenerate at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      withClue(s"query $name: ") { assert(df.count() >= 0) }
    }
  }

  test("every query has an oracle or is explicitly exempt") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- SparkEntry.rowsOnlyChecked
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("a project gate restores the nanos conf and drops its corpus views") {
    // Main.execute sets nanosAsLong and registers a corpus_* view per
    // fixture table; the gate must hand the shared session back as it was
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(key)
    def corpusViews = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("corpus_")).toSeq
    try {
      spark.conf.set(key, "false")
      corpusViews.foreach(spark.catalog.dropTempView)
      assert(SparkEntry.queries("q_retrieval_project")(spark, sf).count() > 0)
      assert(spark.conf.get(key) == "false")
      assert(corpusViews.isEmpty, s"views left behind: $corpusViews")
    } finally spark.conf.set(key, was)
  }

  test("q1 aggregates are stable across repartition (order-insensitive sums)") {
    val base = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    val re = Tables.lineitem(spark, sf).repartition(7)
    re.createOrReplaceTempView("___ignore") // force a different physical layout on a rerun
    val again = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(base.sameElements(again))
  }
}
