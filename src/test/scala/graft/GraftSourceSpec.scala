package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.core.Relation
import graft.relations.RelationManager

/** DataSource V2 connector: manifest-exact batch reads (+ time travel,
  * column pruning) and version-offset streaming over commit-log tables. */
class GraftSourceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  test("batch read: current version, time travel, and staged-file invisibility") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2").toString)
    val rel = Relation("graft", "main", "dsv2_batch")
    rm.writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), rel) // v1
    rm.appendTable(Seq((3L, "c")).toDF("id", "v"), rel)           // v2
    val dir = rm.path(rel).toString

    val cur = spark.read.format("graft").load(dir)
    assert(cur.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // vectorized reads engaged: the batch scan feeds a ColumnarToRow
    assert(cur.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      cur.queryExecution.executedPlan.toString)

    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(dir)
    assert(v1.count() == 2)

    // a stray uncommitted file in the table dir is invisible (manifest-exact)
    Seq((99L, "zz")).toDF("id", "v").write.mode("overwrite")
      .parquet(dir + "/_graft_stage_manual")
    assert(spark.read.format("graft").load(dir).count() == 3)
  }

  test("column pruning pushes into the parquet scan") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2p").toString)
    val rel = Relation("graft", "main", "dsv2_prune")
    rm.writeTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "x"), rel)
    val df = spark.read.format("graft").load(rm.path(rel).toString).select("id")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id"),
      s"scan must prune to id: ${scans.head.scan.readSchema()}")
  }

  test("streaming read: version offsets deliver each commit's files exactly once") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2s").toString)
    val src = Relation("graft", "main", "dsv2_stream")
    rm.writeTable(Seq((1L, "a")).toDF("id", "v"), src)

    val q = spark.readStream.format("graft").load(rm.path(src).toString)
      .writeStream.format("memory").queryName("dsv2_sink")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_dsv2s_ckpt").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("dsv2_sink").count() == 1)

    rm.appendTable(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), src)
    q.processAllAvailable()
    rm.appendTable(Seq((4L, "d")).toDF("id", "v"), src)
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dsv2_sink").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("partitioned table: dir-encoded values come back typed, prune-only-partition works") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2part").toString)
    val rel = Relation("graft", "main", "dsv2_part")
    rm.writeTable(
      Seq((1L, "x", 10), (2L, "y", 10), (3L, "z", 20)).toDF("id", "v", "p"),
      rel, partitionBy = Seq("p"))
    val dir = rm.path(rel).toString

    val df = spark.read.format("graft").load(dir)
    assert(df.schema.fieldNames.toSet == Set("id", "v", "p"))
    val rows = df.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[Int]("p"))).toSeq
    assert(rows == Seq((1L, "x", 10), (2L, "y", 10), (3L, "z", 20)))

    // projecting only data columns / only the partition column both work
    assert(spark.read.format("graft").load(dir).select("v").count() == 3)
    assert(spark.read.format("graft").load(dir).select("p")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 10, 20))

    // streaming over a partitioned table delivers typed partition values too
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("dsv2_part_sink")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_dsv2part_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dsv2_part_sink").filter(col("p") === 20).count() == 1)
  }

  test("streaming offsets tile the file history: every file in exactly one interval") {
    import spark.implicits._
    import org.apache.spark.sql.graft.source.{GraftFilePartition, GraftMicroBatchStream, GraftVersionOffset}
    import org.apache.spark.sql.types.StructType

    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2off").toString)
    val rel = Relation("graft", "main", "dsv2_offsets")
    rm.writeTable(Seq((0L, "a")).toDF("id", "v"), rel)
    (1 to 6).foreach(i => rm.appendTable(Seq((i.toLong, s"v$i")).toDF("id", "v"), rel))
    val dir = rm.path(rel).toString
    val stream = new GraftMicroBatchStream(dir, () => null, new StructType(), None)
    val top = stream.latestOffset().asInstanceOf[GraftVersionOffset].version
    assert(top == 7)

    // arbitrary offset cuts: delivered file sets are disjoint and complete
    for (cuts <- Seq(Seq(0, 7), Seq(0, 1, 2, 3, 4, 5, 6, 7), Seq(0, 3, 7), Seq(0, 2, 5, 7))) {
      val intervals = cuts.sliding(2).toSeq
      val delivered = intervals.map { case Seq(s, e) =>
        stream.planInputPartitions(GraftVersionOffset(s), GraftVersionOffset(e))
          .map(_.asInstanceOf[GraftFilePartition].path).toSet
      }
      assert(delivered.map(_.size).sum == delivered.reduce(_ ++ _).size,
        s"cuts $cuts delivered a file twice")
      val all = rm.currentState(rel).get.files
        .map(f => java.nio.file.Paths.get(dir, f).toUri.toString).toSet
      assert(delivered.reduce(_ ++ _) == all, s"cuts $cuts missed files")
    }
  }

  test("filter pushdown skips files via manifest stats and partition values") {
    import spark.implicits._
    import org.apache.spark.sql.graft.source.GraftSourceTable
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, IsNull, LessThanOrEqual}

    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2skip").toString)
    val rel = Relation("graft", "main", "dsv2_skip")
    // range-clustered layout → 5 files with near-disjoint id ranges
    rm.writeTable((0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(5, col("id")), rel, statsCols = Seq("id"))
    val dir = rm.path(rel).toString
    val st = GraftSourceTable.resolve(dir, None)
    assert(st.files.size == 5)

    // point filter → 1 candidate file; range filters prune too
    assert(GraftSourceTable.skipByStats(st, Seq(EqualTo("id", 5L))).size == 1)
    assert(GraftSourceTable.skipByStats(st, Seq(GreaterThan("id", 900L))).size == 1)
    assert(GraftSourceTable.skipByStats(st, Seq(LessThanOrEqual("id", 10L))).size == 1)
    // id is never null → every file prunes
    assert(GraftSourceTable.skipByStats(st, Seq(IsNull("id"))).isEmpty)
    // unknown column / unsupported shape → conservative keep-all
    assert(GraftSourceTable.skipByStats(st, Seq(EqualTo("nope", 1))).size == 5)

    // end-to-end: the filtered read returns the right rows
    val out = spark.read.format("graft").load(dir).filter(col("id") === 5L).collect()
    assert(out.length == 1 && out(0).getString(1) == "v5")

    // partition-value skipping: dir-encoded values act as per-file stats
    val prel = Relation("graft", "main", "dsv2_skip_part")
    rm.writeTable(Seq((1L, "x", 10), (2L, "y", 20)).toDF("id", "v", "p"),
      prel, partitionBy = Seq("p"))
    val pst = GraftSourceTable.resolve(rm.path(prel).toString, None)
    assert(pst.files.size == 2)
    assert(GraftSourceTable.skipByStats(pst, Seq(EqualTo("p", 20))).size == 1)
    val pout = spark.read.format("graft").load(rm.path(prel).toString)
      .filter(col("p") === 20).collect()
    assert(pout.length == 1 && pout(0).getAs[String]("v") == "y")
  }

  test("count/min/max answer from manifest stats with zero data I/O") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2agg").toString)
    val rel = Relation("graft", "main", "dsv2_agg")
    val rows = (0L until 1000L).map(i =>
      (i, if (i % 10 == 0) null else s"v$i", i.toDouble / 3))
    rm.writeTable(rows.toDF("id", "v", "x").repartitionByRange(5, col("id")),
      rel, statsCols = Seq("id", "v", "x"))
    val dir = rm.path(rel).toString

    val agg = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("id")).as("lo"), max(col("id")).as("hi"),
        max(col("x")).as("xhi"))
    val plan = agg.queryExecution.executedPlan.toString
    // fully pushed: a local scan of the one stats row, no BatchScan at all
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"expected a metadata-only answer:\n$plan")
    val r = agg.head()
    assert(r.getLong(0) == 1000L && r.getLong(1) == 900L)
    assert(r.getLong(2) == 0L && r.getLong(3) == 999L)
    assert(r.getDouble(4) == 999.0 / 3)

    // a filter blocks the shortcut (file stats can't answer per-row
    // predicates) — the scan must fall back to reading data
    val filtered = spark.read.format("graft").load(dir)
      .filter(col("id") > 500L).agg(count(lit(1)))
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.head().getLong(0) == 499L)

    // a column without full stats coverage declines (append without stats)
    val rel2 = Relation("graft", "main", "dsv2_agg2")
    rm.writeTable(Seq((1L, "a")).toDF("id", "v"), rel2) // statsCols = Nil
    val agg2 = spark.read.format("graft").load(rm.path(rel2).toString)
      .agg(count(lit(1)))
    assert(agg2.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(agg2.head().getLong(0) == 1L)
  }

  test("pushed LIMIT scans a row-count-bounded file prefix") {
    import spark.implicits._
    import org.apache.spark.sql.graft.source.GraftScan
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_dsv2lim").toString)
    val rel = Relation("graft", "main", "dsv2_lim")
    rm.writeTable((0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(5, col("id")), rel, statsCols = Seq("id"))
    val dir = rm.path(rel).toString
    val schema = spark.read.format("graft").load(dir).schema

    // 5 files of ~200 rows: LIMIT 3 plans exactly one file
    val limited = new GraftScan(dir, schema, schema, None, None, Nil, Some(3))
    assert(limited.toBatch.planInputPartitions().length == 1)
    // LIMIT past the total keeps every file
    val all = new GraftScan(dir, schema, schema, None, None, Nil, Some(5000))
    assert(all.toBatch.planInputPartitions().length == 5)
    // end-to-end row count is exact
    assert(spark.read.format("graft").load(dir).limit(3).count() == 3)
  }
}
