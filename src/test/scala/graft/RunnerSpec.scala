package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.compile.TemplateResolver
import graft.materializations.{Materializations, Microbatch, Snapshot}
import graft.quality.GenericTests
import graft.relations.RelationManager
import graft.runner.Runner
import org.apache.spark.sql.graft.source.{GraftBoundBucket, GraftBucketFunction}

/** End-to-end mini project (SURVEY §7.2): seed → staging view → ephemeral
  * → mart table → generic tests, run through the DAG scheduler; then the
  * incremental strategies and SCD-2 snapshot against a temp warehouse. */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def newRm() = new RelationManager(spark, Files.createTempDirectory("graft_wh").toString)

  private def mkTest(name: String, sql: String, tested: String, severity: String = "error") =
    TemplateResolver.parseModel("pkg", name, sql).copy(
      nodeType = NodeType.Test,
      testedNode = Some(s"model.pkg.$tested"),
      columnTest = Some("x"))
      .withSeverity(severity)

  private implicit class NodeOps(n: Node) {
    def withSeverity(s: String): Node = n.copy(config = n.config.copy(severity = s))
  }

  test("mini project builds in DAG order with views, ephemeral CTE inlining, tables, tests") {
    val rm = newRm()
    // seed
    val seedRel = Relation("graft", "main", "customers_seed")
    Materializations.seed(rm, seedRel,
      """id,name,segment
        |1,alice,gold
        |2,bob,silver
        |3,carol,gold""".stripMargin)

    val nodes = Seq(
      TemplateResolver.parseModel("pkg", "stg_customers",
        "select id, name, segment from main__customers_seed"),
      TemplateResolver.parseModel("pkg", "gold_only",
        "{{ config(materialized='ephemeral') }}\nselect * from {{ ref('stg_customers') }} where segment = 'gold'"),
      TemplateResolver.parseModel("pkg", "mart",
        "{{ config(materialized='table') }}\nselect segment, count(*) as n from {{ ref('gold_only') }} group by segment"),
      mkTest("not_null_mart_n", "select * from {{ ref('mart') }} where n is null", "mart"),
      mkTest("accepted_segments", "select * from {{ ref('mart') }} where segment not in ('gold')", "mart"))

    val manifest = Manifest(nodes).processRefs()
    val runner = new Runner(spark, rm, manifest, threads = 3)
    val results = runner.run()
    assert(results.forall(r => r.status == "success" || r.status == "pass"), results.mkString("\n"))

    // ephemeral was inlined as a CTE, not materialized
    val compiled = runner.compileSql(manifest("model.pkg.mart"))
    assert(compiled.contains("with __graft_cte__gold_only as"))
    assert(!rm.exists(Relation("graft", "main", "gold_only")))

    val mart = rm.read(Relation("graft", "main", "mart")).collect()
    assert(mart.length == 1 && mart(0).getAs[Long]("n") == 2)

    // run_results artifact
    val rr = Files.createTempFile("run_results", ".json")
    runner.writeRunResults(results, rr.toString)
    assert(Files.readString(rr).contains("\"unique_id\""))
  }

  test("run_results.json: elapsed_time is the run's wall span and thread_id the worker's name") {
    val rm = newRm()
    val nodes = (1 to 6).map(i => TemplateResolver.parseModel("pkg", s"m$i",
      s"{{ config(materialized='table') }}\nselect id, id * $i as v from range(20000)"))
    val runner = new Runner(spark, rm, Manifest(nodes).processRefs(), threads = 4)
    val results = runner.run()
    assert(results.size == 6 && results.forall(_.status == "success"), results.mkString("\n"))
    val rr = Files.createTempFile("run_results", ".json")
    runner.writeRunResults(results, rr.toString)
    val doc = Json.obj(Json.parse(Files.readString(rr)))
    def num(v: Any): Double = v match {
      case l: Long   => l.toDouble
      case d: Double => d
    }
    val rows = Json.arr(doc("results")).map(Json.obj)
    val times = rows.map(r => num(r("execution_time")))
    val elapsed = num(doc("elapsed_time"))
    // four workers overlap six independent nodes: the wall span is at
    // least the longest node and less than the nodes' summed time
    assert(elapsed >= times.max && elapsed < times.sum, s"elapsed $elapsed, node times $times")
    val threads = rows.map(r => Json.str(r("thread_id")))
    assert(!threads.contains("main") && threads.forall(_.nonEmpty), threads)
    assert(threads.toSet == results.map(_.threadId).toSet)
  }

  test("failing error-severity test skips downstream, warn does not") {
    val rm = newRm()
    val nodes = Seq(
      TemplateResolver.parseModel("pkg", "base", "{{ config(materialized='table') }}\nselect 1 as x union all select 1 as x"),
      mkTest("unique_x", "select x, count(*) n from {{ ref('base') }} group by x having count(*) > 1", "base"),
      TemplateResolver.parseModel("pkg", "downstream",
        "{{ config(materialized='table') }}\nselect * from {{ ref('base') }}"))
    val manifest = Manifest(nodes).processRefs()
    val r1 = new Runner(spark, rm, manifest).run(withTestEdges = true)
    val byId = r1.map(r => r.uniqueId -> r).toMap
    assert(byId("test.pkg.unique_x").status == "fail")
    assert(byId("model.pkg.downstream").status == "skipped")

    val warnNodes = nodes.map(n => if (n.nodeType == NodeType.Test) n.withSeverity("warn") else n)
    val r2 = new Runner(spark, newRm(), Manifest(warnNodes).processRefs()).run(withTestEdges = true)
    val byId2 = r2.map(r => r.uniqueId -> r).toMap
    assert(byId2("test.pkg.unique_x").status == "warn")
    assert(byId2("model.pkg.downstream").status == "success")
  }

  test("incremental append, merge, delete+insert semantics") {
    val rm = newRm()
    import spark.implicits._
    val rel = Relation("graft", "main", "inc_merge")
    val v1 = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "tag", "amt")
    rm.writeTable(v1, rel)
    // merge: id 2 updated, id 3 new
    val batch = Seq((2, "b2", 25.0), (3, "c", 30.0)).toDF("id", "tag", "amt")
    Materializations.mergeInto(rm, rel, batch, Seq("id"), updateColumns = Nil)
    val after = rm.read(rel).orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(after.toSeq == Seq((1, "a", 10.0), (2, "b2", 25.0), (3, "c", 30.0)))

    // merge with update_columns subset: only amt updates, tag preserved
    val batch2 = Seq((3, "IGNORED", 33.0)).toDF("id", "tag", "amt")
    Materializations.mergeInto(rm, rel, batch2, Seq("id"), updateColumns = Seq("amt"))
    val r3 = rm.read(rel).filter($"id" === 3).collect()(0)
    assert(r3.getString(1) == "c" && r3.getDouble(2) == 33.0)

    // delete+insert
    val rel2 = Relation("graft", "main", "inc_di")
    rm.writeTable(v1, rel2)
    Materializations.deleteInsert(rm, rel2, batch, Seq("id"))
    val after2 = rm.read(rel2).orderBy("id").collect().map(_.getInt(0))
    assert(after2.toSeq == Seq(1, 2, 3))

    // append
    val rel3 = Relation("graft", "main", "inc_app")
    rm.writeTable(v1, rel3)
    Materializations.incremental(rm, rel3, _ => batch,
      NodeConfig(materialized = "incremental", incrementalStrategy = Some("append")))
    assert(rm.read(rel3).count() == 4)
  }

  test("on_schema_change: ignore drops new cols, append_new_columns widens target") {
    val rm = newRm()
    import spark.implicits._
    val rel = Relation("graft", "main", "evolving")
    rm.writeTable(Seq((1, "a")).toDF("id", "f1"), rel)
    val withNew = Seq((2, "b", 9.9)).toDF("id", "f1", "f2")

    val ignored = rm.reconcileSchema(withNew, rel, OnSchemaChange.Ignore)
    assert(ignored.columns.toSeq == Seq("id", "f1"))

    val widened = rm.reconcileSchema(withNew, rel, OnSchemaChange.AppendNewColumns)
    assert(widened.columns.toSeq == Seq("id", "f1", "f2"))
    assert(rm.columnsIn(rel).fieldNames.toSeq == Seq("id", "f1", "f2"))
    // history rows got null f2
    assert(rm.read(rel).filter($"id" === 1).collect()(0).isNullAt(2))

    val rel2 = rel.copy(identifier = "evolving2")
    rm.writeTable(Seq((1, "a")).toDF("id", "f1"), rel2)
    assertThrows[IllegalStateException](
      rm.reconcileSchema(withNew, rel2, OnSchemaChange.Fail))
  }

  test("SCD-2 snapshot: timestamp strategy tracks updates, check strategy tracks value changes") {
    val rm = newRm()
    import spark.implicits._
    val rel = Relation("graft", "snapshots", "cust_snap")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val v1 = Seq(
      (1, "alice", t("2024-01-01 00:00:00")),
      (2, "bob", t("2024-01-01 00:00:00"))).toDF("id", "name", "updated_at")
    val strat = Snapshot.TimestampStrategy("updated_at")
    Snapshot(rm, rel, v1, Seq("id"), strat)
    assert(rm.read(rel).count() == 2)

    // v2: alice renamed (newer updated_at), carol added, bob unchanged
    val v2 = Seq(
      (1, "alicia", t("2024-02-01 00:00:00")),
      (2, "bob", t("2024-01-01 00:00:00")),
      (3, "carol", t("2024-02-01 00:00:00"))).toDF("id", "name", "updated_at")
    Snapshot(rm, rel, v2, Seq("id"), strat)
    val snap = rm.read(rel)
    assert(snap.count() == 4) // alice v1 closed + alice v2 + bob + carol
    val aliceClosed = snap.filter($"id" === 1 && $"dbt_valid_to".isNotNull).collect()
    assert(aliceClosed.length == 1 && aliceClosed(0).getAs[java.sql.Timestamp]("dbt_valid_to") == t("2024-02-01 00:00:00"))
    val open = snap.filter($"dbt_valid_to".isNull).select("name").as[String].collect().sorted
    assert(open.toSeq == Seq("alicia", "bob", "carol"))

    // hard delete: bob vanishes
    val v3 = Seq(
      (1, "alicia", t("2024-02-01 00:00:00")),
      (3, "carol", t("2024-02-01 00:00:00"))).toDF("id", "name", "updated_at")
    val delAt = java.time.Instant.parse("2024-03-01T00:00:00Z")
    Snapshot(rm, rel, v3, Seq("id"), strat, invalidateHardDeletes = true, hardDeleteAt = Some(delAt))
    val bob = rm.read(rel).filter($"id" === 2).collect()(0)
    assert(bob.getAs[Boolean]("dbt_is_deleted"))

    // check strategy on a keyed table without updated_at
    val relC = Relation("graft", "snapshots", "check_snap")
    val c1 = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val at1 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val at2 = java.time.Instant.parse("2024-01-02T00:00:00Z")
    Snapshot(rm, relC, c1, Seq("id"), Snapshot.CheckStrategy(at1), checkCols = Seq("all"))
    Snapshot(rm, relC, Seq((1, "x"), (2, "y2")).toDF("id", "v"), Seq("id"),
      Snapshot.CheckStrategy(at2), checkCols = Seq("all"))
    val snapC = rm.read(relC)
    assert(snapC.count() == 3)
    assert(snapC.filter($"id" === 2 && $"dbt_valid_to".isNotNull).count() == 1)
    assert(snapC.filter($"id" === 1).count() == 1)
  }

  test("microbatch tiles event-time and is idempotent on re-run") {
    val rm = newRm()
    import spark.implicits._
    val rel = Relation("graft", "main", "mb_daily")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (t("2024-01-01 05:00:00"), 1.0), (t("2024-01-01 07:00:00"), 2.0),
      (t("2024-01-02 05:00:00"), 4.0), (t("2024-01-03 09:00:00"), 8.0))
      .toDF("ts", "v")
    val cfg = NodeConfig(materialized = "incremental",
      incrementalStrategy = Some("microbatch"),
      eventTime = Some("ts"), batchSize = Some("day"),
      begin = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")))
    val end = java.time.Instant.parse("2024-01-04T00:00:00Z")
    def build(b: (java.time.Instant, java.time.Instant)) =
      events.filter(Microbatch.eventTimeFilter("ts", b))
        .groupBy(date_trunc("day", $"ts").as("ts")).agg(sum($"v").as("v"))
    val batches = Microbatch.run(rm, rel, build, cfg, end)
    assert(batches.size == 3)
    val rows = rm.read(rel).orderBy("ts").select("v").as[Double].collect()
    assert(rows.toSeq == Seq(3.0, 4.0, 8.0))
    // re-run with checkpoint at end: lookback=1 reprocesses last day only, result unchanged
    Microbatch.run(rm, rel, build, cfg, end, checkpoint = Some(end))
    assert(rm.read(rel).orderBy("ts").select("v").as[Double].collect().toSeq == Seq(3.0, 4.0, 8.0))
    // per-batch checkpoint persisted at the last committed batch end
    assert(rm.readCheckpoint(rel).contains(end))
  }

  test("bucketed microbatch store: layout declared at bootstrap, every batch routes through it, resume appends only") {
    val rm = newRm()
    import spark.implicits._
    val rel = Relation("graft", "main", "mb_bucketed")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (t("2024-01-01 05:00:00"), "ka", 1.0), (t("2024-01-01 07:00:00"), "kb", 2.0),
      (t("2024-01-02 05:00:00"), "ka", 4.0), (t("2024-01-02 09:00:00"), "kc", 8.0))
      .toDF("ts", "k", "v")
    val cfg = NodeConfig(materialized = "incremental",
      incrementalStrategy = Some("microbatch"),
      eventTime = Some("ts"), batchSize = Some("day"),
      begin = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")),
      lookback = 0,
      meta = Map("buckets" -> "4", "bucket_by" -> "k"))
    def build(b: (java.time.Instant, java.time.Instant)) =
      events.filter(Microbatch.eventTimeFilter("ts", b))
    // run 1: only day 1 in the window — the bootstrap declares the
    // bucket layout with an empty v0, then the batch commits through it
    Microbatch.run(rm, rel, build, cfg,
      java.time.Instant.parse("2024-01-02T00:00:00Z"))
    val st1 = rm.currentState(rel).get
    assert(st1.buckets == 4 && st1.bucketBy == Seq("k"),
      s"bucket layout must persist from bootstrap: ${st1.bucketBy}/${st1.buckets}")
    assert(st1.files.nonEmpty && st1.files.forall(f =>
      f.contains("__graft_batch=2024-01-01") && f.contains("/_bucket=")),
      s"batch files must nest buckets inside the batch partition: ${st1.files}")
    // run 2 from the checkpoint: day 2 appends its own partition,
    // rewriting nothing, still bucket-routed
    Microbatch.run(rm, rel, build, cfg,
      java.time.Instant.parse("2024-01-03T00:00:00Z"),
      checkpoint = rm.readCheckpoint(rel))
    val st2 = rm.currentState(rel).get
    assert(st2.version == st1.version + 1)
    assert(st1.files.forall(st2.files.toSet), "resume must not rewrite day 1")
    val added = st2.files.filterNot(st1.files.toSet)
    assert(added.nonEmpty && added.forall(f =>
      f.contains("__graft_batch=2024-01-02") && f.contains("/_bucket=")), s"$added")
    // data intact through the bucketed layout
    assert(rm.read(rel).select("v").as[Double].collect().sorted.toSeq ==
      Seq(1.0, 2.0, 4.0, 8.0))
    // same-bucket rows land in the same bucket file name across batches
    // (the storage-partitioned-join contract: bucket id is a pure
    // function of the key)
    val byBucket = rm.read(rel).count()
    assert(byBucket == 4)
    // the layout is fixed at bootstrap: re-declaring a DIFFERENT
    // geometry against the existing table fails loud instead of being
    // silently ignored (r16 review)
    val cfg8 = cfg.copy(meta = Map("buckets" -> "8", "bucket_by" -> "k"))
    val eGeom = intercept[IllegalArgumentException] {
      Microbatch.run(rm, rel, build, cfg8,
        java.time.Instant.parse("2024-01-04T00:00:00Z"),
        checkpoint = rm.readCheckpoint(rel))
    }
    assert(eGeom.getMessage.contains("fixed at") &&
      eGeom.getMessage.contains("x 8") && eGeom.getMessage.contains("x 4"),
      eGeom.getMessage)
    // the guard is symmetric (r17, ADVICE r16): REMOVING the declaration
    // from an existing bucketed store fails loud too — staged batches
    // would keep routing through the persisted layout while the operator
    // believes the store is unbucketed
    val cfgNone = cfg.copy(meta = Map.empty)
    val eDrop = intercept[IllegalArgumentException] {
      Microbatch.run(rm, rel, build, cfgNone,
        java.time.Instant.parse("2024-01-04T00:00:00Z"),
        checkpoint = rm.readCheckpoint(rel))
    }
    assert(eDrop.getMessage.contains("declares no bucketing") &&
      eDrop.getMessage.contains("x 4"), eDrop.getMessage)
  }

  test("tblprops config lands on the committed table; unchanged values commit nothing extra (r17)") {
    val rm = newRm()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .createOrReplaceTempView("tp_src")
    val node = TemplateResolver.parseModel("p", "tp_store",
      "{{ config(materialized='table', " +
        "tblprops.row_level_mode='merge-on-read') }}\nselect * from tp_src")
    val mf = Manifest(Seq(node)).processRefs()
    val runner = new Runner(spark, rm, mf)
    assert(runner.run().forall(_.status == "success"))
    val rel = Relation("graft", "main", "tp_store")
    val st1 = rm.currentState(rel).get
    assert(st1.props.get("row_level_mode").contains("merge-on-read"))
    // the property is LIVE: SQL DELETE goes merge-on-read (no data file
    // rewritten, positional deletes attached)
    spark.sql(s"DELETE FROM ${rm.catalogName}.main.tp_store WHERE id = 2")
    val st2 = rm.currentState(rel).get
    assert(st1.files.forall(st2.files.toSet) && st2.deletes.nonEmpty)
    assert(rm.read(rel).count() == 2)
    // a rebuild re-declares the same value: exactly ONE commit (the
    // write), no extra property commit
    assert(runner.run().forall(_.status == "success"))
    val st3 = rm.currentState(rel).get
    assert(st3.version == st2.version + 1,
      s"unchanged tblprops must not add a commit: v${st2.version} -> v${st3.version}")
    assert(st3.props.get("row_level_mode").contains("merge-on-read"),
      "properties carry forward across rebuild commits")
    // declaring tblprops on a non-table materialization fails loud
    val bad = TemplateResolver.parseModel("p", "tp_view",
      "{{ config(materialized='view', tblprops.k='v') }}\nselect * from tp_src")
    val res = new Runner(spark, rm, Manifest(Seq(bad)).processRefs()).run()
    assert(res.exists(r => r.status == "error" &&
      r.message.contains("not a commit-log table")), res.mkString(";"))
  }

  test("bucketed microbatch bootstrap builds its v0 schema against zero-row inputs (eager native body pays nothing)") {
    // r17 (VERDICT r16 task 5): the bootstrap's schema probe previously
    // invoked the full model body with filter(false) ABOVE it — lazy
    // bodies pruned to nothing, but a native body that materializes
    // eagerly inside its own code (checkpoint, count, cache) paid one
    // full extra build at bootstrap. The Runner now hands the bootstrap
    // a limit(0)-inputs pre-pass: the body still runs, but over empty
    // dep frames.
    val rm = newRm()
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq((t("2024-01-01 05:00:00"), "ka", 1.0), (t("2024-01-02 07:00:00"), "kb", 2.0))
      .toDF("ts", "k", "v").createOrReplaceTempView("mbz_src")
    // an EAGER native body: materializes its input frame per invocation
    // and records the row count it saw
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    graft.core.NativeRegistry.register("mbz_eager") { (_, deps) =>
      val in = deps("feed")
      val n = in.count() // the eager materialization
      seen.synchronized { seen += n }
      in.select($"ts", $"k", $"v")
    }
    val nodes = Seq(
      Node(NodeType.Model, "p", "feed",
        code = Some(SqlCode("select * from mbz_src")),
        config = NodeConfig(materialized = "ephemeral", eventTime = Some("ts"))),
      Node(NodeType.Model, "p", "store",
        code = Some(NativeCode(graft.core.NativeRegistry("mbz_eager"))),
        config = NodeConfig(materialized = "incremental",
          incrementalStrategy = Some("microbatch"),
          eventTime = Some("ts"), batchSize = Some("day"), lookback = 0,
          begin = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")),
          meta = Map("buckets" -> "2", "bucket_by" -> "k",
            "run_end" -> "2024-01-03T00:00:00Z", "concurrent_batches" -> "false")),
        refs = Seq("feed")))
    val mf = Manifest(nodes).processRefs()
    val runner = new Runner(spark, rm, mf)
    val res = runner.run(Seq("store"))
    assert(res.forall(_.status == "success"), res.mkString("\n"))
    val rel = Relation("graft", "main", "store")
    val st = rm.currentState(rel).get
    assert(st.buckets == 2 && rm.read(rel).count() == 2)
    // invocations: bootstrap + 2 batches; the BOOTSTRAP invocation must
    // have seen ZERO input rows (the limit(0) pre-pass), while the two
    // real batches saw one row each
    assert(seen.sorted.toSeq == Seq(0L, 1L, 1L),
      s"bootstrap must build against empty inputs, saw: $seen")
  }

  test("microbatch reprocessed batch with vanished source rows clears its stale partition") {
    val rm = newRm()
    import spark.implicits._
    val rel = Relation("graft", "main", "mb_vanish")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val cfg = NodeConfig(materialized = "incremental",
      incrementalStrategy = Some("microbatch"),
      eventTime = Some("ts"), batchSize = Some("day"),
      begin = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")))
    val end = java.time.Instant.parse("2024-01-03T00:00:00Z")
    def buildFrom(src: org.apache.spark.sql.DataFrame)(b: (java.time.Instant, java.time.Instant)) =
      src.filter(Microbatch.eventTimeFilter("ts", b))
    val v1 = Seq((t("2024-01-01 05:00:00"), 1.0), (t("2024-01-02 05:00:00"), 2.0)).toDF("ts", "v")
    Microbatch.run(rm, rel, buildFrom(v1), cfg, end)
    assert(rm.read(rel).count() == 2)
    // day 2's source rows disappear (late retraction); reprocessing that
    // batch must REMOVE the stale row, not leave it (delete+insert per batch)
    val v2 = Seq((t("2024-01-01 05:00:00"), 1.0)).toDF("ts", "v")
    Microbatch.run(rm, rel, buildFrom(v2), cfg, end,
      checkpoint = Some(java.time.Instant.parse("2024-01-02T00:00:00Z")))
    val left = rm.read(rel).select("v").as[Double].collect().toSeq
    assert(left == Seq(1.0), s"stale day-2 row should be gone, got $left")
  }

  test("concurrent microbatch overlaps staging, commits in order, same table as sequential") {
    val rm = newRm()
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (t("2024-01-01 05:00:00"), 1.0), (t("2024-01-02 06:00:00"), 2.0),
      (t("2024-01-03 07:00:00"), 4.0), (t("2024-01-04 08:00:00"), 8.0))
      .toDF("ts", "v")
    val cfg = NodeConfig(materialized = "incremental",
      incrementalStrategy = Some("microbatch"),
      eventTime = Some("ts"), batchSize = Some("day"),
      begin = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")))
    val end = java.time.Instant.parse("2024-01-05T00:00:00Z")

    // prove ≥2 batch builds are genuinely in flight at once
    val gate = new java.util.concurrent.CountDownLatch(2)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    def build(b: (java.time.Instant, java.time.Instant)) = {
      gate.countDown()
      if (gate.await(30, java.util.concurrent.TimeUnit.SECONDS)) overlapped.set(true)
      events.filter(Microbatch.eventTimeFilter("ts", b))
    }
    val relC = Relation("graft", "main", "mb_conc")
    Microbatch.run(rm, relC, build, cfg, end, concurrency = 4)
    assert(overlapped.get(), "expected ≥2 concurrent batch stagings")

    val relS = Relation("graft", "main", "mb_seq")
    Microbatch.run(rm, relS,
      b => events.filter(Microbatch.eventTimeFilter("ts", b)), cfg, end, concurrency = 1)
    val c = rm.read(relC).orderBy("ts").select("v").as[Double].collect().toSeq
    val s = rm.read(relS).orderBy("ts").select("v").as[Double].collect().toSeq
    assert(c == s && c == Seq(1.0, 2.0, 4.0, 8.0))
    // ordered commits: checkpoint is the final batch end
    assert(rm.readCheckpoint(relC).contains(end))
  }

  test("concurrent microbatch failure commits the clean prefix and discards later batches' staged files") {
    val rm = newRm()
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = (1 to 4).map(d => (t(f"2024-01-0$d%d 05:00:00"), d.toDouble)).toDF("ts", "v")
    val cfg = NodeConfig(materialized = "incremental",
      incrementalStrategy = Some("microbatch"),
      eventTime = Some("ts"), batchSize = Some("day"),
      begin = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")))
    val rel = Relation("graft", "main", "mb_abort")
    val boomAt = java.time.Instant.parse("2024-01-02T00:00:00Z")
    def build(b: (java.time.Instant, java.time.Instant)) =
      if (b._1 == boomAt) throw new RuntimeException("boom")
      else events.filter(Microbatch.eventTimeFilter("ts", b))
    val e = intercept[RuntimeException] {
      Microbatch.run(rm, rel, build, cfg,
        java.time.Instant.parse("2024-01-05T00:00:00Z"), concurrency = 4)
    }
    assert(e.getMessage == "boom")
    // clean prefix: batch 1 committed, checkpoint stopped at the failure
    assert(rm.readCheckpoint(rel).contains(boomAt))
    assert(rm.read(rel).orderBy("ts").select("v").as[Double].collect().toSeq == Seq(1.0))
    // no orphans: batches 3-4 staged concurrently but their files were
    // discarded on the drain path — everything on disk is referenced
    val onDisk = Files.walk(java.nio.file.Paths.get(rm.path(rel))).filter(_.toString.endsWith(".parquet")).count()
    assert(onDisk == rm.currentState(rel).get.files.size,
      s"staged orphans left on disk: $onDisk files vs ${rm.currentState(rel).get.files.size} referenced")
    // rerun with a fixed builder resumes from the checkpoint and completes
    Microbatch.run(rm, rel,
      b => events.filter(Microbatch.eventTimeFilter("ts", b)), cfg,
      java.time.Instant.parse("2024-01-05T00:00:00Z"),
      checkpoint = rm.readCheckpoint(rel), concurrency = 4)
    assert(rm.read(rel).orderBy("ts").select("v").as[Double].collect().toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("kill between batches: resume from persisted checkpoint reprocesses only the tail") {
    val rm = newRm()
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = (1 to 4).map(d => (t(f"2024-01-0$d%d 05:00:00"), d.toDouble)).toDF("ts", "v")
    val cfg = NodeConfig(materialized = "incremental",
      incrementalStrategy = Some("microbatch"),
      eventTime = Some("ts"), batchSize = Some("day"),
      begin = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")))
    val rel = Relation("graft", "main", "mb_resume")
    val windows = collection.concurrent.TrieMap.empty[java.time.Instant, Int]
    def build(b: (java.time.Instant, java.time.Instant)) = {
      windows.updateWith(b._1)(c => Some(c.getOrElse(0) + 1))
      events.filter(Microbatch.eventTimeFilter("ts", b))
    }
    // "crash" after two batches: run with a truncated runEnd
    Microbatch.run(rm, rel, build, cfg,
      java.time.Instant.parse("2024-01-03T00:00:00Z"), concurrency = 1)
    assert(rm.readCheckpoint(rel).contains(java.time.Instant.parse("2024-01-03T00:00:00Z")))
    windows.clear()
    // resume from the persisted checkpoint: lookback=1 reprocesses day 2,
    // then days 3-4 — day 1 must NOT rebuild
    Microbatch.run(rm, rel, build, cfg,
      java.time.Instant.parse("2024-01-05T00:00:00Z"),
      checkpoint = rm.readCheckpoint(rel), concurrency = 1)
    assert(!windows.contains(java.time.Instant.parse("2024-01-01T00:00:00Z")),
      s"day 1 was reprocessed: $windows")
    assert(rm.read(rel).orderBy("ts").select("v").as[Double].collect().toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("runner dispatches microbatch models: initial build, checkpoint resume, full refresh") {
    val rm = newRm()
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    Materializations.table(rm, Relation("graft", "main", "mb_src"),
      Seq((t("2024-01-01 05:00:00"), 1.0), (t("2024-01-02 06:00:00"), 2.0),
        (t("2024-01-03 07:00:00"), 4.0)).toDF("ts", "v"))
    val model = TemplateResolver.parseModel("pkg", "mb_model",
      "{{ config(materialized='incremental', incremental_strategy='microbatch', " +
        "event_time='ts', batch_size='day', begin='2024-01-01T00:00:00Z', " +
        "run_end='2024-01-04T00:00:00Z') }}\n" +
        "select ts, v * 10 as v10 from main__mb_src")
    val manifest = Manifest(Seq(model)).processRefs()
    def newRunner() = new Runner(spark, rm, manifest)
    val r1 = newRunner().run(Seq("mb_model"))
    assert(r1.forall(_.status == "success"), r1.mkString(";"))
    val rel = newRunner().relationFor(model)
    assert(rm.read(rel).orderBy("ts").select("v10").as[Double].collect().toSeq ==
      Seq(10.0, 20.0, 40.0))
    assert(rm.readCheckpoint(rel).contains(java.time.Instant.parse("2024-01-04T00:00:00Z")))
    // second run resumes from the checkpoint (idempotent re-run)
    val r2 = newRunner().run(Seq("mb_model"))
    assert(r2.forall(_.status == "success"), r2.mkString(";"))
    assert(rm.read(rel).count() == 3)
    // full refresh drops and rebuilds from `begin`
    val r3 = new Runner(spark, rm, manifest, fullRefresh = true).run(Seq("mb_model"))
    assert(r3.forall(_.status == "success"), r3.mkString(";"))
    assert(rm.read(rel).orderBy("ts").select("v10").as[Double].collect().toSeq ==
      Seq(10.0, 20.0, 40.0))
  }

  test("duplicate unique_key in a merge source fails fast; unique source merges") {
    val rm = newRm()
    import spark.implicits._
    val rel = Relation("graft", "main", "dupkey")
    Materializations.table(rm, rel, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val e = intercept[IllegalStateException] {
      Materializations.mergeInto(rm, rel,
        Seq((1, "x"), (1, "y")).toDF("id", "v"), Seq("id"), updateColumns = Nil)
    }
    assert(e.getMessage.contains("duplicate unique_key"))
    // table unchanged after the failed merge (guard fires before any commit)
    assert(rm.read(rel).orderBy("id").select("v").as[String].collect().toSeq == Seq("a", "b"))
    Materializations.mergeInto(rm, rel,
      Seq((1, "x")).toDF("id", "v"), Seq("id"), updateColumns = Nil)
    assert(rm.read(rel).orderBy("id").select("v").as[String].collect().toSeq == Seq("x", "b"))
  }

  test("merge_update_columns / merge_exclude_columns / incremental_predicates declared in config() flow through the Runner") {
    val rm = newRm()
    import spark.implicits._
    Materializations.table(rm, Relation("graft", "main", "inc_src"),
      Seq((1, "v1", "k1"), (2, "v2", "k2")).toDF("id", "v", "keep"))

    // merge that only updates `v` (declared via merge_update_columns)
    val m = TemplateResolver.parseModel("pkg", "inc_upd",
      "{{ config(materialized='incremental', incremental_strategy='merge', " +
        "unique_key='id', merge_update_columns='v') }}\n" +
        "select id, v, keep from main__inc_src")
    assert(m.config.meta("merge_update_columns") == "v")
    val manifest = Manifest(Seq(m)).processRefs()
    val runner = new Runner(spark, rm, manifest)
    assert(runner.run(Seq("inc_upd")).forall(_.status == "success"))
    // mutate source: v and keep both change, but only v may propagate
    Materializations.table(rm, Relation("graft", "main", "inc_src"),
      Seq((1, "v1b", "k1b"), (2, "v2b", "k2b")).toDF("id", "v", "keep"))
    assert(new Runner(spark, rm, manifest).run(Seq("inc_upd")).forall(_.status == "success"))
    val rel = runner.relationFor(m)
    val rows = rm.read(rel).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq((1, "v1b", "k1"), (2, "v2b", "k2")),
      s"merge_update_columns must protect `keep`: $rows")

    // delete+insert with a declared incremental predicate: only rows also
    // matching the predicate delete
    val di = TemplateResolver.parseModel("pkg", "inc_di",
      "{{ config(materialized='incremental', incremental_strategy='delete+insert', " +
        "unique_key='id', incremental_predicates=\"keep = 'old'\") }}\n" +
        "select id, v, keep from main__inc_src2")
    assert(di.config.meta("incremental_predicates") == "keep = 'old'")
    Materializations.table(rm, Relation("graft", "main", "inc_src2"),
      Seq((1, "a", "old"), (2, "b", "new")).toDF("id", "v", "keep"))
    val mf2 = Manifest(Seq(di)).processRefs()
    assert(new Runner(spark, rm, mf2).run(Seq("inc_di")).forall(_.status == "success"))
    // second run: id=1 (keep=old) is deleted+reinserted once; id=2 (keep=new)
    // fails the predicate so its old row SURVIVES alongside the reinsert
    assert(new Runner(spark, rm, mf2).run(Seq("inc_di")).forall(_.status == "success"))
    val di2 = rm.read(new Runner(spark, rm, mf2).relationFor(di))
    assert(di2.filter($"id" === 1).count() == 1)
    assert(di2.filter($"id" === 2).count() == 2)
  }

  test("declarable bucketing: config(buckets, bucket_by) models join shuffle-free") {
    val rm = newRm()
    import spark.implicits._
    Materializations.table(rm, Relation("graft", "main", "bkt_src"),
      (1 to 1000).map(i => (i.toLong, i % 7)).toDF("k", "grp"))
    val a = TemplateResolver.parseModel("pkg", "bkt_a",
      "{{ config(materialized='table', buckets='8', bucket_by='k') }}\n" +
        "select k, grp from main__bkt_src")
    val b = TemplateResolver.parseModel("pkg", "bkt_b",
      "{{ config(materialized='table', buckets='8', bucket_by='k') }}\n" +
        "select k, grp as g2 from main__bkt_src")
    val manifest = Manifest(Seq(a, b)).processRefs()
    val runner = new Runner(spark, rm, manifest)
    assert(runner.run(Seq("bkt_a", "bkt_b")).forall(_.status == "success"))
    val joined = spark.table("main__bkt_a").join(spark.table("main__bkt_b"), "k")
      .groupBy("k").count()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning(k"),
      s"declared-bucket join should not shuffle on k:\n$plan")
  }

  test("snapshot without unique_key fails with a clear error") {
    val rm = newRm()
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Snapshot(rm, Relation("graft", "main", "snap_nokey"),
        Seq((1, "x"), (2, "y")).toDF("id", "v"), Nil,
        Snapshot.CheckStrategy(java.time.Instant.parse("2024-01-01T00:00:00Z")),
        checkCols = Seq("all"))
    }
    assert(e.getMessage.contains("requires unique_key"))
  }
}

class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def noBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("r15: a computed batch one-side-shuffles into a bucketed store (the beyond-broadcast ingest regime)") {
    // the *Incremental ops' scale path when the batch outgrows the
    // broadcast threshold (SCALE.md r15: the jaccard 150k leg shuffled
    // the whole 16M-row index once its batch passed 10MB): persist the
    // index BUCKETED on the key and only the batch shuffles — into the
    // store's own bucket layout (Exchange keygroupedpartitioning over
    // GraftBoundBucket); the store streams from its BatchScan.
    import org.apache.spark.sql.functions.{col, xxhash64}
    val rm = new RelationManager(spark,
      java.nio.file.Files.createTempDirectory("graft_osb").toString)
    val rel = Relation("graft", "bkt", "shingle_idx")
    val idx = spark.range(50000L).toDF("doc")
      .select(col("doc"), xxhash64(col("doc")).as("sh64"))
    rm.writeBucketedTable(idx, rel, 8, Seq("sh64"))
    noBroadcast {
      val batch = spark.range(3000L).toDF("bdoc")
        .select(col("bdoc"), xxhash64(col("bdoc") * 3L).as("sh64"))
      val joined = rm.read(rel).join(batch, "sh64")
      val plan = finalPlan(joined)
      assert(plan.contains("Exchange keygroupedpartitioning"),
        s"the batch side must shuffle into the store's bucket layout:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"the store side must stream from its BatchScan, never reshuffle:\n$plan")
      // rows match the plain shuffled join over the raw frames
      assert(joined.count() ==
        idx.join(spark.range(3000L).toDF("bdoc")
          .select(col("bdoc"), xxhash64(col("bdoc") * 3L).as("sh64")), "sh64").count())
    }
  }

  test("co-bucketed commit-log tables join without a shuffle (storage-partitioned join)") {
    val rm = new RelationManager(spark, java.nio.file.Files.createTempDirectory("graft_bkt").toString)
    val sf = "/root/testdata/sf0.001"
    val o = Tables.orders(spark, sf)
    val l = Tables.lineitem(spark, sf)
    val relO = Relation("graft", "bkt", "orders_b")
    val relL = Relation("graft", "bkt", "lineitem_b")
    rm.writeBucketedTable(o.withColumnRenamed("o_orderkey", "k"), relO, 8, Seq("k"))
    rm.writeBucketedTable(l.withColumnRenamed("l_orderkey", "k"), relL, 8, Seq("k"))
    noBroadcast {
      val joined = rm.read(relO).join(rm.read(relL), "k")
      val plan = finalPlan(joined)
      // a real SPJ: sort-merge over the two grouped BatchScans, no exchange
      assert(plan.contains("SortMergeJoin") && plan.contains("BatchScan"),
        s"expected a sort-merge join over V2 scans:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join should storage-partition-join, not shuffle:\n$plan")
      // inner join row count matches the plain (shuffled) parquet join
      assert(joined.count() ==
        o.withColumnRenamed("o_orderkey", "k").join(
          l.withColumnRenamed("l_orderkey", "k"), "k").count())
    }

    // file-level MERGE keeps the layout: rewritten files land back in
    // their bucket dirs, so the NEXT join still skips the shuffle —
    // the either/or (bucketing vs commit log) is gone
    val st0 = rm.currentState(relO).get
    assert(st0.buckets == 8 && st0.bucketBy == Seq("k"))
    assert(st0.files.nonEmpty &&
      st0.files.forall(RelationManager.bucketIdOf(_).isDefined))
    import org.apache.spark.sql.functions.lit
    val batch = rm.read(relO).limit(50).withColumn("o_comment", lit("merged"))
    graft.materializations.Materializations.mergeInto(
      rm, relO, batch, Seq("k"), updateColumns = Seq("o_comment"))
    val st1 = rm.currentState(relO).get
    assert(st1.version > st0.version)
    assert(st1.files.forall(RelationManager.bucketIdOf(_).isDefined),
      "merge-rewritten files must keep their bucket routing")
    noBroadcast {
      val joined = rm.read(relO).join(rm.read(relL), "k")
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"post-merge bucketed join should still not shuffle:\n$plan")
    }
    // time travel still works on the bucketed table
    assert(rm.readAt(relO, st0.version).count() == o.count())

    // SQL addressability through the V2 catalog, incl. VERSION AS OF
    val cat = rm.catalogName
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.bkt.orders_b")
      .head().getLong(0) == o.count())
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $cat.bkt.orders_b VERSION AS OF ${st0.version}")
      .head().getLong(0) == o.count())
  }

  test("partitioned + bucketed layouts compose: SPJ survives partition dirs and partition overwrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rm = new RelationManager(spark, java.nio.file.Files.createTempDirectory("graft_pbkt").toString)
    val relA = Relation("graft", "bkt", "pb_a")
    val relB = Relation("graft", "bkt", "pb_b")
    def mk(tag: String) = (0L until 400L)
      .map(i => (i, s"$tag$i", if (i % 4 < 2) "x" else "y")).toDF("k", "v", "p")
    // partition dirs wrap bucket dirs: root/p=…/_bucket=…/part-…
    rm.writeTable(mk("a"), relA, partitionBy = Seq("p"),
      statsCols = Seq("k"), bucketBy = Seq("k"), buckets = 4)
    rm.writeTable(mk("b"), relB, partitionBy = Seq("p"),
      statsCols = Seq("k"), bucketBy = Seq("k"), buckets = 4)
    val st = rm.currentState(relA).get
    assert(st.files.nonEmpty && st.files.forall(f =>
      f.startsWith("p=") && RelationManager.bucketIdOf(f).isDefined),
      s"expected p=…/_bucket=… layout: ${st.files}")

    noBroadcast {
      val joined = rm.read(relA).join(rm.read(relB), "k")
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"partitioned+bucketed join must storage-partition-join:\n$plan")
      assert(joined.count() == 400) // unique k on both sides
    }

    // insert_overwrite on the bucketed table: only the covered LOGICAL
    // partition is replaced (bucket dirs are layout, not identity), the
    // replacement restages through the bucket routing, and the next join
    // still skips its shuffle
    val batch = (0L until 400L).filter(i => i % 4 < 2)
      .map(i => (i, "NEW", "x")).toDF("k", "v", "p")
    rm.overwritePartitions(batch, relA, Seq("p"))
    val st1 = rm.currentState(relA).get
    assert(st1.files.forall(f =>
      f.startsWith("p=") && RelationManager.bucketIdOf(f).isDefined),
      "overwrite must restage through the bucket layout")
    val out = rm.read(relA)
    assert(out.filter(col("p") === "x").filter(col("v") =!= "NEW").count() == 0,
      "p=x fully replaced")
    assert(out.filter(col("p") === "y").filter(col("v").startsWith("a")).count() == 200,
      "p=y untouched")
    noBroadcast {
      val joined = rm.read(relA).join(rm.read(relB), "k")
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"post-overwrite join must still storage-partition-join:\n$plan")
      assert(joined.count() == 400)
    }
  }

  test("bucket function matches the write-side row routing exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val n = 16
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(i =>
      (rnd.nextLong(), if (i % 7 == 0) null else s"s${rnd.nextInt(1000)}", rnd.nextInt()))
    val df = rows.toDF("a", "b", "c")
    val expected = df.select(col("a"), col("b"), col("c"),
      pmod(hash(col("a"), col("b"), col("c")), lit(n)).as("bkt")).collect()
    val bound = GraftBucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.IntegerType))))
      .asInstanceOf[GraftBoundBucket]
    expected.foreach { r =>
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, r.getLong(0),
          if (r.isNullAt(1)) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)),
          r.getInt(2)))
      assert(bound.produceResult(row) == r.getInt(3),
        s"bucket mismatch for $r")
    }
  }
}

class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import graft.ops.Skew

  test("salted join returns exactly the plain join's rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // heavily skewed: 80% of rows share key 1
    val large = (1 to 5000).map(i =>
      (if (rnd.nextDouble() < 0.8) 1L else rnd.between(2L, 50L), s"p$i")).toDF("k", "payload")
    val small = (1L to 49L).map(k => (k, s"dim$k")).toDF("k", "dim")
    val plain = large.join(small, "k").orderBy("k", "payload").collect()
    val salted = Skew.saltedJoin(large, small, "k", factor = 8, saltBy = Seq("payload"))
      .orderBy("k", "payload").collect()
    assert(plain.map(_.toString).toSeq == salted.map(_.toString).toSeq)
  }

  test("skew profile surfaces the hot key") {
    import spark.implicits._
    val df = (Seq.fill(90)(1L) ++ (2L to 11L)).map((_, "x")).toDF("k", "v")
    val top = Skew.keySkewProfile(df, "k", topN = 1).collect()(0)
    assert(top.getLong(0) == 1L && top.getDouble(2) == 0.9)
  }
}

class RelationExtrasSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("delete+insert honors incremental_predicates (only matching rows deleted)") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_pred").toString)
    val rel = Relation("graft", "main", "inc_pred")
    // target: id 1 recent, id 2 old
    rm.writeTable(Seq((1, "recent", 2024), (2, "old", 2020)).toDF("id", "tag", "yr"), rel)
    // batch rewrites both ids, but the predicate restricts deletion to yr >= 2024
    val batch = Seq((1, "new1", 2024), (2, "new2", 2024)).toDF("id", "tag", "yr")
    Materializations.deleteInsert(rm, rel, batch, Seq("id"),
      incrementalPredicates = Seq(col("yr") >= 2024))
    val rows = rm.read(rel).orderBy("id", "tag").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    // id 1 (yr 2024): old row deleted, replaced; id 2 (yr 2020): old row KEPT + new row inserted
    assert(rows == Seq((1, "new1"), (2, "new2"), (2, "old")))
  }

  test("persist_docs/grants sidecar survives reads and is ignored by scans") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_meta").toString)
    val rel = Relation("graft", "main", "documented")
    rm.writeTable(Seq((1, "x")).toDF("id", "v"), rel)
    rm.persistMeta(rel,
      docs = Map("relation" -> "demo table", "id" -> "primary key"),
      grants = Map("select" -> Seq("analyst", "bi")))
    assert(rm.read(rel).count() == 1) // underscore-prefixed sidecar invisible to the scan
    val meta = rm.readMeta(rel).get
    assert(meta.contains("\"id\": \"primary key\"") && meta.contains("\"analyst\""))
  }
}

class TestRegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import graft.quality.GenericTests.TestRegistry

  test("named generic tests resolve and return failing rows") {
    import spark.implicits._
    val df = Seq((1, "x", 5.0), (2, "", -1.0), (3, "y", 150.0)).toDF("id", "name", "amount")
    assert(TestRegistry("positive_values")(df, "amount", Map.empty)
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(TestRegistry("not_empty_string")(df, "name", Map.empty)
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(TestRegistry("accepted_range")(df, "amount", Map("min" -> "0", "max" -> "100"))
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    assert(TestRegistry("unique")(df, "id", Map.empty).count() == 0)
  }

  test("user-registered tests join the registry") {
    import spark.implicits._
    TestRegistry.register("is_even")((df, c, _) => df.filter(col(c) % 2 =!= 0))
    val df = Seq(1, 2, 3, 4).toDF("n")
    assert(TestRegistry("is_even")(df, "n", Map.empty).count() == 2)
    assert(TestRegistry.names.contains("is_even"))
    assertThrows[NoSuchElementException](TestRegistry("nope"))
  }
}

class NativeModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("native Scala models consume resolved deps and join the DAG") {
    import spark.implicits._
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_native").toString)
    val base = TemplateResolver.parseModel("pkg", "base_sql",
      "{{ config(materialized='table') }}\nselect 1 as id, cast(4.0 as double) as v union all select 2, cast(6.0 as double)")
    // a native model — arbitrary Scala over the dependency frames
    // (the engine's replacement for dbt Python models, SURVEY §2.5)
    val native = Node(NodeType.Model, "pkg", "native_stats",
      code = Some(NativeCode((s, deps) => {
        val df = deps("base_sql")
        df.agg(avg(col("v")).as("mean_v"), count(lit(1)).as("n"))
      })),
      config = NodeConfig(materialized = "table"),
      dependsOn = Seq("model.pkg.base_sql"))
    val downstream = TemplateResolver.parseModel("pkg", "consumer",
      "{{ config(materialized='table') }}\nselect mean_v * 2 as doubled from {{ ref('native_stats') }}")
    val manifest = Manifest(Seq(base, native, downstream)).processRefs()
    val results = new Runner(spark, rm, manifest).run()
    assert(results.forall(_.status == "success"), results.mkString(";"))
    val out = rm.read(Relation("graft", "main", "consumer")).collect()(0)
    assert(out.getDouble(0) == 10.0) // mean(4,6)=5 → doubled
  }

  test("materialized_view: fingerprint-tracked refresh — fresh skip, input-change refresh, on_configuration_change") {
    val rm = new RelationManager(spark, Files.createTempDirectory("graft_mv").toString)
    val base = TemplateResolver.parseModel("pkg", "mv_base",
      "{{ config(materialized='table') }}\nselect 1 as k, 10 as v")
    val mv = TemplateResolver.parseModel("pkg", "mv_top",
      "{{ config(materialized='materialized_view') }}\nselect k, sum(v) as total from {{ ref('mv_base') }} group by k")
    val manifest = Manifest(Seq(base, mv)).processRefs()
    val mvRel = Relation("graft", "main", "mv_top")

    val r1 = new Runner(spark, rm, manifest).run()
    assert(r1.forall(_.status == "success"), r1.mkString(";"))
    val v1 = rm.currentState(mvRel).get.version
    assert(rm.read(mvRel).collect()(0).getLong(1) == 10L)

    // MV-only build, inputs unchanged → provably fresh, no new commit
    val r2 = new Runner(spark, rm, manifest).run(select = Seq("mv_top"))
    assert(r2.exists(r => r.uniqueId.endsWith("mv_top") && r.message.startsWith("fresh")),
      r2.mkString(";"))
    assert(rm.currentState(mvRel).get.version == v1)

    // upstream commits a new version → the next MV build refreshes
    new Runner(spark, rm, manifest).run(select = Seq("mv_base"))
    val r3 = new Runner(spark, rm, manifest).run(select = Seq("mv_top"))
    assert(r3.exists(r => r.uniqueId.endsWith("mv_top") && r.message.startsWith("refreshed")),
      r3.mkString(";"))
    assert(rm.currentState(mvRel).get.version > v1)

    // SQL change + on_configuration_change=continue → kept as-is
    val mvKeep = TemplateResolver.parseModel("pkg", "mv_top",
      "{{ config(materialized='materialized_view', on_configuration_change='continue') }}\n" +
        "select k, sum(v) + 1 as total from {{ ref('mv_base') }} group by k")
    val vKeep = rm.currentState(mvRel).get.version
    val r4 = new Runner(spark, rm, Manifest(Seq(base, mvKeep)).processRefs())
      .run(select = Seq("mv_top"))
    assert(r4.exists(_.message.contains("kept as-is")), r4.mkString(";"))
    assert(rm.currentState(mvRel).get.version == vKeep)
    assert(rm.read(mvRel).collect()(0).getLong(1) == 10L) // old definition's data

    // SQL change + default on_configuration_change=apply → rebuilt
    val mvApply = TemplateResolver.parseModel("pkg", "mv_top",
      "{{ config(materialized='materialized_view') }}\n" +
        "select k, sum(v) + 1 as total from {{ ref('mv_base') }} group by k")
    val r5 = new Runner(spark, rm, Manifest(Seq(base, mvApply)).processRefs())
      .run(select = Seq("mv_top"))
    assert(r5.exists(_.message.contains("rebuilt")), r5.mkString(";"))
    assert(rm.read(mvRel).collect()(0).getLong(1) == 11L)

    // --full-refresh overrides the fresh skip
    val r6 = new Runner(spark, rm, Manifest(Seq(base, mvApply)).processRefs(),
      fullRefresh = true).run(select = Seq("mv_top"))
    assert(r6.exists(_.message.contains("full refresh")), r6.mkString(";"))
  }
}
