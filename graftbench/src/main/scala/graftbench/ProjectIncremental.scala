package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.{Manifest, Node, NodeType, Project, Relation}
import graft.relations.RelationManager
import graft.runner.{Commands, RunResult, Runner}

/** Workload `project_incremental`: a tpch-shaped project (template in
  * `incremental/`) over a source directory that starts at sf0.1 and gains
  * one seeded batch per op. One op lands one batch and runs one
  * `graft build` — the Main `build` path: load, source registration, the
  * Runner over every node with test edges, then run_results.json and
  * manifest.json. Writes sit beside reads, and later ops pay for the
  * commit-log history and small files earlier ops left. */
object ProjectIncremental {

  /** The persisted models the end-of-run check compares with a
    * full-refresh build, and the snapshot's source columns. */
  val Compared = Seq("orders_current", "revenue_by_segment", "pricing_summary", "shipments")
  val Snapshot = "customer_snapshot"
  val SnapshotCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val SourceTables = Seq("orders", "orders_delta", "lineitem", "customer", "customer_delta")

  final class Workspace(val dir: Path) {
    val project: Path = dir.resolve("project")
    val source: Path = dir.resolve("source")
    val incoming: Path = dir.resolve("incoming")
    val target: Path = project.resolve("target")
    val warehouse: String = target.resolve("warehouse").toAbsolutePath.toString
  }

  /** One finished build: what it ran with and what each node reported. */
  final case class Built(runner: Runner, rm: RelationManager, manifest: Manifest,
                         results: Seq[RunResult]) {
    def relation(name: String): Relation = runner.relationFor(manifest.byName(name).get)
    def read(name: String): DataFrame = rm.read(relation(name))
    /** Tables and snapshots, which the build persists. */
    def persisted: Seq[Relation] = manifest.nodes.values.toSeq
      .filter(n => (n.nodeType == NodeType.Model && !n.isEphemeral &&
        n.config.materialized != "view") || n.nodeType == NodeType.Snapshot)
      .sortBy(_.name).map(runner.relationFor)
  }

  /** Copy the project template and point its source at `source`. */
  def writeProject(ws: Workspace): Unit = {
    Resources.lines("incremental/FILES").foreach { f =>
      val p = ws.project.resolve(f)
      Files.createDirectories(p.getParent)
      Files.writeString(p, Resources.text(s"incremental/$f"))
    }
    Files.writeString(ws.project.resolve("graft_project.conf"),
      s"""name = bench_incremental
         |schema = main
         |sources.tpch = ${ws.source.toAbsolutePath}
         |""".stripMargin)
  }

  /** One `graft build` of the project, spanned per layer. `tests = false`
    * builds models and snapshots only (the untimed initial and
    * full-refresh builds, whose checks are the timed builds' tests and the
    * state comparison). */
  def build(spark: SparkSession, ws: Workspace, tracer: Tracer, threads: Int,
            warehouse: String, fullRefresh: Boolean = false, tests: Boolean = true): Built = {
    val project = ws.project.toAbsolutePath.toString
    val loaded = tracer.span("core.load")(Project.load(project))
    tracer.span("core.register_sources")(Project.registerSources(spark, loaded.config))
    val rm = new RelationManager(spark, warehouse)
    val runner = tracer.span("runner.init")(new Runner(spark, rm, loaded.manifest,
      vars = loaded.config.vars, defaultSchema = loaded.config.schema,
      database = loaded.config.database, threads = threads, fullRefresh = fullRefresh))
    Files.createDirectories(ws.target)
    val results = tracer.span("runner.run")(runner.run(withTestEdges = tests,
      onRunStart = loaded.config.onRunStart, onRunEnd = loaded.config.onRunEnd,
      resourceTypes = if (tests) NodeType.executable else Set(NodeType.Model, NodeType.Snapshot)))
    tracer.span("artifacts.run_results")(
      runner.writeRunResults(results, s"$project/target/run_results.json"))
    tracer.span("artifacts.manifest")(Commands.writeManifest(loaded.manifest,
      s"$project/target/manifest.json", defaultSchema = loaded.config.schema,
      projectName = loaded.config.name))
    Built(runner, rm, loaded.manifest, results)
  }

  private val Failed = Set("error", "fail", "warn", "skipped")

  /** Whether every node of a build succeeded (and every test passed). */
  def passed(b: Built): Boolean = {
    b.results.filter(r => Failed(r.status)).take(5).foreach(r =>
      System.err.println(s"[graftbench] ${r.uniqueId} ${r.status}: ${r.message.take(300)}"))
    b.results.nonEmpty && !b.results.exists(r => Failed(r.status))
  }

  def run(ctx: Main.Ctx): Main.Outcome = {
    import ctx._
    ProjectCompile.installNatives()
    val ws = new Workspace(cfg.work.resolve(s"incremental-seed${cfg.seed}"))
    val base = phase("stage the sf0.1 source and the project") {
      IncrementalGen.stage(cfg.data, ws.source)
      writeProject(ws)
      IncrementalGen.readBase(cfg.data)
    }
    var lineItems = 0L
    def nextBatch(i: Int): Unit =
      lineItems += IncrementalGen.writeBatch(base, cfg.seed, i, ws.incoming)
    val quiet = new Tracer(false)
    // warm-up: the initial build over the sf0.1 source. The first timed op
    // is the process's first incremental build, as on every `graft build`
    // from a fresh process; a run of ops also shows its later ones.
    var last = phase("initial build")(build(spark, ws, quiet, threads, ws.warehouse, tests = false))
    var correct = passed(last)

    var batch = 0
    var overheadOps = Seq.empty[(Double, Boolean)]
    // at least two ops, so that a run always has a later op beside the
    // cold first one; a traced run leaves the first op untraced and out of
    // the overhead ratio, then alternates, so it needs three
    val minOps = if (cfg.trace) 3 else 2
    measure.start()
    while (batch < minOps || measure.elapsedS < cfg.seconds) {
      batch += 1
      val op = batch
      measure.untimed(nextBatch(batch))
      val traced = cfg.trace && op % 2 == 0
      if (cfg.trace) traceNext(traced)
      beginOp(op)
      val before = if (traced) measure.untimed(files(Path.of(ws.warehouse))) else Map.empty[String, Long]
      var built: Option[Built] = None
      val lat = measure.op {
        tracer.span("op") {
          tracer.span("land")(IncrementalGen.land(ws.incoming, ws.source))
          built = Some(build(spark, ws, tracer, threads, ws.warehouse))
        }
        passed(built.get)
      }
      if (cfg.trace && op > 1) overheadOps :+= ((lat, traced))
      built.foreach { b =>
        last = b
        if (traced) measure.untimed(layers.addOp(traceOp(ctx, op, ws, b, before)))
      }
    }
    measure.stop()
    if (cfg.trace) traceNext(false)

    // end-of-run checks: the incremental state equals a full-refresh build
    // over the accumulated source, and holds the rows the batches imply
    val statesMatch = phase("full-refresh build and state check") {
      val full = build(spark, ws, quiet, threads,
        cfg.work.resolve("full-refresh-warehouse").toAbsolutePath.toString,
        fullRefresh = true, tests = false)
      val expected = Seq(
        "orders_current" -> (base.orders.length.toLong + batch.toLong * IncrementalGen.NewOrders),
        "shipments" -> (spark.read.parquet(s"${cfg.data}/lineitem.parquet").count() + lineItems))
      passed(full) && compare(last, full) && expected.forall { case (m, want) =>
        val got = last.read(m).count()
        if (got != want) System.err.println(s"[graftbench] $m has $got rows, the batches imply $want")
        got == want
      }
    }
    correct &= statesMatch
    // a wrong state could have come from any op of the chain
    if (!correct) measure.failed = measure.attempted

    if (cfg.trace) {
      layers.set("trace.overhead_ratio", ProjectCompile.overhead(overheadOps))
      layers.set("core.nodes", last.manifest.nodes.size)
      layers.set("core.edges", last.manifest.nodes.values.map(_.dependsOn.size).sum)
      val rels = last.persisted
      layers.set("relations.live_files",
        rels.map(r => last.rm.currentState(r).map(_.files.size).getOrElse(0)).sum)
      layers.set("relations.log_versions", rels.map(r => last.rm.currentVersion(r).getOrElse(0)).sum)
      layers.set("warehouse_bytes_per_source_byte",
        files(Path.of(ws.warehouse)).values.sum.toDouble / files(ws.source).values.sum)
    }
    println(s"# batches landed $batch")
    Main.Outcome(measure, correct, layers)
  }

  /** The compared models, and the snapshot's current rows, are equal as
    * multisets in the two builds. */
  def compare(inc: Built, full: Built): Boolean = {
    def current(b: Built): DataFrame =
      b.read(Snapshot).filter(col("dbt_valid_to").isNull).select(SnapshotCols.map(col): _*)
    val pairs = Compared.map(m => m -> (inc.read(m), full.read(m))) :+
      (Snapshot -> (current(inc), current(full)))
    pairs.forall { case (m, (a, b)) =>
      val (da, db) = (Digest.of(a), Digest.of(b))
      if (da != db) System.err.println(s"[graftbench] $m: incremental $da, full refresh $db")
      da == db
    }
  }

  /** Every regular file under `dir` and its size. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally walk.close()
    }

  private def kind(n: Node): String = n.nodeType match {
    case NodeType.Model if n.config.incrementalStrategy.contains("microbatch") => "microbatch"
    case NodeType.Model => n.config.materialized
    case NodeType.Snapshot => "snapshot"
    case NodeType.Test | NodeType.Unit => "test"
    case other => other.name
  }

  private def traceOp(ctx: Main.Ctx, op: Int, ws: Workspace, b: Built,
                      before: Map[String, Long]): Map[String, Double] = {
    import ctx._
    val nodes = b.results.map(r => (r, b.manifest.nodes.get(r.uniqueId).map(kind).getOrElse("other")))
    // node intervals first, so that each Spark job lands under its node
    nodes.foreach { case (r, k) => tracer.attach(s"node.$k", op, toNano(r.startedAt), toNano(r.completedAt)) }
    val spark0 = endOp(op)
    val run = tracer.opSpans(op).find(_.name == "runner.run").get
    val intervals = nodes.map { case (r, _) => (toNano(r.startedAt), toNano(r.completedAt)) }
    def busy(k: String): Double =
      nodes.collect { case (r, `k`) => (toNano(r.completedAt) - toNano(r.startedAt)) / 1e9 }.sum
    val after = files(Path.of(ws.warehouse))
    val written = after.filter { case (p, size) => !before.get(p).contains(size) }
    SourceTables.foreach(t =>
      tracer.span("Tables.load")(graft.Tables.load(spark, ws.source.toString, t)))
    b.persisted.foreach(r => tracer.span("RelationManager.read")(b.rm.read(r)))
    val probes = tracer.opSpans(op).groupBy(_.name).map { case (n, ss) => n -> ss.map(_.duration).sum / 1e9 }
    val self = selfS(op, "core.load", "core.register_sources", "artifacts.run_results",
      "artifacts.manifest")
    spark0 ++ Map(
      "Tables.load_s" -> probes("Tables.load"),
      "core.load_s" -> self("core.load"),
      "core.register_sources_s" -> self("core.register_sources"),
      "runner.run_s" -> run.duration / 1e9,
      "runner.idle_s" -> (run.duration - Stats.unionLength(
        Stats.clip(intervals, run.start, run.end))) / 1e9,
      "runner.concurrency" -> intervals.map(iv => iv._2 - iv._1).sum.toDouble / run.duration,
      "runner.nodes_failed" -> nodes.count { case (r, k) => k != "test" && Failed(r.status) }.toDouble,
      "materializations.view_s" -> busy("view"),
      "materializations.table_s" -> busy("table"),
      "materializations.incremental_s" -> busy("incremental"),
      "materializations.microbatch_s" -> busy("microbatch"),
      "materializations.snapshot_s" -> busy("snapshot"),
      "quality.test_s" -> busy("test"),
      "quality.tests_failed" -> nodes.count { case (r, k) => k == "test" && Failed(r.status) }.toDouble,
      "relations.bytes_written" -> written.values.sum.toDouble,
      "relations.files_written" -> written.size.toDouble,
      "relations.read_latest_s" -> probes("RelationManager.read"),
      "artifacts.run_results_s" -> self("artifacts.run_results"),
      "artifacts.manifest_s" -> self("artifacts.manifest"))
  }
}
