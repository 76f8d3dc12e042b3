package graft

import org.apache.spark.sql.SparkSession
import graft.core._
import graft.relations.RelationManager
import graft.runner.{Commands, Runner}

/** CLI entry point — the reference's command surface (SURVEY §2.8;
  * core/dbt/cli/main.py) over a filesystem project:
  *
  * {{{
  * graft.Main <run|build|test|seed|snapshot|compile|ls|show|history|...> \
  *   --project DIR [--warehouse DIR] [--select EXPR]... [--exclude EXPR]...
  *   [--threads N] [--full-refresh] [--vars k=v,...] [--limit N]
  * }}}
  *
  * `build` runs seeds→models→snapshots→tests in one DAG with test-blocking
  * edges, exactly like the reference's build task.
  */
object Main {

  final case class Args(
      command: String = "run",
      project: String = ".",
      warehouse: Option[String] = None,
      select: Seq[String] = Nil,
      exclude: Seq[String] = Nil,
      threads: Int = 4,
      fullRefresh: Boolean = false,
      vars: Map[String, String] = Map.empty,
      limit: Int = 5,
      target: Option[String] = None,
      // --state <target-dir>: previous artifacts (manifest.json,
      // run_results.json) + warehouse/ for state:/result:/defer/clone
      state: Option[String] = None,
      defer: Boolean = false,
      sampleHours: Option[Int] = None,
      failFast: Boolean = false,
      empty: Boolean = false,
      positional: Seq[String] = Nil,
      port: Int = 8080,
      inline: Option[String] = None,
      clusterBy: Seq[String] = Nil,
      zorder: Boolean = false)

  def parseArgs(argv: Array[String]): Args = {
    var sawCmd = false
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--project" :: v :: t => loop(t, acc.copy(project = v))
      case "--warehouse" :: v :: t => loop(t, acc.copy(warehouse = Some(v)))
      case "--select" :: v :: t => loop(t, acc.copy(select = acc.select :+ v))
      case "-s" :: v :: t => loop(t, acc.copy(select = acc.select :+ v))
      case "--exclude" :: v :: t => loop(t, acc.copy(exclude = acc.exclude :+ v))
      case "--threads" :: v :: t => loop(t, acc.copy(threads = v.toInt))
      case "--full-refresh" :: t => loop(t, acc.copy(fullRefresh = true))
      case "--limit" :: v :: t => loop(t, acc.copy(limit = v.toInt))
      case "--state" :: v :: t => loop(t, acc.copy(state = Some(v)))
      case "--defer" :: t => loop(t, acc.copy(defer = true))
      case "--sample" :: v :: t => loop(t, acc.copy(sampleHours = Some(v.toInt)))
      case "--fail-fast" :: t => loop(t, acc.copy(failFast = true))
      case "--empty" :: t => loop(t, acc.copy(empty = true))
      case "--port" :: v :: t => loop(t, acc.copy(port = v.toInt))
      case "--inline" :: v :: t => loop(t, acc.copy(inline = Some(v)))
      case "--cluster-by" :: v :: t => loop(t, acc.copy(clusterBy =
        acc.clusterBy ++ v.split(",").map(_.trim).filter(_.nonEmpty)))
      case "--zorder" :: t => loop(t, acc.copy(zorder = true))
      case "--vars" :: v :: t => loop(t, acc.copy(vars = acc.vars ++
        v.split(",").flatMap(_.split("=", 2) match {
          case Array(k, vv) => Some(k -> vv); case _ => None
        })))
      case tok :: t if !tok.startsWith("-") =>
        // first bare token = command; later ones are positional operands
        // (e.g. `run-operation <name>`)
        if (!sawCmd) { sawCmd = true; loop(t, acc.copy(command = tok)) }
        else loop(t, acc.copy(positional = acc.positional :+ tok))
      case unknown :: _ => throw new IllegalArgumentException(s"unknown arg: $unknown")
    }
    loop(argv.toList, Args())
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = GraftSession.create(GraftSession.builder().appName(s"graft-${args.command}"))
    try {
      val code = execute(spark, args, new java.io.PrintWriter(System.out, true))
      if (code != 0) sys.exit(code)
    } finally spark.stop()
  }

  /** Testable core: returns the process exit code. */
  def execute(spark: SparkSession, args: Args, out: java.io.PrintWriter): Int = {
    if (args.command == "init") return initProject(args, out)
    // library-shipped native model functions must be registered before
    // the load resolves `fn:` declarations (parse-time fail-fast)
    graft.ops.CurationRecipe.installNatives()
    graft.ops.CurationIngest.installNatives()
    graft.ops.Retrieval.installNatives()
    val loaded = Project.load(args.project)
    Project.registerSources(spark, loaded.config)
    val rm = new RelationManager(spark,
      args.warehouse.getOrElse(s"${args.project}/target/warehouse"))
    // --state wiring: previous manifest for state:/defer, previous run
    // results for result:/retry, state warehouse for defer/clone
    val stateManifest = args.state
      .map(d => java.nio.file.Paths.get(d, "manifest.json"))
      .filter(java.nio.file.Files.exists(_))
      .map(p => Commands.loadStateManifest(p.toString))
    val stateResults = args.state.toSeq
      .flatMap(d => Seq(java.nio.file.Paths.get(d, "run_results.json"),
        java.nio.file.Paths.get(d, "sources.json"))) // freshness statuses
      .filter(java.nio.file.Files.exists(_))
      .flatMap(p => Commands.loadRunResults(p.toString)).toMap
    val stateRm = args.state.map(d => new RelationManager(spark, s"$d/warehouse"))
    val now = java.time.Instant.now()
    val runner = new Runner(spark, rm, loaded.manifest,
      vars = loaded.config.vars ++ args.vars,
      defaultSchema = loaded.config.schema,
      database = loaded.config.database,
      threads = args.threads,
      fullRefresh = args.fullRefresh,
      defer = if (args.defer) stateRm else None,
      sampleWindow = args.sampleHours.map(h =>
        (now.minusSeconds(h.toLong * 3600), now)),
      previousState = stateManifest,
      previousResults = stateResults,
      failFast = args.failFast,
      emptyRun = args.empty)

    def report(results: Seq[graft.runner.RunResult]): Int = {
      results.foreach(r => out.println(
        f"${r.status.toUpperCase}%-8s ${r.uniqueId}%-60s ${r.executionSeconds}%.2fs ${r.message}"))
      runner.writeRunResults(results,
        s"${args.project}/target/run_results.json")
      Commands.writeManifest(loaded.manifest, s"${args.project}/target/manifest.json",
        defaultSchema = loaded.config.schema, projectName = loaded.config.name)
      if (results.exists(r => Set("error", "fail")(r.status))) 1 else 0
    }

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${args.project}/target"))
    args.command match {
      case "run" =>
        // `run` executes models only — seeds/snapshots/tests have their own
        // tasks (reference: dbt task RUNNER_MAP semantics)
        report(runner.run(args.select, args.exclude,
          onRunStart = loaded.config.onRunStart,
          onRunEnd = loaded.config.onRunEnd,
          resourceTypes = Set(NodeType.Model)))
      case "build" =>
        report(runner.run(args.select, args.exclude, withTestEdges = true,
          onRunStart = loaded.config.onRunStart,
          onRunEnd = loaded.config.onRunEnd))
      case "test" =>
        // data tests AND unit tests, like the reference's test task
        report(runner.run(
          if (args.select.isEmpty) Seq("resource_type:test", "resource_type:unit_test")
          else args.select,
          args.exclude))
      case "seed" =>
        report(runner.run(
          if (args.select.isEmpty) Seq("resource_type:seed") else args.select, args.exclude))
      case "snapshot" =>
        report(runner.run(
          if (args.select.isEmpty) Seq("resource_type:snapshot") else args.select, args.exclude))
      case "compile" =>
        Commands.list(loaded.manifest, args.select, args.exclude)
          .map(loaded.manifest(_))
          .filter(n => n.code.exists(_.isInstanceOf[SqlCode]) && n.nodeType != NodeType.Seed)
          .foreach { n =>
            out.println(s"-- ${n.uniqueId}")
            out.println(runner.compileSql(n))
          }
        0
      case "ls" =>
        Commands.list(loaded.manifest, args.select, args.exclude,
          stateManifest, stateResults).foreach(out.println)
        0
      case "docs" =>
        // docs generate (reference: cli/main.py:243, task/docs/generate.py):
        // manifest.json + catalog.json + index.html over whatever is
        // materialized; `docs serve` additionally serves target/ over HTTP
        Commands.writeManifest(loaded.manifest, s"${args.project}/target/manifest.json",
        defaultSchema = loaded.config.schema, projectName = loaded.config.name)
        Commands.writeCatalog(rm, loaded.manifest, runner, s"${args.project}/target/catalog.json")
        Commands.writeDocsIndex(loaded.manifest, s"${args.project}/target/index.html")
        out.println(s"wrote ${args.project}/target/{manifest.json,catalog.json,index.html}")
        if (args.positional.headOption.contains("serve")) {
          val server = Commands.serveDocs(s"${args.project}/target", args.port)
          out.println(s"serving docs at http://127.0.0.1:${server.getAddress.getPort}/ (Ctrl-C to stop)")
          while (true) Thread.sleep(60000) // blocks like the reference's serve
        }
        0
      case "freshness" =>
        // metadata-based source freshness (reference: freshness.py:83-177
        // get_relation_last_modified fallback — file mtimes, no scan) with
        // warn_after/error_after thresholds driving status AND exit code
        var worst = 0 // 0 pass, 1 warn, 2 error
        val statuses = loaded.manifest.nodes.values.toSeq
          .filter(_.nodeType == NodeType.Source).sortBy(_.name)
          .map { src =>
            val srcName = src.sources.headOption.map(_._1).getOrElse("")
            def threshold(kind: String): Long =
              loaded.config.freshness.get(s"$srcName.$kind")
                .orElse(loaded.config.freshness.get(kind))
                .map(_.toLong).getOrElse(0L)
            val mtime = graft.relations.WarehouseIO
              .lastModifiedOf(src.path.get)
              .getOrElse(java.time.Instant.EPOCH)
            val ageSec = (now.toEpochMilli - mtime.toEpochMilli) / 1000.0
            val (warnAfter, errorAfter) = (threshold("warn_after"), threshold("error_after"))
            val status =
              if (errorAfter > 0 && ageSec > errorAfter) { worst = worst max 2; "error" }
              else if (warnAfter > 0 && ageSec > warnAfter) { worst = worst max 1; "warn" }
              else "pass"
            out.println(f"${status.toUpperCase}%-8s ${src.uniqueId}%-50s loaded_at=$mtime age=${ageSec}%.0fs")
            Commands.FreshnessStatus(src.uniqueId, status, mtime, now,
              ageSec, warnAfter, errorAfter)
          }
        // sources.json artifact → `source_status:` selection next run
        // (reference: freshness writes sources.json, task/freshness.py)
        Commands.writeSourcesJson(statuses, s"${args.project}/target/sources.json")
        if (worst == 2) 1 else 0
      case "retry" =>
        // rerun only failed/errored/skipped nodes of the previous
        // invocation by unique_id (reference: core/dbt/task/retry.py)
        val rrPath = java.nio.file.Paths.get(s"${args.project}/target/run_results.json")
        if (!java.nio.file.Files.exists(rrPath)) {
          out.println("retry: no previous run_results.json"); 2
        } else {
          val prev = Commands.loadRunResults(rrPath.toString)
          val again = prev.collect {
            case (id, st) if Set("fail", "error", "skipped")(st) => s"unique_id:$id"
          }.toSeq.sorted
          if (again.isEmpty) { out.println("retry: nothing to retry"); 0 }
          else report(runner.run(again, args.exclude, withTestEdges = true))
        }
      case "clone" =>
        // materialize selected relations from the --state warehouse into
        // this one (reference: core/dbt/task/clone.py:103-156; deep copy —
        // plain parquet has no zero-copy CLONE)
        stateRm match {
          case None => out.println("clone: requires --state <target-dir>"); 2
          case Some(srm) =>
            val sel = if (args.select.isEmpty)
              Seq("resource_type:model", "resource_type:seed", "resource_type:snapshot")
            else args.select
            Commands.list(loaded.manifest, sel, args.exclude)
              .map(loaded.manifest(_))
              .filter(n => NodeType.refable(n.nodeType) && !n.isEphemeral)
              .foreach { n =>
                val rel = runner.relationFor(n)
                if (srm.exists(rel)) {
                  Commands.clone(srm, rm, rel, deep = true)
                  out.println(s"CLONED   ${n.uniqueId}")
                } else out.println(s"MISSING  ${n.uniqueId} (not in state warehouse)")
              }
            0
        }
      case "show" =>
        // --inline 'select ... {{ ref(x) }}': ad-hoc query in project
        // context (reference: cli/main.py:349 show --inline)
        args.inline.foreach { sql =>
          spark.sql(runner.renderOperation(sql)).limit(args.limit).collect()
            .foreach(r => out.println(r.mkString(" | ")))
        }
        args.select.flatMap(s => Commands.list(loaded.manifest, Seq(s)))
          .map(loaded.manifest(_)).foreach { n =>
            out.println(s"-- ${n.uniqueId}")
            Commands.show(runner, n, args.limit).collect()
              .foreach(r => out.println(r.mkString(" | ")))
          }
        0
      case "run-operation" =>
        // run a named project operation: operations/<name>.sql, rendered
        // (ref/source/var) and executed statement-by-statement (`;;`
        // separators) — the macro-invocation surface (reference:
        // cli/main.py:653 run-operation, task/run_operation.py)
        args.positional.headOption match {
          case None => out.println("run-operation: needs an operation name"); 2
          case Some(name) =>
            val p = java.nio.file.Paths.get(args.project, "operations", s"$name.sql")
            if (!java.nio.file.Files.exists(p)) {
              out.println(s"run-operation: unknown operation '$name'"); 2
            } else if (rm.readOpJournal(name).isDefined) {
              // r18: a manual run over an INCOMPLETE scheduled run would
              // re-derive compensation the crashed run already committed
              // (the manual form reads the whole feed, unguarded) —
              // double-applying it. The next build's run-start recovery
              // is the repair path; refuse until it has run.
              out.println(s"run-operation: operation '$name' has an " +
                "incomplete scheduled run (crash journal present) — run " +
                "`build` first so crash recovery completes it, then retry")
              2
            } else {
              graft.runner.Runner.splitStatements(
                  java.nio.file.Files.readString(p))
                .map(_.trim).filter(_.nonEmpty)
                .foreach { stmt =>
                  val n = spark.sql(runner.renderOperation(stmt)).collect().length
                  out.println(s"ran statement ($n rows)")
                }
              0
            }
        }
      case "vacuum" =>
        // delete data files unreferenced by recent table versions and old
        // version manifests — the commit-log lifecycle command (the
        // Delta/Iceberg VACUUM equivalent). --limit N keeps N versions.
        Commands.list(loaded.manifest,
          if (args.select.isEmpty) Seq("resource_type:model", "resource_type:seed",
            "resource_type:snapshot") else args.select, args.exclude)
          .map(loaded.manifest(_))
          .filter(n => NodeType.refable(n.nodeType) && !n.isEphemeral)
          .foreach { n =>
            val rel = runner.relationFor(n)
            if (rm.currentVersion(rel).isDefined) {
              rm.vacuum(rel, keepVersions = args.limit)
              out.println(s"VACUUMED ${n.uniqueId} (kept ${args.limit} versions)")
            }
          }
        0
      case "optimize" =>
        // compact small files / range-cluster by key (the Delta/Iceberg
        // OPTIMIZE [ZORDER] lifecycle command over the commit log).
        // Cluster columns: --cluster-by, else the model's cluster_by
        // config; neither → bin-pack small files only.
        Commands.list(loaded.manifest,
          if (args.select.isEmpty) Seq("resource_type:model", "resource_type:seed",
            "resource_type:snapshot") else args.select, args.exclude)
          .map(loaded.manifest(_))
          .filter(n => NodeType.refable(n.nodeType) && !n.isEphemeral)
          .foreach { n =>
            val rel = runner.relationFor(n)
            if (rm.currentVersion(rel).isDefined) {
              val cluster =
                if (args.clusterBy.nonEmpty) args.clusterBy
                else n.config.meta.get("cluster_by").toSeq
                  .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
              // layout is declarable per model, like cluster_by itself:
              // meta `zorder: true` opts the model into the Morton
              // rewrite; the --zorder flag forces it for the run
              val z = args.zorder ||
                n.config.meta.get("zorder").exists(_.trim.equalsIgnoreCase("true"))
              rm.optimize(rel, clusterBy = cluster, zorder = z)
              val how =
                if (graft.relations.RelationManager.zorderApplies(cluster, z))
                  "z-ordered"
                else "clustered"
              out.println(s"OPTIMIZED ${n.uniqueId}" +
                (if (cluster.nonEmpty) s" ($how by ${cluster.mkString(",")})" else ""))
            }
          }
        0
      case "history" =>
        // commit history per selected table over the log (the
        // Delta/Iceberg DESCRIBE HISTORY analog): version, commit time,
        // live files, add/remove deltas, stored-change-feed marker.
        // --limit N bounds versions shown (newest first).
        Commands.list(loaded.manifest,
          if (args.select.isEmpty) Seq("resource_type:model", "resource_type:seed",
            "resource_type:snapshot") else args.select, args.exclude)
          .map(loaded.manifest(_))
          .filter(n => NodeType.refable(n.nodeType) && !n.isEphemeral)
          .foreach { n =>
            val rel = runner.relationFor(n)
            val entries = rm.history(rel, limit = math.max(1, args.limit))
            if (entries.nonEmpty) {
              out.println(s"-- ${n.uniqueId}")
              entries.foreach { e =>
                val cdc = if (e.storedChanges) " cdc" else ""
                out.println(f"v${e.version}%-4d ${e.committedAt.map(_.toString).getOrElse("?")}%-30s " +
                  f"files=${e.files}%-5d +${e.added} -${e.removed}$cdc")
              }
            }
          }
        0
      case "changes" =>
        // row-level change feed between table versions (`--from V`, via
        // --vars from=V; default: the last commit): stored change files
        // when the model declares change_feed, computed diff otherwise —
        // the CLI face of readCommitChanges. --limit rows shown.
        Commands.list(loaded.manifest,
          if (args.select.isEmpty) Seq("resource_type:model") else args.select,
          args.exclude)
          .map(loaded.manifest(_))
          .filter(n => NodeType.refable(n.nodeType) && !n.isEphemeral)
          .foreach { n =>
            val rel = runner.relationFor(n)
            rm.currentVersion(rel).foreach { cur =>
              val from = args.vars.get("from").map(_.toInt)
                .getOrElse(math.max(0, cur - 1))
              if (from < cur) {
                out.println(s"-- ${n.uniqueId} changes ($from -> $cur)")
                rm.readCommitChanges(rel, from, cur)
                  .orderBy("_commit_version", "_change_type")
                  .limit(args.limit).collect()
                  .foreach(r => out.println(r.mkString(" | ")))
              }
            }
          }
        0
      case "clean" =>
        // remove build artifacts (reference: cli/main.py:212 clean —
        // deletes target/, which holds artifacts AND the default warehouse)
        val target = java.nio.file.Paths.get(s"${args.project}/target")
        if (java.nio.file.Files.exists(target)) {
          graft.relations.WarehouseIO.deleteDir(target.toString)
          out.println(s"cleaned $target")
        } else out.println(s"nothing to clean at $target")
        0
      case "debug" =>
        // connectivity/config sanity checks (reference: cli/main.py:398)
        out.println(s"spark:     OK (${spark.version}, master=${spark.sparkContext.master})")
        out.println(s"project:   OK (${loaded.manifest.nodes.size} nodes, " +
          s"name=${loaded.config.name}, schema=${loaded.config.schema})")
        // probe through the engine's own storage seam, so a URI root
        // (s3a://…) is checked with the store that will actually serve it
        graft.relations.WarehouseIO.mkdirs(rm.root)
        val probe = graft.relations.WarehouseIO.join(rm.root,
          s".graft_debug_${java.util.UUID.randomUUID().toString.take(8)}")
        rm.store.write(probe, "")
        rm.store.delete(probe)
        out.println(s"warehouse: OK (writable at ${rm.root})")
        val badSources = loaded.config.sources.filterNot { case (_, d) =>
          java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)) }
        if (badSources.nonEmpty) {
          out.println(s"sources:   MISSING ${badSources.keys.mkString(",")}"); 1
        } else { out.println("sources:   OK"); out.println("All checks passed!"); 0 }
      case other =>
        out.println(s"unknown command: $other"); 2
    }
  }

  /** Scaffold a minimal runnable project (reference: cli/main.py:463). */
  private def initProject(args: Args, out: java.io.PrintWriter): Int = {
    val root = java.nio.file.Paths.get(args.project)
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      if (!java.nio.file.Files.exists(p)) java.nio.file.Files.writeString(p, content)
    }
    put("graft_project.conf", "name = my_project\nschema = main\n")
    put("models/example.sql",
      "{{ config(materialized='table') }}\nselect 1 as id, 'hello' as greeting\n")
    put("tests/example_not_empty.sql",
      "select 1 where (select count(*) from {{ ref('example') }}) = 0\n")
    out.println(s"initialized project at ${root.toAbsolutePath}")
    0
  }
}
