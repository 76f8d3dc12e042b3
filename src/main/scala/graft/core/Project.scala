package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.compile.TemplateResolver

/** Filesystem project loader — the engine's equivalent of the reference's
  * ManifestLoader file scan (core/dbt/parser/manifest.py:333,
  * core/dbt/parser/read_files.py). Layout:
  *
  * {{{
  * project/
  *   graft_project.conf     # key = value lines: name, schema, vars.x, ...
  *   models (recursively, .sql)   # node name = file stem; config() inline
  *   seeds (.csv)                 # seed nodes
  *   snapshots (.sql)             # config(strategy=, unique_key=, updated_at=)
  *   tests (.sql)                 # singular tests: SQL returning failing rows
  * }}}
  *
  * Configuration uses the inline `{{ config(...) }}` form throughout (the
  * reference's YAML sidecars collapse into it — deliberately no YAML
  * dependency). Parsing is static (regex ref/source extraction) — the
  * 2000-model project loads in well under a second (ParseBenchSpec).
  */
object Project {

  final case class Config(
      name: String,
      schema: String = "main",
      database: String = "graft",
      vars: Map[String, String] = Map.empty,
      /** `sources.<name> = <dir>` → every parquet table under dir becomes
        * `source('<name>', '<table>')` (reference: sources.yml declarations). */
      sources: Map[String, String] = Map.empty,
      /** `exposures.<name> = ref1,ref2` — downstream consumers declared for
        * lineage (reference: exposure YAML, artifacts/resources/v1/exposure). */
      exposures: Map[String, Seq[String]] = Map.empty,
      /** `freshness.[<source>.]warn_after|error_after = <seconds>`
        * (reference: FreshnessThreshold components.py:117-149). */
      freshness: Map[String, String] = Map.empty,
      /** `packages.<name> = <dir>` — local package dependencies: the whole
        * sub-project loads under its own package name and its nodes become
        * ref-able (reference: core/dbt/deps/ local packages; git/hub
        * resolution is out of scope in a zero-egress build). */
      packages: Map[String, String] = Map.empty,
      /** `on_run_start.<name> = <sql>` / `on_run_end.<name> = <sql>` —
        * run-level hooks executed once per run/build invocation, in key
        * order; ref()/source() resolve like operations (reference:
        * on-run-start / on-run-end in dbt_project.yml,
        * core/dbt/hooks.py). */
      onRunStart: Seq[String] = Nil,
      onRunEnd: Seq[String] = Nil)

  final case class Loaded(config: Config, manifest: Manifest)

  def load(dir: String): Loaded = {
    val root = Paths.get(dir)
    require(Files.isDirectory(root), s"not a project dir: $dir")
    val conf = loadConf(root.resolve("graft_project.conf"))

    def sqlOf(paths: Seq[Path]): Seq[(String, Path)] =
      paths.filter(_.toString.endsWith(".sql")).map(p => stem(p) -> p).sortBy(_._1)
    def sqlFiles(sub: String): Seq[(String, Path)] = sqlOf(walkFiles(root.resolve(sub)))
    // models/ is walked once; each file kind below takes its suffix
    val modelPaths = walkFiles(root.resolve("models"))
    def modelFiles(suffix: String): Seq[Path] =
      modelPaths.filter(_.toString.endsWith(suffix)).sortBy(_.toString)

    // model contracts: `models/<model>.contract.conf` — `col: type [constraint...]`
    // (reference: components.py:73-108, v1/model.py:55-62; constraints
    // become schema-declared generic tests, SURVEY §1.2)
    val contractFiles = modelFiles(".contract.conf")
    val contracts: Map[String, (Seq[(String, String)], Seq[Node])] =
      contractFiles.map { p =>
        val model = stem(p).stripSuffix(".contract")
        val relPath = root.relativize(p).toString
        val entries = Files.readAllLines(p).asScala
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
          .map { l =>
            val Array(c, rest) = l.split(":", 2)
            val tokens = rest.trim.split("\\s+").toSeq.filter(_.nonEmpty)
            require(tokens.nonEmpty, s"contract line needs a type: $l")
            (c.trim, tokens.head, tokens.tail)
          }.toSeq
        val cols = entries.map { case (c, t, _) => (c, t) }
        val constraintTests = entries.flatMap { case (c, _, constraints) =>
          constraints.flatMap {
            case "primary_key" => Seq("not_null", "unique")
            case other         => Seq(other)
          }.distinct.map(t => parseColumnTest(conf.name, model, s"$c: $t", relPath))
        }
        model -> (cols, constraintTests)
      }.toMap

    val models = sqlOf(modelPaths).map { case (name, p) =>
      val node = TemplateResolver.parseModel(conf.name, name, Files.readString(p))
      val withContract = contracts.get(name) match {
        case Some((cols, _)) => node.copy(config = node.config.copy(
          meta = node.config.meta ++
            Map("contract_cols" -> cols.map(_._1).mkString("|")) ++
            cols.map { case (c, t) => s"contract.$c" -> t }))
        case None => node
      }
      withContract.copy(path = Some(root.relativize(p).toString),
        fqn = conf.name +: relFqn(root.resolve("models"), p, name))
    }
    val contractTests = contracts.values.flatMap(_._2).toSeq

    // native-code models: `models/<name>.native.conf` (SURVEY §2.5 — the
    // engine's Python-model replacement as a PROJECT file, r14). The body
    // is a registered Scala function ([[NativeRegistry]]), so the file
    // declares what a regex scan cannot see in code: dependencies and
    // config. Lines (colon-separated; ref/source repeat):
    //   fn: <registered native name>        (required)
    //   ref: <model name>                   (dependency, repeatable)
    //   source: <source>.<table>            (dependency, repeatable)
    //   materialized: table|incremental|view  (default table — a native
    //     view cannot persist a compiled SELECT for fresh sessions, so
    //     the persistent default is what a DAG consumer expects)
    //   incremental_strategy / unique_key / tags / meta.<k>: as config()
    val nativeFiles = modelFiles(".native.conf")
    val nativeModels = nativeFiles.map { p =>
      val name = stem(p).stripSuffix(".native")
      val content = Files.readString(p)
      val lines = content.linesIterator
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          l.split(":", 2) match {
            case Array(k, v) => k.trim -> v.trim
            case _ => throw new IllegalArgumentException(
              s"bad native model line in $p: $l")
          }
        }.toSeq
      // same fail-fast discipline as the fn lookup: a typo'd config key
      // would otherwise silently change materialization (r14 review).
      // event_time/batch_size/begin/lookback (r15): microbatch-
      // materialized native models declare the same event-time config as
      // SQL config() — the incremental-ingest DAG surface.
      val knownKeys = Set("fn", "ref", "source", "materialized",
        "incremental_strategy", "unique_key", "tags",
        "event_time", "batch_size", "begin", "lookback", "after")
      lines.foreach { case (k, _) =>
        require(knownKeys(k) || k.startsWith("meta."),
          s"$p: unknown native model key '$k' — known: " +
            (knownKeys.toSeq.sorted :+ "meta.<k>").mkString(", "))
      }
      // duplicate scalar keys fail the load like unknown keys do (r14
      // ADVICE): lines.toMap would silently last-win a file carrying two
      // `fn:`/`materialized:` lines — contrary to this file's loud-
      // failure discipline (only ref/source legitimately repeat)
      lines.filterNot(l => Set("ref", "source", "after")(l._1))
        .groupBy(_._1).foreach { case (k, vs) =>
          require(vs.length == 1,
            s"$p: native model key '$k' declared ${vs.length} times — " +
              "scalar keys take exactly one value (only ref/source/after repeat)")
        }
      val kv = lines.filterNot(l => Set("ref", "source", "after")(l._1)).toMap
      val fnName = kv.getOrElse("fn", throw new IllegalArgumentException(
        s"$p: native model needs 'fn: <NativeRegistry name>'"))
      val srcs = lines.collect { case ("source", v) =>
        v.split("\\.", 2) match {
          case Array(s, t) => (s.trim, t.trim)
          case _ => throw new IllegalArgumentException(
            s"$p: source line needs <source>.<table>: $v")
        }
      }
      Node(NodeType.Model, conf.name, name,
        // resolved at parse time: a typo'd fn fails the load, not the run
        code = Some(NativeCode(NativeRegistry(fnName))),
        config = NodeConfig(
          materialized = kv.getOrElse("materialized", "table"),
          incrementalStrategy = kv.get("incremental_strategy"),
          uniqueKey = kv.get("unique_key").toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
          eventTime = kv.get("event_time"),
          batchSize = kv.get("batch_size"),
          begin = kv.get("begin").map(java.time.Instant.parse),
          lookback = kv.get("lookback").map(_.toInt).getOrElse(1),
          tags = kv.get("tags").toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).toSet,
          meta = lines.collect {
            case (k, v) if k.startsWith("meta.") => k.stripPrefix("meta.") -> v
          }.toMap ++
            // `after: <operation>` — scheduling-only edge to a scheduled
            // operation (r17); normalized into meta so the shared
            // post-pass below resolves SQL and native declarations alike
            (lines.collect { case ("after", v) => v } match {
              case Nil => Map.empty[String, String]
              case xs  => Map("after" -> xs.mkString("|"))
            })),
        refs = lines.collect { case ("ref", v) => v },
        sources = srcs,
        path = Some(root.relativize(p).toString),
        fqn = conf.name +: relFqn(root.resolve("models"), p, name),
        // the fn body is opaque — the registry name + declaration file
        // stand in for a content hash (state:modified sees conf edits)
        checksum = md5(fnName + "\n" + content))
    }

    val snapshots = sqlFiles("snapshots").map { case (name, p) =>
      TemplateResolver.parseModel(conf.name, name, Files.readString(p))
        .copy(nodeType = NodeType.Snapshot, path = Some(root.relativize(p).toString))
    }

    // project-file custom generic tests: SQL files under `tests/generic/`
    // (reference: {% test <name>(model, column_name, ...) %} macros under
    // tests/generic/, core/dbt/parser/schema_generic_tests.py +
    // generic_test_builders.py:29-57). Registered into the TestRegistry at
    // parse time so schema-declared column tests reference them by name
    // exactly like built-ins; they are DEFINITIONS, not test nodes, so
    // they're excluded from the singular-test walk below.
    val genericDir = root.resolve("tests").resolve("generic")
    sqlFiles("tests/generic").foreach { case (name, p) =>
      graft.quality.GenericTests.registerSqlTest(name, Files.readString(p))
    }

    val tests = sqlFiles("tests").filterNot(_._2.startsWith(genericDir))
      .map { case (name, p) =>
        TemplateResolver.parseModel(conf.name, name, Files.readString(p))
          .copy(nodeType = NodeType.Test, path = Some(root.relativize(p).toString))
      }

    // SCHEDULED operations (r17): an `operations/<name>.sql` file
    // declaring `{{ config(schedule='build') }}` becomes a first-class
    // OPERATION node in the manifest — refs extracted like a model, so
    // the scheduler orders it after the relations it maintains; its
    // statements (`;;`-separated) execute as DML through the V2 catalog
    // (the production shape for store GC: a deletion feed drives
    // row-level deletes / negative appends on persisted stores as part
    // of the nightly DAG). Operations WITHOUT the declaration stay
    // manual — invoked by `run-operation <name>` exactly as before
    // (reference: run-operation core/dbt/cli/main.py:653 +
    // task/run_operation.py; hook config core/dbt/hooks.py,
    // artifacts/resources/v1/config.py:86-94 — dbt schedules that work
    // via on-run-end hooks; the explicit schedule declaration is this
    // engine's DAG-native form of the same contract).
    val operationNodes = sqlFiles("operations").flatMap { case (name, p) =>
      val node = TemplateResolver.parseModel(conf.name, name, Files.readString(p))
      node.config.meta.get("schedule") match {
        case None => None // manual: run-operation only
        case Some("build") => Some(node.copy(
          nodeType = NodeType.Operation,
          config = node.config.copy(materialized = "operation"),
          path = Some(root.relativize(p).toString)))
        case Some(other) => throw new IllegalArgumentException(
          s"$p: schedule='$other' — the only scheduled trigger is 'build' " +
            "(omit the config to keep the operation manual/run-operation)")
      }
    }

    // schema-declared per-column generic tests: `models/<model>.tests.conf`
    // (reference: schema.yml column tests, core/dbt/parser/
    // schema_generic_tests.py:45, generic_test_builders.py:69-303)
    val columnTestFiles = modelFiles(".tests.conf")
    val columnTests = columnTestFiles.flatMap { p =>
      val model = stem(p).stripSuffix(".tests")
      Files.readAllLines(p).asScala
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(parseColumnTest(conf.name, model, _, root.relativize(p).toString))
    }

    // project-declared unit tests: `models/<model>.unit.conf` (reference:
    // core/dbt/parser/unit_tests.py:246, unit_test_definition.py:26-70) —
    // section format: `test <name>` / `given <ref>` + CSV rows / `expect`
    // + CSV rows. Unit nodes BLOCK their model (run-before ordering).
    val unitFiles = modelFiles(".unit.conf")
    val unitParsed: Seq[(String, Node)] = unitFiles.flatMap { p =>
      val model = stem(p).stripSuffix(".unit")
      parseUnitFile(conf.name, Files.readAllLines(p).asScala.toSeq,
        root.relativize(p).toString).map(model -> _)
    }
    val unitsByModel = unitParsed.groupBy(_._1)
    val modelsWithUnits = models.map(n => unitsByModel.get(n.name) match {
      case Some(us) => n.copy(dependsOn = (n.dependsOn ++ us.map(_._2.uniqueId)).distinct)
      case None     => n
    })

    val seeds = listFiles(root.resolve("seeds"), ".csv").map { p =>
      Node(NodeType.Seed, conf.name, stem(p),
        code = Some(CsvCode(Files.readString(p))),
        config = NodeConfig(materialized = "seed"),
        path = Some(root.relativize(p).toString),
        checksum = md5(Files.readString(p)))
    }

    // declared source tables become first-class manifest nodes so lineage
    // (parent_map), `source:` selection, and freshness see them
    // (reference: core/dbt/parser/sources.py SourceDefinition)
    val sourceNodes = conf.sources.toSeq.sortBy(_._1).flatMap { case (srcName, dir) =>
      listFiles(Paths.get(dir), ".parquet").map { p =>
        Node(NodeType.Source, "sources", s"${srcName}_${stem(p)}",
          sources = Seq((srcName, stem(p))),
          path = Some(p.toString))
      }
    }

    // declared semantic models + saved queries (reference: semantic_model
    // /metric declarations v1/semantic_model.py:111-201, metric.py:14-111;
    // SavedQuery/Export v1/saved_query.py:34-96). Colon-separated lines;
    // expressions are Spark SQL fragments evaluated by the metric compiler.
    def confFiles(sub: String): Seq[Path] = listFiles(root.resolve(sub), ".conf")
    val semanticNodes = confFiles("semantics").map { p =>
      val meta = collection.mutable.LinkedHashMap.empty[String, String]
      Files.readAllLines(p).asScala.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).foreach { l =>
          l.split(":", 2) match {
            case Array("model", v) => meta += "model" -> v.trim
            case Array("time_dimension", rest) =>
              val Array(n, e) = rest.split(":", 2)
              meta += "time_dimension_name" -> n.trim += "time_dimension_expr" -> e.trim
            case Array("dimension", rest) =>
              val Array(n, e) = rest.split(":", 2)
              meta += s"dim.${n.trim}" -> e.trim
            case Array("measure", rest) =>
              val Array(n, agg, e) = rest.split(":", 3)
              meta += s"measure.${n.trim}" -> s"${agg.trim}|${e.trim}"
            case Array("metric", rest) =>
              val parts = rest.split(":").map(_.trim)
              meta += s"metric.${parts.head}" -> parts.tail.mkString("|")
            case other => throw new IllegalArgumentException(
              s"bad semantics line in $p: $l")
          }
        }
      val model = meta.getOrElse("model",
        throw new IllegalArgumentException(s"$p: semantics needs 'model:'"))
      Node(NodeType.SemanticModel, conf.name, stem(p),
        refs = Seq(model),
        config = NodeConfig(materialized = "semantic_model", meta = meta.toMap),
        path = Some(root.relativize(p).toString),
        checksum = md5(Files.readString(p)))
    }
    val savedQueryNodes = confFiles("saved_queries").map { p =>
      val kv = Files.readAllLines(p).asScala.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          l.split(":", 2) match {
            case Array(k, v) => k.trim -> v.trim
            case _ => throw new IllegalArgumentException(s"bad saved_query line in $p: $l")
          }
        }
      // export lines repeat: `export: <name>: table|view`
      val meta = kv.filterNot(_._1 == "export").toMap ++
        kv.filter(_._1 == "export").map { case (_, v) =>
          val Array(n, as) = v.split(":", 2)
          s"export.${n.trim}" -> as.trim
        }
      val semName = meta.getOrElse("semantic_model",
        throw new IllegalArgumentException(s"$p: saved_query needs 'semantic_model:'"))
      Node(NodeType.SavedQuery, conf.name, stem(p),
        // depends on its semantic model node AND (directly) on its base
        // model: the scheduler runs only executable nodes, so a dependency
        // routed solely through the declarative semantic node would lose
        // the run-after-the-model ordering
        dependsOn = Seq(s"semantic_model.${conf.name}.$semName"),
        refs = semanticNodes.find(_.name == semName).map(_.refs).getOrElse(Nil),
        config = NodeConfig(materialized = "saved_query", meta = meta),
        path = Some(root.relativize(p).toString),
        checksum = md5(Files.readString(p)))
    }

    // declared exposures: leaf nodes consuming models (lineage + selection)
    val exposureNodes = conf.exposures.toSeq.sortBy(_._1).map { case (name, refs) =>
      Node(NodeType.Exposure, conf.name, name, refs = refs)
    }

    // testedNode resolves against the FULL refable set — a singular test's
    // first ref may be a seed or snapshot, not only a model
    val refable = (models ++ nativeModels ++ snapshots ++ seeds)
      .filter(n => NodeType.refable(n.nodeType))
      .map(n => n.name -> n.uniqueId).toMap
    // a tests.conf line and a contract constraint may synthesize the same
    // test (e.g. both declare customer not_null) — one node suffices
    val testsLinked = (tests ++ columnTests ++ contractTests)
      .distinctBy(_.uniqueId).map(t =>
        t.copy(testedNode = t.refs.headOption.flatMap(refable.get)))
    val unitLinked = unitParsed.map { case (m, u) => u.copy(testedNode = refable.get(m)) }

    // local package dependencies: recursively load each sub-project; its
    // nodes keep their own package name and join this manifest, so bare
    // ref('model') and two-arg ref('pkg','model') both resolve across
    // packages (reference: package resolution core/dbt/deps/, installed
    // projects parse like the root project)
    val own0 = modelsWithUnits ++ nativeModels ++ snapshots ++ testsLinked ++ seeds ++
      sourceNodes ++ exposureNodes ++ unitLinked ++ semanticNodes ++
      savedQueryNodes ++ operationNodes
    // resolve `after:` / config(after=...) scheduling-only edges to the
    // named scheduled operations (r17): the consumer runs AFTER the
    // operation's DML, without reading it as a data dependency (the
    // Runner's buildDf excludes Operation deps from the frame map)
    val opIds = operationNodes.map(n => n.name -> n.uniqueId).toMap
    val own = own0.map { n =>
      n.config.meta.get("after") match {
        case None => n
        case Some(names) =>
          val ids = names.split("\\s*\\|\\s*").filter(_.nonEmpty).map { nm =>
            opIds.getOrElse(nm, throw new NoSuchElementException(
              s"${n.uniqueId}: after='$nm' names no scheduled operation " +
                s"(known: ${opIds.keys.toSeq.sorted.mkString(", ")})"))
          }
          n.copy(dependsOn = (n.dependsOn ++ ids).distinct)
      }
    }
    val ownIds = own.map(_.uniqueId).toSet
    val packageNodes = conf.packages.toSeq.sortBy(_._1).flatMap { case (_, dir) =>
      load(dir).manifest.nodes.values
    }.distinctBy(_.uniqueId)
      // shared source declarations: the root project's node wins
      .filterNot(n => ownIds(n.uniqueId))

    Loaded(conf, Manifest(own ++ packageNodes).processRefs())
  }

  private def loadConf(p: Path): Config = {
    val kv: Map[String, String] =
      if (!Files.exists(p)) Map.empty
      else Files.readAllLines(p).asScala
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          l.split("=", 2) match {
            case Array(k, v) => Some(k.trim -> v.trim)
            case _           => None
          }
        }.toMap
    Config(
      name = kv.getOrElse("name", "project"),
      schema = kv.getOrElse("schema", "main"),
      database = kv.getOrElse("database", "graft"),
      vars = kv.collect { case (k, v) if k.startsWith("vars.") => k.stripPrefix("vars.") -> v },
      sources = kv.collect { case (k, v) if k.startsWith("sources.") => k.stripPrefix("sources.") -> v },
      exposures = kv.collect { case (k, v) if k.startsWith("exposures.") =>
        k.stripPrefix("exposures.") -> v.split(",").map(_.trim).filter(_.nonEmpty).toSeq },
      freshness = kv.collect { case (k, v) if k.startsWith("freshness.") =>
        k.stripPrefix("freshness.") -> v },
      packages = kv.collect { case (k, v) if k.startsWith("packages.") =>
        k.stripPrefix("packages.") -> v },
      onRunStart = kv.toSeq.filter(_._1.startsWith("on_run_start."))
        .sortBy(_._1).map(_._2),
      onRunEnd = kv.toSeq.filter(_._1.startsWith("on_run_end."))
        .sortBy(_._1).map(_._2))
  }

  /** Register every `<dir>/<table>.parquet` as a `<source>_<table>` session
    * view — the engine's source() resolution target. Runs no Spark job:
    * a file's schema comes from its parquet footer ([[graft.Tables.readParquet]]). */
  def registerSources(spark: org.apache.spark.sql.SparkSession, conf: Config): Unit = {
    // tolerate nanosecond-timestamp parquet (read as raw long; models cast)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    conf.sources.foreach { case (srcName, dir) =>
      listFiles(Paths.get(dir), ".parquet").foreach { p =>
        try graft.Tables.readParquet(spark, p.toString)
          .createOrReplaceTempView(s"${srcName}_${stem(p)}")
        catch {
          case e: Throwable => System.err.println(
            s"[graft] skipping source $srcName.${stem(p)}: ${e.getMessage}")
        }
      }
    }
  }

  /** The entries directly in `dir` whose name ends with `suffix`, sorted
    * (none when `dir` is not a directory). The stream is closed: an
    * unclosed `Files.list` holds its directory fd until the JVM exits. */
  private def listFiles(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(suffix)).toSeq.sortBy(_.toString)
      finally s.close()
    }

  /** Every path under `dir`, in walk order (none when `dir` is not a
    * directory); the walk's stream is closed. */
  private def walkFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** One declared column test: `<column>: <test_name> [key=value ...]`,
    * values optionally quoted. Config keys (severity/where/limit/warn_if/
    * error_if/fail_calc/store_failures) land in NodeConfig; everything
    * else becomes a test argument (`values=a|b`, `to=`, `field=`, `min=`…).
    * The synthesized name `<model>_<column>_<test>` mirrors the
    * reference's unique test-name builder (generic_test_builders.py:29-57). */
  private[core] def parseColumnTest(pkg: String, model: String,
                                    line: String, path: String): Node = {
    val (column, rest) = line.split(":", 2) match {
      case Array(c, r) => (c.trim, r.trim)
      case _ => throw new IllegalArgumentException(
        s"bad column test line (expect 'column: test ...'): $line")
    }
    val tokens = tokenize(rest)
    require(tokens.nonEmpty, s"no test name in: $line")
    val testName = tokens.head
    val kvs = tokens.tail.map { t =>
      t.split("=", 2) match {
        case Array(k, v) => k -> stripQ(v)
        case _ => throw new IllegalArgumentException(s"bad test arg '$t' in: $line")
      }
    }.toMap
    val configKeys = Set("severity", "where", "limit", "warn_if", "error_if",
      "fail_calc", "store_failures", "tags")
    val args = kvs.filterNot { case (k, _) => configKeys(k) }
    Node(
      nodeType = NodeType.Test,
      packageName = pkg,
      name = s"${model}_${column}_$testName",
      code = None, // interpreted by the Runner via the TestRegistry
      config = NodeConfig(
        materialized = "test",
        severity = kvs.getOrElse("severity", "error"),
        where = kvs.get("where"),
        limit = kvs.get("limit").map(_.toInt),
        warnIf = kvs.getOrElse("warn_if", "!= 0"),
        errorIf = kvs.getOrElse("error_if", "!= 0"),
        failCalc = kvs.getOrElse("fail_calc", "count(*)"),
        storeFailures = kvs.get("store_failures").contains("true"),
        tags = kvs.get("tags").map(_.split("\\|").toSet).getOrElse(Set.empty),
        meta = Map("test_name" -> testName) ++ args.map { case (k, v) => s"arg.$k" -> v }),
      // relationships order after their parent too (`to=` ref)
      refs = model +: args.get("to").toSeq,
      columnTest = Some(column),
      path = Some(path),
      checksum = md5(line))
  }

  /** Parse one `.unit.conf` file into Unit nodes. Fixture CSV blocks land
    * in config.meta (`unit_given.<ref>` / `unit_expect`); the Runner feeds
    * them to the UnitTests executor. */
  private[core] def parseUnitFile(pkg: String, lines: Seq[String], path: String): Seq[Node] = {
    val out = collection.mutable.ArrayBuffer.empty[Node]
    var name: String = null
    // a `format sql` suffix on a given/expect header switches that block
    // from the CSV grammar to a literal SQL SELECT (the reference's
    // UnitTestFormat.SQL, unit_test_definition.py:26-29)
    var givens = collection.mutable.LinkedHashMap.empty[String, (StringBuilder, Boolean)]
    var expect = new StringBuilder
    var expectSql = false
    var target: StringBuilder = null
    def flush(): Unit = if (name != null) {
      require(expect.nonEmpty, s"unit test '$name' has no expect block")
      val expectKey = if (expectSql) "unit_expect_sql" else "unit_expect"
      out += Node(NodeType.Unit, pkg, name,
        config = NodeConfig(materialized = "unit",
          meta = givens.map { case (r, (b, isSql)) =>
            (if (isSql) s"unit_given_sql.$r" else s"unit_given.$r") -> b.toString
          }.toMap + (expectKey -> expect.toString)),
        path = Some(path),
        checksum = md5(givens.map { case (r, (b, isSql)) => s"$r:$isSql:$b" }.mkString +
          s"$expectSql:$expect"))
      name = null
      givens = collection.mutable.LinkedHashMap.empty
      expect = new StringBuilder
      expectSql = false
      target = null
    }
    lines.map(_.trim).filterNot(_.startsWith("#")).foreach {
      case l if l.startsWith("test ") => flush(); name = l.stripPrefix("test ").trim
      case l if l.startsWith("given ") =>
        val spec = l.stripPrefix("given ").trim
        val (ref, isSql) = spec.split("\\s+format\\s+", 2) match {
          case Array(r, "sql") => (r.trim, true)
          case Array(r, f) => throw new IllegalArgumentException(
            s"unit file $path: unknown fixture format '$f' for given '$r' (only 'sql')")
          case _ => (spec, false)
        }
        target = new StringBuilder
        givens += ref -> (target, isSql)
      // any `expect ...` header line must parse or fail loudly — a typo
      // ('expect format csv', stray spacing, tabs) silently falling
      // through to the data-row branch would append into the PREVIOUS
      // given block; match the first whitespace-split token, not a
      // literal space
      case l if l.split("\\s+").headOption.contains("expect") =>
        l.stripPrefix("expect").trim.split("\\s+").toSeq match {
          case Seq("")              => target = expect; expectSql = false
          case Seq("format", "sql") => target = expect; expectSql = true
          case Seq("format", f) => throw new IllegalArgumentException(
            s"unit file $path: unknown fixture format '$f' for expect (only 'sql')")
          case other => throw new IllegalArgumentException(
            s"unit file $path: bad expect header 'expect ${other.mkString(" ")}'")
        }
      case l if l.isEmpty => ()
      case l =>
        require(target != null, s"unit file $path: row outside given/expect block: $l")
        target.append(l).append("\n")
    }
    flush()
    out.toSeq
  }

  /** Whitespace tokenizer that keeps quoted spans (both quote styles). */
  private def tokenize(s: String): Seq[String] = {
    val out = collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { if (c == quote) quote = 0 else cur += c }
      else if (c == '\'' || c == '"') quote = c
      else if (c.isWhitespace) { if (cur.nonEmpty) { out += cur.toString; cur.clear() } }
      else cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  private def stripQ(s: String): String = s // quotes handled by tokenize

  private def stem(p: Path): String = {
    val f = p.getFileName.toString
    f.substring(0, f.lastIndexOf('.'))
  }

  private def relFqn(base: Path, p: Path, name: String): Seq[String] = {
    val rel = base.relativize(p.getParent)
    val dirs = rel.toString.split("/").filter(_.nonEmpty).toSeq
    dirs :+ name
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
