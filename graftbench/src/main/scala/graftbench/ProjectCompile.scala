package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.core.{NodeType, Project, SqlCode}
import graft.relations.RelationManager
import graft.runner.{Commands, Runner}

/** Workload `project_compile`: `graft compile` of a seed-generated
  * 500-model project — the Main `compile` path (load, source
  * registration, selection, rendering every SQL node) plus the manifest
  * write. One op is one compile of the whole project. */
object ProjectCompile {

  /** The seed and size of the project whose digest is stored as the
    * golden: small, so the check costs little set-up time. */
  val GoldenSeed = 0L
  val GoldenModels = 200

  /** Size of the timed project. A 2000-model compile takes about 5 s on a
    * 4-core VM, so a run of a few seconds would hold two or three ops and
    * its median would swing with each one; at 300 models a 10-s run
    * holds about 20 ops. */
  val Models = 300
  /** Untimed compiles of the timed project before the loop: after eight,
    * ops were still about 30% slower at the start of a run than at its
    * end while the JIT caught up. */
  val WarmUps = 24

  final case class Compiled(sql: Seq[(String, String)], manifest: String)

  /** One `graft compile` of `dir`, spanned per layer. */
  def compile(spark: SparkSession, dir: Path, tracer: Tracer, threads: Int): Compiled =
    tracer.span("op") {
      val project = dir.toAbsolutePath.toString
      val loaded = tracer.span("core.load")(Project.load(project))
      tracer.span("core.register_sources")(Project.registerSources(spark, loaded.config))
      val runner = tracer.span("runner.init") {
        Files.createDirectories(dir.resolve("target"))
        val rm = new RelationManager(spark, s"$project/target/warehouse")
        new Runner(spark, rm, loaded.manifest, vars = loaded.config.vars,
          defaultSchema = loaded.config.schema, database = loaded.config.database,
          threads = threads)
      }
      val ids = tracer.span("core.select")(Commands.list(loaded.manifest))
      val sql = ids.map(loaded.manifest(_))
        .filter(n => n.code.exists(_.isInstanceOf[SqlCode]) && n.nodeType != NodeType.Seed)
        .map(n => n.uniqueId -> tracer.span("compile.render")(runner.compileSql(n)))
      val manifest = s"$project/target/manifest.json"
      tracer.span("artifacts.manifest")(Commands.writeManifest(loaded.manifest, manifest,
        defaultSchema = loaded.config.schema, projectName = loaded.config.name))
      Compiled(sql, manifest)
    }

  /** Digest of the compiled SQL and the manifest, with the manifest's
    * generation time and the project's location taken out. */
  def digest(c: Compiled, dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    c.sql.sortBy(_._1).foreach { case (id, s) => md.update(s"-- $id\n$s\n".getBytes("UTF-8")) }
    val manifest = Files.readString(Path.of(c.manifest))
      .replaceAll("\"generated_at\":\"[^\"]*\"", "\"generated_at\":\"\"")
      .replace(dir.toAbsolutePath.toString, "<project>")
    md.update(manifest.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Structural checks of one compile against the generator's plan:
    * every model and singular test compiled, every template tag rendered,
    * every ref resolved to its relation (or its CTE for an ephemeral
    * model), and the manifest's parent map equal to the planned refs.
    * Returns the problems found. */
  def verify(c: Compiled, plan: CompileProjectGen.Project): Seq[String] = {
    val pkg = CompileProjectGen.ProjectName
    val sql = c.sql.toMap
    val models = plan.byName
    val expected = plan.models.map(m => s"model.$pkg.${m.name}") ++
      plan.singularTests.map(m => s"test.$pkg.assert_${m}_amount")
    val missing = expected.filterNot(sql.contains).map(id => s"not compiled: $id")
    val extra = sql.keySet.diff(expected.toSet).toSeq.sorted.map(id => s"unexpected node: $id")
    val rendering = plan.models.flatMap { m =>
      sql.get(s"model.$pkg.${m.name}").toSeq.flatMap { s =>
        val unrendered = if (s.contains("{{") || s.contains("{%")) Seq(s"${m.name}: unrendered tag") else Nil
        unrendered ++ m.refs.filterNot { r =>
          if (models(r).materialized == "ephemeral") s.contains(s"__graft_cte__$r")
          else s.contains(s"main__$r")
        }.map(r => s"${m.name}: ref '$r' not resolved")
      }
    }
    val parents = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(c.manifest)).get("parent_map")
      plan.models.flatMap { m =>
        val id = s"model.$pkg.${m.name}"
        val got = Option(node.get(id)).map { a =>
          (0 until a.size).map(a.get(_).asText).filter(_.startsWith("model.")).toSet
        }.getOrElse(Set.empty)
        val want = m.refs.map(r => s"model.$pkg.$r").toSet
        if (got == want) Nil else Seq(s"$id: parents ${got.toSeq.sorted} != refs ${want.toSeq.sorted}")
      }
    }
    missing ++ extra ++ rendering ++ parents
  }

  /** Compile the golden-seed project under `work` and return its digest. */
  def canonicalDigest(spark: SparkSession, work: Path): String = {
    val dir = work.resolve(s"compile-golden-seed$GoldenSeed")
    CompileProjectGen.write(GoldenSeed, dir, GoldenModels)
    installNatives()
    digest(compile(spark, dir, new Tracer(false), 4), dir)
  }

  /** What `graft.Main` registers before loading any project. */
  def installNatives(): Unit = {
    graft.ops.CurationRecipe.installNatives()
    graft.ops.CurationIngest.installNatives()
    graft.ops.Retrieval.installNatives()
  }

  def run(ctx: Main.Ctx): Main.Outcome = {
    import ctx._
    installNatives()
    // the output check of the compiler itself: the golden-seed project
    // against its stored digest
    val goldenDir = cfg.work.resolve(s"compile-golden-seed$GoldenSeed")
    val golden = Resources.lines("goldens/project_compile.txt").head.split("\\s+")
    require(golden(0).toLong == GoldenSeed, s"golden is for seed ${golden(0)}")
    val goldenDigest = phase("golden-seed compile (output check)") {
      CompileProjectGen.write(GoldenSeed, goldenDir, GoldenModels)
      digest(compile(spark, goldenDir, new Tracer(false), threads), goldenDir)
    }
    var correct = goldenDigest == golden(1)
    if (!correct) System.err.println(s"[graftbench] golden project digest $goldenDigest != ${golden(1)}")

    // the run's own project, checked against the generator's plan; every
    // timed compile must then give the same digest. Untimed compiles
    // first: the compile path is still being JIT-compiled after a few.
    val dir = cfg.work.resolve(s"compile-seed${cfg.seed}")
    val plan = phase(s"generate the seed-${cfg.seed} project")(CompileProjectGen.write(cfg.seed, dir, Models))
    val first = phase(s"$WarmUps warm-up compiles") {
      val c = compile(spark, dir, new Tracer(false), threads)
      val problems = verify(c, plan)
      problems.take(5).foreach(p => System.err.println(s"[graftbench] compile: $p"))
      correct &= problems.isEmpty
      (1 until WarmUps).foreach(_ => compile(spark, dir, new Tracer(false), threads))
      digest(c, dir)
    }
    var op = 0
    var overheadOps = Seq.empty[(Double, Boolean)]
    measure.start()
    // at least two ops: a compile can take longer than the whole run
    while (op < 2 || measure.elapsedS < cfg.seconds) {
      op += 1
      val traced = cfg.trace && op % 2 == 1
      if (cfg.trace) traceNext(traced)
      beginOp(op)
      var out: Compiled = null
      val lat = measure.op { out = compile(spark, dir, tracer, threads); true }
      if (cfg.trace) overheadOps :+= ((lat, traced))
      measure.untimed {
        val ok = out != null && digest(out, dir) == first
        if (!ok) {
          if (out != null) measure.failed += 1 // a thrown op is already counted
          correct = false
        }
        if (traced && out != null) layers.addOp(traceOp(ctx, op, out))
      }
    }
    measure.stop()
    // a wrong golden or first compile makes every op's output wrong, even
    // when the ops agree with each other
    if (!correct) measure.failed = measure.attempted
    if (cfg.trace) {
      traceNext(false)
      layers.set("trace.overhead_ratio", overhead(overheadOps))
      val loaded = Project.load(dir.toAbsolutePath.toString)
      layers.set("core.nodes", loaded.manifest.nodes.size)
      layers.set("core.edges", loaded.manifest.nodes.values.map(_.dependsOn.size).sum)
    }
    Main.Outcome(measure, correct, layers)
  }

  private def traceOp(ctx: Main.Ctx, op: Int, out: Compiled): Map[String, Double] = {
    import ctx._
    val spark0 = endOp(op)
    val self = selfS(op, "core.load", "core.register_sources", "core.select",
      "compile.render", "artifacts.manifest")
    spark0 ++ Map(
      "core.load_s" -> self("core.load"),
      "core.register_sources_s" -> self("core.register_sources"),
      "core.select_s" -> self("core.select"),
      "compile.render_s" -> self("compile.render"),
      "compile.sql_bytes" -> out.sql.map(_._2.getBytes("UTF-8").length.toLong).sum.toDouble,
      "artifacts.manifest_s" -> self("artifacts.manifest"))
  }

  /** Traced runs alternate traced and untraced ops: the mean latency of
    * the traced ops over that of the untraced ones, minus 1. */
  def overhead(ops: Seq[(Double, Boolean)]): Double = {
    val (t, u) = ops.partition(_._2)
    if (t.isEmpty || u.isEmpty) 0.0
    else (t.map(_._1).sum / t.size) / (u.map(_._1).sum / u.size) - 1
  }
}
