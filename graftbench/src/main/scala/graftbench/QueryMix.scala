package graftbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Workload `query_mix`: the read-only operator queries listed in
  * `query_mix.txt`, executed to the noop sink in seed-shuffled rounds over
  * the fixed sf0.1 tables. One op is one query: construction (source
  * resolution, eager jobs) plus execution. A round runs every query once,
  * and the loop runs whole rounds, so every run times the same mix. Every
  * op's output is checked against the query's golden digest. */
object QueryMix {

  type Query = (SparkSession, String) => DataFrame

  def names: Seq[String] = Resources.lines("query_mix.txt")

  /** name -> golden digest, from `goldens/query_mix.txt`. */
  def goldens: Map[String, Digest.Value] = Resources.lines("goldens/query_mix.txt")
    .map { l => val Array(n, d) = l.split("\\s+", 2); n -> Digest.parse(d.trim) }.toMap

  /** The queries of `names` in a seeded order for `round`. */
  def order(names: Seq[String], seed: Long, round: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + round).shuffle(names)

  /** Run a query's frame into the noop sink, digesting its rows on the
    * way through `observe` (no extra job); the digest is read from the
    * returned Observation once the write has finished. */
  def execute(df: DataFrame): Observation = {
    val obs = new Observation()
    val (n, h) = Digest.aggregates(df)
    df.observe(obs, n, h).write.format("noop").mode("overwrite").save()
    obs
  }

  def digest(obs: Observation): Digest.Value = {
    val m = obs.get
    Digest.value(m("rows").asInstanceOf[Long], m("hash").asInstanceOf[java.math.BigDecimal])
  }

  def run(ctx: Main.Ctx): Main.Outcome =
    run(ctx, graft.SparkEntry.queries, names, goldens)

  def run(ctx: Main.Ctx, queries: Map[String, Query], mix: Seq[String],
          golden: Map[String, Digest.Value]): Main.Outcome = {
    import ctx._
    val data = cfg.data
    require(mix.forall(queries.contains),
      s"unknown queries: ${mix.filterNot(queries.contains).mkString(", ")}")
    // one untimed round compiles the plans the timed rounds run
    phase("warm-up round")(order(mix, cfg.seed, -1).foreach(q =>
      try execute(queries(q)(spark, data))
      catch { case t: Throwable => System.err.println(s"[graftbench] $q warm-up: ${Main.brief(t)}") }))
    var correct = true
    // at least two rounds: a round takes about 8 s, so on a slow host a
    // run could otherwise stop after one and halve its samples (traced
    // runs alternate traced and untraced rounds, so need two anyway)
    val minRounds = 2
    val wall = scala.collection.mutable.Map.empty[(String, Boolean), Double]
    val perQuery = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    var op = 0
    var round = 0
    measure.start()
    while (round < minRounds || measure.elapsedS < cfg.seconds) {
      val traced = cfg.trace && round % 2 == 0
      if (cfg.trace) traceNext(traced)
      order(mix, cfg.seed, round).foreach { q =>
        op += 1
        beginOp(op)
        var obs: Observation = null
        val lat = measure.op {
          tracer.span("op") {
            val df = tracer.span("queries.construct")(queries(q)(spark, data))
            obs = tracer.span("exec")(execute(df))
          }
          true
        }
        // the op's output check; an op that threw is counted already
        if (obs != null) measure.untimed {
          val d = digest(obs)
          if (!golden.get(q).contains(d)) {
            System.err.println(s"[graftbench] $q: digest $d, golden ${golden.get(q).getOrElse("missing")}")
            measure.failed += 1
            correct = false
          }
        } else correct = false
        perQuery(q) :+= lat
        if (cfg.trace) {
          wall((q, traced)) = wall.getOrElse((q, traced), 0.0) + lat
          if (traced) measure.untimed(layers.addOp(traceOp(ctx, op)))
        }
      }
      round += 1
    }
    measure.stop()
    mix.foreach(q => println(f"# $q%-34s median ${Stats.median(perQuery(q))}%.3f s of ${perQuery(q).size}"))
    if (cfg.trace) {
      traceNext(false)
      val both = mix.filter(q => wall.contains((q, true)) && wall.contains((q, false)))
      val t = both.map(q => wall((q, true))).sum
      val u = both.map(q => wall((q, false))).sum
      if (u > 0) layers.set("trace.overhead_ratio", t / u - 1)
    }
    Main.Outcome(measure, correct, layers)
  }

  /** Layer values of one traced op. Source resolution happens inside the
    * queries, so `Tables.load` is timed by calling it once more per source
    * table the op scanned, outside the op's own interval. */
  private def traceOp(ctx: Main.Ctx, op: Int): Map[String, Double] = {
    import ctx._
    val spark0 = endOp(op)
    val tables = scannedTables(probe.lastPlans, cfg.data)
    val spans = tracer.opSpans(op)
    val construct = spans.filter(_.name == "queries.construct")
    val constructJobs = spans.filter(s => s.name == "spark.job" &&
      construct.exists(c => c.id == s.parent))
    tables.toSeq.sorted.foreach(t =>
      tracer.span("Tables.load")(graft.Tables.load(spark, cfg.data, t)))
    val load = tracer.opSpans(op).filter(_.name == "Tables.load").map(_.duration).sum
    spark0 ++ selfS(op, "queries.construct").map { case (_, v) => "queries.construct_s" -> v } ++ Map(
      "queries.construct_jobs" -> constructJobs.size.toDouble,
      "queries.construct_job_s" -> construct.map(c => Stats.unionLength(Stats.clip(
        constructJobs.map(j => (j.start, j.end)), c.start, c.end))).sum / 1e9,
      "Tables.load_s" -> load / 1e9)
  }

  /** Source tables (file stems under `data`) that the plans scan. */
  def scannedTables(plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
                    data: String): Set[String] = {
    val root = new java.io.File(data).getAbsolutePath.stripSuffix("/")
    plans.flatMap(_.collectLeaves()).flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath)
            .filter(_.startsWith(root))
            .map(p => p.stripPrefix(root).stripPrefix("/").stripSuffix(".parquet"))
        case _ => Nil
      }
      case _ => Nil
    }.toSet
  }
}
