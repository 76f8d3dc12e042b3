package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's command line (run.py builds the classpath and starts
  * this):
  * {{{
  * graftbench.Main --workload query_mix|project_compile|project_incremental
  *   --seed N --seconds S --trace 0|1 --start-ms EPOCH_MS
  *   --data SF01_DIR [--work DIR] [--traces DIR]
  * }}}
  * Prints one `name value unit` line per metric and, last, one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`. */
object Main {

  final case class Config(
      workload: String = "",
      seed: Long = 0L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      startMs: Long = 0L,
      data: String = "",
      work: Path = Paths.get(".bench_build", "work"),
      traces: Path = Paths.get(".bench_build", "traces"))

  /** What one workload hands back: its loop measurements, whether every
    * check passed, and (traced runs) its per-layer metrics. */
  final case class Outcome(measure: Measure, correct: Boolean, layers: Layers)

  /** Everything a workload runs with. */
  final class Ctx(val spark: SparkSession, val cfg: Config) {
    val tracer = new Tracer(cfg.trace)
    val probe = new SparkProbe(spark)
    val measure = new Measure
    val layers = new Layers
    val threads: Int = math.min(4, Runtime.getRuntime.availableProcessors)
    // Spark reports job times in epoch ms; spans use System.nanoTime
    private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def msToNano(ms: Long): Long = ms * 1000000L + nanoOffset
    def toNano(t: java.time.Instant): Long = t.getEpochSecond * 1000000000L + t.getNano + nanoOffset

    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    private var c0: Map[String, Long] = Map.empty
    private var gc0 = 0L

    /** Switch tracing on or off for the next op (untimed). */
    def traceNext(on: Boolean): Unit = measure.untimed {
      tracer.on = on
      if (on) probe.attach() else probe.detach()
    }

    /** Before a traced op: clear what earlier work left in the probe. */
    def beginOp(op: Int): Unit = {
      tracer.op = op
      if (tracer.on) measure.untimed {
        probe.drain()
        probe.takeJobs()
        probe.takePhases()
        c0 = probe.counts
        gc0 = gcMs
      }
    }

    /** After a traced op: attach its Spark jobs to its spans and return
      * the Spark-side layer values. Call inside `measure.untimed`. */
    def endOp(op: Int): Map[String, Double] = {
      probe.drain()
      val jobs = probe.takeJobs().map { case (s, e) => (msToNano(s), msToNano(e)) }
      jobs.foreach { case (s, e) => tracer.attach("spark.job", op, s, e) }
      val ph = probe.takePhases()
      val c1 = probe.counts
      def d(k: String): Double = (c1(k) - c0.getOrElse(k, 0L)).toDouble
      val spans = tracer.opSpans(op)
      val root = spans.find(s => s.name == "op" && s.parent == -1)
      val execWall = root.map(r => Stats.unionLength(Stats.clip(jobs, r.start, r.end))).getOrElse(0L)
      Map(
        "catalyst.analyze_s" -> ph.analysisMs / 1e3,
        "catalyst.optimize_s" -> ph.optimizationMs / 1e3,
        "catalyst.plan_s" -> ph.planningMs / 1e3,
        "exec.wall_s" -> execWall / 1e9,
        "exec.task_cpu_s" -> d("task_cpu_ns") / 1e9,
        "exec.jobs" -> d("jobs"),
        "exec.stages" -> d("stages"),
        "exec.tasks" -> d("tasks"),
        "exec.shuffle_write_rows" -> d("shuffle_write_rows"),
        "exec.shuffle_write_bytes" -> d("shuffle_write_bytes"),
        "exec.input_bytes" -> d("input_bytes"),
        "exec.spill_bytes" -> d("spill_bytes"),
        "exec.gc_s" -> d("gc_ms") / 1e3,
        "jvm.gc_s" -> (gcMs - gc0) / 1e3,
        "trace.unexplained_s" -> root.map(r => SelfTime.unexplained(r, spans) / 1e9).getOrElse(0.0))
    }

    /** Run one untimed phase (set-up, checks) and print how long it took. */
    def phase[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally println(f"# $label%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    /** Self time (s) of the named spans of one op. */
    def selfS(op: Int, names: String*): Map[String, Double] = {
      val self = SelfTime.byName(tracer.opSpans(op))
      names.map(n => n -> self.getOrElse(n, 0L) / 1e9).toMap
    }
  }

  def brief(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName).replaceAll("\\s+", " ").take(300)

  def parseArgs(argv: Array[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "--workload" :: v :: t => loop(t, c.copy(workload = v))
      case "--seed" :: v :: t => loop(t, c.copy(seed = v.toLong))
      case "--seconds" :: v :: t => loop(t, c.copy(seconds = v.toDouble))
      case "--trace" :: v :: t => loop(t, c.copy(trace = v == "1"))
      case "--start-ms" :: v :: t => loop(t, c.copy(startMs = v.toLong))
      case "--data" :: v :: t => loop(t, c.copy(data = v))
      case "--work" :: v :: t => loop(t, c.copy(work = Paths.get(v)))
      case "--traces" :: v :: t => loop(t, c.copy(traces = Paths.get(v)))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val c = loop(argv.toList, Config())
    if (c.startMs == 0L) c.copy(startMs = ManagementFactory.getRuntimeMXBean.getStartTime)
    else c
  }

  /** The session every workload runs on: graft's session extension and
    * the bench session settings of `graft.Bench`, on all local cores. */
  def session(cfg: Config): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${cfg.workload}")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSparkSessionExtension")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("spark-warehouse").toAbsolutePath.toString)
      .config("spark.hadoop.hadoop.tmp.dir", cfg.work.resolve("hadoop-tmp").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parseArgs(argv)
    val workload: Ctx => Outcome = cfg.workload match {
      case "query_mix" => QueryMix.run
      case "project_compile" => ProjectCompile.run
      case "project_incremental" => ProjectIncremental.run
      case other =>
        System.err.println(s"[graftbench] unknown workload '$other'")
        sys.exit(2)
    }
    Files.createDirectories(cfg.work)
    val spark = session(cfg)
    val code = try {
      val ctx = new Ctx(spark, cfg)
      val out = workload(ctx)
      report(ctx, out)
      0
    } catch {
      case t: Throwable =>
        System.err.println(s"[graftbench] ${cfg.workload} aborted: ${brief(t)}")
        t.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }

  private def report(ctx: Ctx, out: Outcome): Unit = {
    val m = out.measure
    val cfg = ctx.cfg
    val setupS = (m.firstOpAtMs - cfg.startMs) / 1e3
    val failedRatio = m.failed.toDouble / math.max(1, m.attempted)
    val metrics =
      if (cfg.trace) {
        out.layers.set("failed_ops_ratio", failedRatio)
        out.layers.result
      } else m.endToEnd(setupS)
    val n = m.attempted
    println(s"# workload ${cfg.workload} seed ${cfg.seed} trace ${if (cfg.trace) 1 else 0}")
    println(s"# ops $n (traced ${out.layers.tracedOps}), failed ${m.failed}, " +
      f"failed_ops_ratio $failedRatio%.4f, samples beyond p90 ${Stats.samplesBeyond(n, 90)}, " +
      s"highest percentile with >=10 beyond: ${Stats.highestReportable(n).map("p" + _).getOrElse("none")}")
    println(m.latencies.map(l => f"$l%.3f").mkString("# op latencies (s): ", " ", ""))
    metrics.foreach { case (k, v, u) => println(f"$k%-34s $v%.6g $u") }
    if (cfg.trace) {
      val path = cfg.traces.resolve(s"${cfg.workload}-seed${cfg.seed}.json")
      ctx.tracer.write(path, Map("workload" -> cfg.workload, "seed" -> cfg.seed.toString))
      println(s"# spans written to $path")
    }
    val metricsJson = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{" + "\"value\":" + num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString("{", ",", "}")
    val correct = out.correct && m.failed == 0
    println(s"""{"correct":$correct,"attempted":${m.attempted},"failed":${m.failed},"metrics":$metricsJson}""")
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"a metric came out as $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }
}
