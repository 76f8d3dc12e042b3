package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Per-op values are averaged over the
  * traced ops; state values (node counts, live files) are set once. */
final class Layers {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val state = mutable.Map.empty[String, Double]
  private var ops = 0

  def addOp(values: Iterable[(String, Double)]): Unit = {
    ops += 1
    values.foreach { case (k, v) => sums(k) += v }
  }

  def set(name: String, value: Double): Unit = state(name) = value

  def tracedOps: Int = ops

  /** Every per-layer metric in catalogue order; a layer the workload never
    * calls reports 0. */
  def result: Seq[(String, Double, String)] = Layers.catalogue.map { case (name, unit) =>
    val v = state.getOrElse(name, if (ops == 0) 0.0 else sums(name) / ops)
    (name, v, unit)
  }
}

object Layers {
  /** The per-layer metrics and their units, as BENCHMARK.json lists them.
    * Times and counts are per traced op unless the README says otherwise. */
  val catalogue: Seq[(String, String)] = Seq(
    "Tables.load_s" -> "s",
    "core.register_sources_s" -> "s",
    "queries.construct_s" -> "s",
    "queries.construct_jobs" -> "count",
    "queries.construct_job_s" -> "s",
    "catalyst.analyze_s" -> "s",
    "catalyst.optimize_s" -> "s",
    "catalyst.plan_s" -> "s",
    "exec.wall_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.shuffle_write_rows" -> "count",
    "exec.shuffle_write_bytes" -> "B",
    "exec.input_bytes" -> "B",
    "exec.spill_bytes" -> "B",
    "exec.gc_s" -> "s",
    "core.load_s" -> "s",
    "core.select_s" -> "s",
    "core.nodes" -> "count",
    "core.edges" -> "count",
    "compile.render_s" -> "s",
    "compile.sql_bytes" -> "B",
    "runner.run_s" -> "s",
    "runner.idle_s" -> "s",
    "runner.concurrency" -> "ratio",
    "runner.nodes_failed" -> "count",
    "materializations.view_s" -> "s",
    "materializations.table_s" -> "s",
    "materializations.incremental_s" -> "s",
    "materializations.microbatch_s" -> "s",
    "materializations.snapshot_s" -> "s",
    "quality.test_s" -> "s",
    "quality.tests_failed" -> "count",
    "relations.bytes_written" -> "B",
    "relations.files_written" -> "count",
    "relations.live_files" -> "count",
    "relations.log_versions" -> "count",
    "relations.read_latest_s" -> "s",
    "artifacts.run_results_s" -> "s",
    "artifacts.manifest_s" -> "s",
    "jvm.gc_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "trace.unexplained_s" -> "s",
    "failed_ops_ratio" -> "ratio",
    "warehouse_bytes_per_source_byte" -> "ratio")
}
