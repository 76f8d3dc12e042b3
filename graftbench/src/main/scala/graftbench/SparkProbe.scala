package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for the traced run: task metrics and job
  * intervals from a SparkListener, and Catalyst phase times from the
  * QueryPlanningTracker of every query execution a QueryExecutionListener
  * sees. Both are registered by the benchmark on its own session and
  * removed again for untraced ops. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  private val counters = Seq("jobs", "stages", "tasks", "task_cpu_ns",
    "shuffle_write_rows", "shuffle_write_bytes", "input_bytes",
    "spill_bytes", "gc_ms").map(_ -> new AtomicLong).toMap
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]
  private val executions = new ConcurrentLinkedQueue[QueryExecution]
  /** Analyzed plans of the query executions the last [[takePhases]] saw. */
  @volatile var lastPlans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = Nil

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      counters("jobs").incrementAndGet()
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters("stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters("tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        counters("task_cpu_ns").addAndGet(m.executorCpuTime)
        counters("shuffle_write_rows").addAndGet(m.shuffleWriteMetrics.recordsWritten)
        counters("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        counters("input_bytes").addAndGet(m.inputMetrics.bytesRead)
        counters("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        counters("gc_ms").addAndGet(m.jvmGCTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      executions.add(qe)
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  /** Current counter values (call [[drain]] first). */
  def counts: Map[String, Long] = counters.map { case (k, v) => k -> v.get }

  /** Job intervals finished since the last call, in epoch milliseconds. */
  def takeJobs(): Seq[(Long, Long)] = Iterator.continually(jobs.poll())
    .takeWhile(_ != null).toSeq

  /** Catalyst phase milliseconds (analysis, optimization, planning) summed
    * over the distinct query executions seen since the last call. A
    * tracker shared by a DataFrame and its write command reports each
    * phase from its first start to its last end. */
  def takePhases(): Phases = {
    val qes = Iterator.continually(executions.poll()).takeWhile(_ != null).toSeq
    lastPlans = qes.map(_.analyzed)
    val seen = new java.util.IdentityHashMap[QueryPlanningTracker, Unit]
    qes.foreach(qe => seen.put(qe.tracker, ()))
    seen.keySet.asScala.foldLeft(Phases(0, 0, 0)) { (acc, t) =>
      val ph = t.phases
      def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
      Phases(acc.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        acc.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        acc.planningMs + ms(QueryPlanningTracker.PLANNING))
    }
  }
}

object SparkProbe {
  final case class Phases(analysisMs: Long, optimizationMs: Long, planningMs: Long)
}
