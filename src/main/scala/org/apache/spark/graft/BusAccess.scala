// Lives inside org.apache.spark because LiveListenerBus is private[spark]:
// draining the bus is the only way to read listener-accumulated task
// metrics synchronously after a job completes (events are delivered async).
package org.apache.spark.graft

import org.apache.spark.SparkContext

object BusAccess {
  /** Block until every queued listener event has been delivered (or the
    * timeout passes — callers treat the metric as best-effort and never
    * fail a run on a slow bus). */
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Exception => () }
}

/** Accumulates executor CPU nanoseconds across all task ends — Bench's
  * per-query CPU axis. Wall time on the bench host swings ±20% with
  * ambient load; CPU time resists that noise, though it still inflates
  * 2-3× under heavy SMT contention. Read via [[snapshot]]: task-end
  * events are delivered asynchronously. */
class CpuTimeAccumulator extends org.apache.spark.scheduler.SparkListener {
  val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Executor CPU ns so far, read after `sc`'s listener bus has
    * delivered every queued task end. */
  def snapshot(sc: SparkContext): Long = {
    BusAccess.waitUntilListenerBusEmpty(sc)
    cpuNs.get()
  }

  override def onTaskEnd(
      taskEnd: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
  }
}
