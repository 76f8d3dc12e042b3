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

/** Accumulates executor CPU nanoseconds and shuffle-write records across
  * all task ends — the shared measurement axes for Bench and ScaleProbe.
  * Wall time on the bench host swings ±20% with ambient load and CPU
  * time itself inflates 2-3× under heavy SMT contention; shuffle-write
  * records are the fully DETERMINISTIC structural axis (a plan shape
  * either moves the rows or it doesn't), so A/B legs comparing plan
  * shapes read it first. Read via [[snapshot]]: task-end events are
  * delivered asynchronously. */
class CpuTimeAccumulator extends org.apache.spark.scheduler.SparkListener {
  val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
  val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (executor CPU ns, shuffle-write records) so far, read after `sc`'s
    * listener bus has delivered every queued task end. */
  def snapshot(sc: SparkContext): (Long, Long) = {
    BusAccess.waitUntilListenerBusEmpty(sc)
    (cpuNs.get(), shuffleRecords.get())
  }

  override def onTaskEnd(
      taskEnd: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }
}
