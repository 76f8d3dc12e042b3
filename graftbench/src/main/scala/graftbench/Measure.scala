package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** End-to-end measurement of one closed loop with a single client: op
  * latencies, loop wall time, process CPU and peak heap. Work the loop
  * does between ops that a user would not wait for (input landing
  * bookkeeping, traced-run probes) runs inside [[untimed]], which takes
  * it out of both the loop's wall time and its CPU time. */
final class Measure {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  val latencies = ArrayBuffer.empty[Double]
  var failed = 0
  private var wallNs = 0L
  private var cpuNs = 0L
  private var t0 = 0L
  private var c0 = 0L
  private var running = false
  var firstOpAtMs: Long = 0L

  private def pause(): Unit = if (running) {
    wallNs += System.nanoTime() - t0
    cpuNs += os.getProcessCpuTime - c0
    running = false
  }

  private def resume(): Unit = if (!running) {
    c0 = os.getProcessCpuTime
    t0 = System.nanoTime()
    running = true
  }

  /** Start the timed loop. */
  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    firstOpAtMs = System.currentTimeMillis()
    resume()
  }

  /** Time one op. `body` returns whether its output was correct; an
    * exception or a wrong output counts the op as failed. */
  def op(body: => Boolean): Double = {
    val s = System.nanoTime()
    val ok = try body catch {
      case t: Throwable =>
        System.err.println(s"[graftbench] op failed: ${Main.brief(t)}")
        false
    }
    val lat = (System.nanoTime() - s) / 1e9
    latencies += lat
    if (!ok) failed += 1
    lat
  }

  def untimed[A](body: => A): A = {
    val was = running
    pause()
    try body finally if (was) resume()
  }

  def elapsedS: Double =
    (wallNs + (if (running) System.nanoTime() - t0 else 0L)) / 1e9

  def stop(): Unit = pause()

  def attempted: Int = latencies.length

  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** The end-to-end metrics, in BENCHMARK.json's order and units. */
  def endToEnd(setupS: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, attempted)
    Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", Stats.percentile(latencies.toSeq, 50), "s"),
      ("op_p90_s", Stats.percentile(latencies.toSeq, 90), "s"),
      ("ops_per_s", attempted / (wallNs / 1e9), "1/s"),
      ("cpu_s_per_op", cpuNs / 1e9 / n, "s"),
      ("peak_heap_mb", peakHeapMb, "MB"))
  }
}
