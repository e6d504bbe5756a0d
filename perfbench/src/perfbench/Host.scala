package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Host context recorded next to every run, never gated: the same
  * single-thread LCG canary `graft.Bench` times (shared hosts have measured
  * identical code 1.5-2x apart at idle load), the 1-minute loadavg, and
  * JVM heap and GC counters.
  */
object Host {

  private val sink = new AtomicLong(0L)

  private def spin(n: Long): Long = {
    var x = 1L; var i = 0L
    while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    x
  }

  /** Seconds for 3e8 LCG steps on one thread; the result is kept live so
    * the JIT cannot drop the loop.
    */
  def canary(): Double = {
    val t = System.nanoTime()
    sink.addAndGet(spin(300000000L))
    val s = (System.nanoTime() - t) / 1e9
    if (sink.get() == 42L) System.err.println("[perfbench] canary sentinel hit")
    s
  }

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split("\\s+").head.toDouble
    catch { case _: Exception => -1.0 }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
