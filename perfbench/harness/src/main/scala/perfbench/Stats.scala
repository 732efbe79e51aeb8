package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples beyond it. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10)

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def rssPeakMb(): Double = procStatusKb("VmHWM") / 1024.0

  private def procStatusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(key + ":") => l.split("\\s+")(1).toDouble
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Accumulated GC time of this JVM, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Accumulated JIT compilation time of this JVM, in ms. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** CPU time of this process, in ms. */
  def processCpuMs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1000000
    case _                                            => 0L
  }

  /** Host CPU jiffies from the aggregate `/proc/stat` line: (total, iowait, steal). */
  def hostJiffies(): (Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      (f.take(8).sum, f(4), f(7))
    } finally src.close()
  }

  /** Ambient signals over a window: host steal and iowait shares, JVM GC,
    * JIT compilation and process CPU. Published as evidence only; no
    * sample is ever discarded or re-measured because of them.
    */
  final case class Ambient(stealFrac: Double, iowaitFrac: Double, gcMs: Long, jitMs: Long, cpuMs: Long)

  final class AmbientProbe {
    private val (t0, io0, st0) = hostJiffies()
    private val gc0 = gcMs()
    private val jit0 = jitMs()
    private val cpu0 = processCpuMs()
    def stop(): Ambient = {
      val (t1, io1, st1) = hostJiffies()
      val dt = math.max(1L, t1 - t0).toDouble
      Ambient((st1 - st0) / dt, (io1 - io0) / dt, gcMs() - gc0, jitMs() - jit0, processCpuMs() - cpu0)
    }
  }
}
