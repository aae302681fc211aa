package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** What each run records about the machine it ran on. */
object Host {

  // Hypervisor CPU-steal in seconds of stolen CPU time (field 8 of
  // /proc/stat's cpu line, USER_HZ ticks summed over all vCPUs) — the same
  // sampling as graft.Bench.
  def stealTicks(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  private def procField(file: String, key: String): Option[Long] =
    try Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong)
    catch { case _: java.io.IOException => None }

  def memTotalKb: Long = procField("/proc/meminfo", "MemTotal").getOrElse(0L)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    procField("/proc/self/status", "VmHWM").getOrElse(0L) / 1024.0

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)
}
