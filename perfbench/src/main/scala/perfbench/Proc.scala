package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Process and machine counters read from /proc. */
object Proc {
  private val ticksPerSecond = 100.0

  private def statFields(): Array[String] = {
    val s = Files.readString(Paths.get("/proc/self/stat"))
    s.substring(s.lastIndexOf(')') + 2).split(" ")
  }

  /** CPU seconds of this JVM plus its reaped children (pipe executables). */
  def cpuSeconds(): Double = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val f = statFields() // after "pid (comm) ": state=0 ... cutime=13 cstime=14
    os.getProcessCpuTime / 1e9 + (f(13).toLong + f(14).toLong) / ticksPerSecond
  }

  private def ownTicks(): Long = {
    val f = statFields()
    f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong
  }

  /** The aggregate `cpu` line of /proc/stat: user nice system idle iowait
    * irq softirq steal ...
    */
  private def machineTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)

  final case class Window(machine: Array[Long], own: Long)

  def window(): Window = Window(machineTicks(), ownTicks())

  /** Cores used by other processes and cores stolen by the hypervisor
    * over the window, so a noisy run names itself in its artifact.
    */
  def windowSince(w: Window, seconds: Double): Json.Obj = {
    val m = machineTicks().zip(w.machine).map { case (a, b) => a - b }
    val own = ownTicks() - w.own
    val busy = m(0) + m(1) + m(2) + m(5) + m(6)
    val o = new Json.Obj
    o("seconds") = seconds
    o("own_cores") = own / ticksPerSecond / seconds
    o("foreign_cores") = math.max(0L, busy - own) / ticksPerSecond / seconds
    o("steal_cores") = (if (m.length > 7) m(7) else 0L) / ticksPerSecond / seconds
    o
  }

  /** Memory the program holds live: heap in use after a full collection
    * plus non-heap in use (metaspace, code cache). Call after the timed
    * window only: the collection pauses every thread and shrinks the heap.
    */
  def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
