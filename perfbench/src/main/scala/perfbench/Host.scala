package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and host counters read from /proc (Linux, USER_HZ = 100). */
object Host {
  private val Hz = 100.0

  /** One reading of the channels a pass is charged with. */
  final case class Reading(utimeS: Double, stimeS: Double, majflt: Long,
                           gcS: Double, hostUserS: Double) {
    def cpuS: Double = utimeS + stimeS
    def -(o: Reading): Reading = Reading(utimeS - o.utimeS, stimeS - o.stimeS,
      majflt - o.majflt, gcS - o.gcS, hostUserS - o.hostUserS)
    /** CPU time other processes ran in user space, plus time the
      * hypervisor gave this host's CPUs to someone else (steal). Kernel
      * time is left out: much of it is I/O done on this JVM's behalf. */
    def extCpuS: Double = math.max(0.0, hostUserS - utimeS)
  }

  def read(): Reading = {
    val (u, s, f) = selfStat()
    Reading(u, s, f, gcSeconds(), hostUserSeconds())
  }

  private def selfStat(): (Double, Double, Long) = Try {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    // fields after the parenthesised command name: majflt, utime, stime
    // are fields 12, 14 and 15 of the full line
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong / Hz, f(12).toLong / Hz, f(9).toLong)
  }.getOrElse((0.0, 0.0, 0L))

  private def hostUserSeconds(): Double = Try {
    // fields: user nice system idle iowait irq softirq steal
    val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    (v(0) + v(1) + v(7)) / Hz
  }.getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set size of this JVM so far (VmHWM), in MB. */
  def peakRssMb(): Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
  }.getOrElse(0.0)
}
