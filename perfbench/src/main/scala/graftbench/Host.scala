package graftbench

import scala.util.Try

/** Host shape and steadiness labels stored next to every result: nproc,
  * MemTotal, driver heap, Spark and JDK versions, loadavg, a fixed
  * calibration loop, and the host steal share over the run (steal jiffies
  * from /proc/stat over wall jiffies, with the host CPU count as the
  * denominator). */
final class Host private (t0: Long, steal0: Long, load0: Double, calib: Double) {
  def finish(): Json.J = {
    val cpus = Runtime.getRuntime.availableProcessors
    val steal1 = Host.stealJiffies()
    val wallJiffies = (System.nanoTime() - t0) / 1e7 * cpus
    val stealShare = if (steal0 < 0 || steal1 < 0 || wallJiffies <= 0) Double.NaN
      else (steal1 - steal0) / wallJiffies
    Json.obj(
      "nproc" -> Json.num(cpus.toDouble),
      "mem_total_kb" -> Json.num(Host.memTotalKb),
      "driver_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "jdk_version" -> Json.str(System.getProperty("java.version")),
      "loadavg_start" -> Json.num(load0),
      "loadavg_end" -> Json.num(Host.loadavg()),
      "calibration_s" -> Json.num(calib),
      "steal_share" -> Json.num(stealShare))
  }
}

object Host {
  def start(): Host = {
    val t0 = System.nanoTime()
    new Host(t0, stealJiffies(), loadavg(), calibrate())
  }

  /** A fixed single-thread xorshift loop: its time tracks CPU speed and
    * contention, not the workload. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def stealJiffies(): Long = Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(-1L)
    finally src.close()
  }.getOrElse(-1L)

  def loadavg(): Double = Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  }.getOrElse(-1.0)

  def memTotalKb: Double = Try {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    finally src.close()
  }.getOrElse(-1.0)
}
