package kgbench

import scala.jdk.CollectionConverters._

/** Facts about the process and the host it runs on. */
object Host {

  /** Cumulative GC time of this JVM (driver and local executors share it). */
  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Seconds since this JVM started. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def procStatusKb(key: String): Option[Long] = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong)
      finally src.close()
    }
  }

  /** Peak resident set size (VmHWM) of this process, in MB. */
  def peakRssMb: Double = procStatusKb("VmHWM").map(_ / 1024.0)
    .getOrElse(sys.error("VmHWM is not available on this host"))

  def describe(cores: Int): String = {
    val rt = Runtime.getRuntime
    s"host: nproc=${rt.availableProcessors()} cores=$cores " +
      s"heap_max_mb=${rt.maxMemory() / (1024 * 1024)} " +
      s"jvm=${System.getProperty("java.vm.name")} ${System.getProperty("java.version")} " +
      s"spark=${org.apache.spark.SPARK_VERSION}"
  }
}
