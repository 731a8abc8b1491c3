package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Readings of the JVM and the box: `/proc` plus the management beans. */
object Sys {

  private def procFields(path: String): Map[String, String] =
    try {
      Files.readAllLines(Paths.get(path)).asScala.flatMap { line =>
        line.split(":", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _ => None
        }
      }.toMap
    } catch { case _: java.io.IOException => Map.empty }

  /** A `kB` field of /proc/self/status, in MB. */
  def statusMb(field: String): Double =
    procFields("/proc/self/status").get(field)
      .map(_.split("\\s+")(0).toDouble / 1024.0).getOrElse(Double.NaN)

  /** `rchar`/`wchar` and friends from /proc/self/io. */
  def io(): Map[String, Long] =
    procFields("/proc/self/io").map { case (k, v) => k -> v.toLong }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  def gc(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  def jitSeconds(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1000.0
    else Double.NaN
  }

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / 1048576.0

  def heapCommittedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  def vmOption(name: String): String =
    try {
      ManagementFactory.getPlatformMXBean(
        classOf[com.sun.management.HotSpotDiagnosticMXBean]).getVMOption(name).getValue
    } catch { case _: Exception => null }

  /** The JVM-level state that settles "which JVM ran this" from the artifact. */
  def provenance(): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    Map(
      "jvm_input_args" -> rt.getInputArguments.asScala.toSeq,
      "java_version" -> System.getProperty("java.version"),
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> heap.getMax / 1048576.0,
      "heap_committed_mb" -> heap.getCommitted / 1048576.0,
      "reserved_code_cache_mb" -> Option(vmOption("ReservedCodeCacheSize"))
        .map(_.toDouble / 1048576.0).orNull,
      "always_pre_touch" -> vmOption("AlwaysPreTouch"),
      "rss_anon_mb" -> statusMb("RssAnon"),
      "rss_file_mb" -> statusMb("RssFile"),
      "vm_hwm_mb" -> statusMb("VmHWM"),
    )
  }

  /** Total size of the regular files under `dir` (0 when it is missing). */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dataFiles(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
}
