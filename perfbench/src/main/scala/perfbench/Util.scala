package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for result files (maps, sequences, strings,
  * numbers, booleans). Non-finite doubles render as null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Nearest-rank percentile, `p` in (0, 1]; 0 for an empty sample. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest of p99/p95/p90/p80/p50 that has at least ten samples
    * beyond it, with its label; the tail is only as deep as the sample. */
  def tail(xs: Iterable[Double]): (String, Double) = {
    val n = xs.size
    val p = Seq(0.99, 0.95, 0.90, 0.80).find(p => n * (1 - p) >= 10).getOrElse(0.5)
    (f"p${(p * 100).round}%d", pct(xs, p))
  }
}

/** Process-level JVM counters read through the management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val sunOs = os match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  def cpuSeconds(): Double = sunOs.map(_.getProcessCpuTime / 1e9).getOrElse(0.0)
  def loadAverage(): Double = os.getSystemLoadAverage
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  def jitSeconds(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
  def inputArguments: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
}
