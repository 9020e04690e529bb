package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Try

/** Host readings for the result stamp; every reader degrades to a neutral
  * value where `/proc` is absent.
  */
object Host {
  private def read(p: String): String = Try(Files.readString(Paths.get(p))).getOrElse("")

  def loadavg: String = read("/proc/loadavg").split(" ").take(3).mkString(" ")

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies: (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val xs = l.split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
      case None => (0L, 0L)
    }

  def stealPct(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total <= 0) 0.0 else 100.0 * (after._1 - before._1) / total
  }

  /** Peak resident set of this process (VmHWM) in MB. */
  def peakRssMb: Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def xmxMb: Long = Runtime.getRuntime.maxMemory / (1L << 20)
}
