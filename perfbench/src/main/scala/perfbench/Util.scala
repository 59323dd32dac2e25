package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case raw: Json.Raw => raw.s
    case other => str(other.toString)
  }
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ", ", "]")
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples beyond it,
    * or None when fewer than 20 samples leave no tail above the median. */
  def tailPct(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (n >= 20 && p > 50) Some(p) else None
  }

  /** p50 and the supported tail of latency samples (ms), with the
    * percentile used and the sample count. */
  def latency(name: String, xs: Seq[Double]): Map[String, Any] = {
    val t = tailPct(xs.size)
    Map(s"${name}_p50" -> median(xs), s"${name}_n" -> xs.size,
      s"${name}_tail" -> t.map(p => quantile(xs, p / 100.0)),
      s"${name}_tail_pct" -> t)
  }
}

/** Process and host counters read from outside the engine. */
object Proc {
  private val osBean = ManagementFactory.getOperatingSystemMXBean

  def cpuNanos: Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def readLines(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toList finally src.close()
    } catch { case _: java.io.IOException => Nil }

  /** Bytes this process has read through read(2)-like calls. */
  def rchar: Long = readLines("/proc/self/io").collectFirst {
    case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
  }.getOrElse(0L)

  /** Peak resident set size, in MB. */
  def peakRssMb: Double = readLines("/proc/self/status").collectFirst {
    case l if l.startsWith("VmHWM:") => l.drop(6).trim.split("\\s+")(0).toDouble / 1024
  }.getOrElse(0.0)

  def loadAvg1: Double =
    readLines("/proc/loadavg").headOption.map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** (total jiffies, steal jiffies) from the aggregate cpu line of
    * /proc/stat. The total leaves out guest time, which the kernel
    * already counts inside user time. */
  def cpuSteal: (Long, Long) =
    readLines("/proc/stat").headOption.map { l =>
      val p = l.trim.split("\\s+").drop(1).map(_.toLong)
      (p.take(8).sum, if (p.length > 7) p(7) else 0L)
    }.getOrElse((0L, 0L))

  def cpuModel: String = readLines("/proc/cpuinfo").collectFirst {
    case l if l.startsWith("model name") => l.split(":", 2)(1).trim
  }.getOrElse("unknown")
}

/** Host contamination over an interval: steal share, load average and
  * this process's CPU seconds. Recorded beside the metrics, never as one. */
final class Telemetry {
  private val (tot0, steal0) = Proc.cpuSteal
  private val cpu0 = Proc.cpuNanos
  private val wall0 = System.nanoTime()
  def snapshot(cores: Int): Map[String, Double] = {
    val (tot1, steal1) = Proc.cpuSteal
    val wall = (System.nanoTime() - wall0) / 1e9
    val cpu = (Proc.cpuNanos - cpu0) / 1e9
    Map(
      "steal_pct" -> (if (tot1 > tot0) 100.0 * (steal1 - steal0) / (tot1 - tot0) else 0.0),
      "load_avg_1m" -> Proc.loadAvg1,
      "proc_cpu_s" -> cpu,
      "wall_s" -> wall,
      "cpu_util" -> cpu / (wall * cores))
  }
}
