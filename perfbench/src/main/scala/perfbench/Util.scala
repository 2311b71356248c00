package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** (parquet files, bytes) under `p`. */
  def parquetFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(f => Files.size(f)).sum)
      } finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); never below the median. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    val i = math.max(n - 11, (n - 1) / 2)
    (if (n == 1) 50.0 else 100.0 * i / (n - 1),
      if (i == (n - 1) / 2) median(s) else s(i))
  }

  /** Wall seconds of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (steal, total) jiffies from /proc/stat's cpu line. */
  def procStat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Throwable => None }

  def stealSince(s0: Option[(Long, Long)]): Double =
    (s0, procStat()) match {
      case (Some((a0, t0)), Some((a1, t1))) if t1 > t0 =>
        (a1 - a0).toDouble / (t1 - t0)
      case _ => -1.0
    }

  /** Peak resident set size of this JVM in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(m: Iterable[(String, Double)]): String =
    obj(m.map { case (k, v) => k -> num(v) })

  def strs(m: Iterable[(String, String)]): String =
    obj(m.map { case (k, v) => k -> str(v) })
}
