package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {

  def nowS: Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Geometric mean: the typical latency of operations of different
    * sizes, moved evenly by a relative change to any of them.
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Bytes and count of the regular files under `p` that `keep` (0 when absent). */
  def du(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  /** Table data, without checkpoints, markers and CRCs. */
  def isDataFile(f: Path): Boolean = {
    val n = f.getFileName.toString
    n.endsWith(".parquet") || n.endsWith(".csv")
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  def loadAvg1m(): Double =
    new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
}
