package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Summary statistics and file-tree helpers shared by the workloads. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest nearest-rank percentile with at least ten samples beyond
    * it: (value, percentile, n). Below eleven samples no percentile
    * qualifies and the maximum is reported as p100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def seconds(ns: Long): Double = ns / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, seconds(System.nanoTime() - t0))
  }

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
  }

  /** Data files under a directory (Spark's `_SUCCESS`/`.crc` markers and
    * hidden files excluded).
    */
  def dataFiles(dir: String): Seq[Path] =
    walk(dir).filter { f =>
      val n = f.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }

  def bytes(dir: String): Long = dataFiles(dir).map(Files.size).sum

  /** Every regular file under `dir` with its size — the fingerprint the
    * no-op checks compare before and after a cycle.
    */
  def tree(dir: String): Map[String, Long] =
    walk(dir).map(f => f.toString -> Files.size(f)).toMap

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
}
