package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** State of one benchmark run shared by the workloads: the session, the
  * tracer, the per-run temp root, the seed, and the operation ledger
  * behind `attempted`/`failed`.
  */
final class Run(val spark: SparkSession, val tracer: Tracer,
    val root: String, val seed: Long, val fixtures: String) {

  var attempted = 0L
  var failed = 0L

  /** Run one operation. It counts as failed if it throws or if any check
    * it returns is false (checks are named for the error log).
    */
  def attempt(what: String)(op: => Seq[(String, Boolean)]): Unit = {
    attempted += 1
    val bad =
      try op.collect { case (name, false) => name }
      catch { case e: Exception => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (bad.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] $what failed: ${bad.mkString("; ")}")
    }
  }

  /** Per-layer values a workload measured itself (counts, ratios, and
    * times that are not span durations).
    */
  val layer: mutable.Map[String, Double] = mutable.Map.empty
}

/** One named workload. [[Main]] calls [[warmup]] once, [[prepare]]
  * several times (each repetition rebuilds the state from nothing; the
  * last one is what [[measure]] runs on), [[measure]] once or twice (the
  * traced run measures an untraced and a traced half), then [[finish]].
  */
trait Workload {
  def warmup(): Unit
  def prepare(): Unit

  /** Run the workload for about `seconds` (always at least one full
    * unit of work) and return the end-to-end metrics of that window.
    */
  def measure(seconds: Double): EndToEnd

  /** Untimed checks that need the state of the whole run. */
  def finish(): Unit = ()

  /** The workload's named figures, printed above the result line. */
  def summary: Seq[String]
}

/** The end-to-end figures every workload reports: the typical `latency`
  * of its frequent operation, that operation's `rate`, and `result`, the
  * median time until a complete result is visible (see README).
  */
final case class EndToEnd(latency: Double, rate: Double, result: Double)
