package graft.perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload in one JVM on `local[n]`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --root <per-run temp dir> --fixtures <fixture dir> --spans <file>
  * Main refresh-digests <fixture dir> <graft.Verify output dir> <temp dir>
  * }}}
  *
  * Prints the workload's named figures, then one JSON result line last. Untraced
  * (`--trace 0`) the result holds the end-to-end metrics; traced, the
  * measured window is split in two halves, the first untraced and the
  * second traced, and the result holds the per-layer metrics, each span's
  * self time and the tracing overhead (traced minus untraced).
  */
object Main {

  /** Set-up repetitions whose median is `setup_s`. */
  private val SetupReps = 3

  /** Time metrics that come from spans: `<name>_s` is the median duration
    * per call and `<name>_self_s` the median self time.
    */
  private val SpanMetrics: Seq[String] = Seq(
    "session.build", "session.warmup",
    "orchestrator.run_once", "ledger.last_processed", "ingest.copy",
    "promote.list", "log.unprocessed", "log.mark", "schema.read_tagged",
    "promote.run", "gold.revenue", "gold.zone",
    "query.build", "query.exec", "stream.trigger")

  /** Per-layer values the workloads measure themselves; absent ones (a
    * layer the workload never calls) report 0.
    */
  private val LayerMetrics: Seq[String] = Seq(
    "ingest.bytes", "ledger.files",
    "promote.files_listed", "promote.files_todo", "promote.todo_ratio",
    "log.files", "schema.groups",
    "promote.rows_in", "promote.rows_out", "promote.bytes_written",
    "promote.files_written", "promote.files_per_src", "promote.tasks",
    "promote.task_cpu_s",
    "gold.silver_files_read", "gold.bytes_read", "gold.shuffle_bytes",
    "gold.task_cpu_s", "storage.ratio",
    "query.dedup_s", "query.similarity_s", "query.text_s", "query.corpus_s",
    "query.multimodal_s", "query.relational_s", "query.jobs", "query.tasks",
    "query.shuffle_bytes", "query.task_cpu_s",
    "stream.add_batch_ms", "stream.state_commit_ms", "stream.state_rows",
    "stream.matches",
    "engine.core_util", "engine.gc_s", "engine.jobs",
    "trace.untraced_latency_s", "trace.traced_latency_s", "trace.overhead_s",
    "trace.overhead_pct")

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("refresh-digests")) refresh(args.tail)
    else bench(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  private def session(root: String, cores: Int) =
    GraftSession.builder(Some(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .getOrCreate()

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def bench(opt: Map[String, String]): Unit = {
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = opt("root")
    val cores = Runtime.getRuntime.availableProcessors()

    val (spark, buildS) = Stats.time(session(root, cores))
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, java.util.UUID.randomUUID().toString)
    val run = new Run(spark, tracer, root, seed, opt("fixtures"))
    val t0 = System.nanoTime()
    tracer.record("session.build", t0 - (buildS * 1e9).toLong, t0)

    val w: Workload = name match {
      case "monthly_tick" => new MonthlyTick(run, rowsPerMonth = 3000, futureMonths = 4, startDay = 24)
      case "curation_mix" => new CurationMix(run)
      case "stream_admit" => new StreamAdmit(run, batch = 50)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    // setup_s = session + explicit warm-up + median set-up repetition; the
    // first repetition runs cold, and its excess over the median is
    // reported with the warm-up as session.warmup_s.
    val warmS = Stats.time(w.warmup())._2
    val prepS = (1 to SetupReps).map(_ => Stats.time(w.prepare())._2)
    val setupS = buildS + warmS + Stats.median(prepS)
    val t1 = System.nanoTime()
    tracer.record("session.warmup", t1 -
      ((warmS + prepS.head - Stats.median(prepS)) * 1e9).toLong, t1)
    val m0 = System.nanoTime()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val e = w.measure(seconds)
        w.finish()
        Seq(("setup_s", setupS, "s"), ("peak_rss_mb", peakRssMb(), "MB"),
          ("latency_s", e.latency, "s"), ("throughput_per_s", e.rate, "1/s"),
          ("result_s", e.result, "s"))
      } else {
        val plain = w.measure(seconds / 2)
        tracer.enable()
        val (c0, g0, w0) = (tracer.snapshot(), gcSeconds(), System.nanoTime())
        val traced = w.measure(seconds / 2)
        val wall = Stats.seconds(System.nanoTime() - w0)
        tracer.drain()
        val c = tracer.snapshot().minus(c0)
        run.layer ++= Seq(
          "engine.core_util" -> c.runMs / 1000.0 / (wall * cores),
          "engine.gc_s" -> (gcSeconds() - g0),
          "engine.jobs" -> c.jobs.toDouble,
          "trace.untraced_latency_s" -> plain.latency,
          "trace.traced_latency_s" -> traced.latency,
          "trace.overhead_s" -> (traced.latency - plain.latency),
          "trace.overhead_pct" -> 100 * (traced.latency - plain.latency) / plain.latency)
        w.finish()
        writeSpans(tracer, opt.get("spans"))
        spanMetrics(tracer) ++ LayerMetrics.map(m =>
          (m, run.layer.getOrElse(m, 0.0), unitOf(m)))
      }
    tracer.stop()
    System.err.println(f"[perfbench] phases: session $buildS%.2f s, warm-up $warmS%.2f s, " +
      s"set-up ${prepS.map(s => f"$s%.2f").mkString("/")} s, " +
      f"measure+checks ${Stats.seconds(System.nanoTime() - m0)}%.2f s")

    w.summary.foreach(println)
    if (traced) selfTable(tracer).foreach(println)
    val body = metrics.map { case (m, v, u) =>
      s""""$m": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def unitOf(m: String): String =
    if (m.endsWith("_ms")) "ms"
    else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_pct")) "%"
    else if (m.endsWith("bytes") || m.endsWith("bytes_read") ||
      m.endsWith("bytes_written")) "bytes"
    else if (m.endsWith("ratio") || m.endsWith("util") || m.endsWith("per_src")) "ratio"
    else "count"

  private def spanMetrics(t: Tracer): Seq[(String, Double, String)] = {
    val self = t.selfSeconds
    SpanMetrics.flatMap { n =>
      val ss = t.all.filter(_.name == n)
      val (inc, slf) =
        if (ss.isEmpty) (0.0, 0.0)
        else (Stats.median(ss.map(_.seconds)), Stats.median(ss.map(s => self(s.id))))
      Seq((s"${n}_s", inc, "s"), (s"${n}_self_s", slf, "s"))
    }
  }

  /** Human-readable self-time table: span name, calls, total, self. */
  private def selfTable(t: Tracer): Seq[String] = {
    val self = t.selfSeconds
    "span calls total_s self_s" +: t.all.groupBy(_.name).toSeq.sortBy(-_._2.map(_.seconds).sum)
      .map { case (n, ss) =>
        f"$n ${ss.size} ${ss.map(_.seconds).sum}%.4f ${ss.map(s => self(s.id)).sum}%.4f" }
  }

  private def writeSpans(t: Tracer, path: Option[String]): Unit =
    path.foreach { p =>
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), t.jsonLines.asJava)
    }

  private def refresh(args: Array[String]): Unit = {
    val spark = session(args(2), Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    CurationMix.refreshDigests(spark, args(0), args(1))
    spark.stop()
  }
}
