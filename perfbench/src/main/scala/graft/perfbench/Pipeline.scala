package graft.perfbench

import graft.pipeline._
import java.time.Instant
import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** The benchmark's own clock: the simulation advances it one day per
  * daily cycle.
  */
final class SimClock(var at: Instant) extends Clock {
  def now(): Instant = at
}

/** One medallion deployment under `root`, wired the way the program's
  * daily job wires it.
  */
final class Zones(run: Run, root: String, clock: Clock) {
  val catalog: ZoneCatalog = ZoneCatalog(root)
  val log = new ProcessedLog(run.spark, s"${catalog.state}/processed_log", clock)
  val ledger = new MonthLedger(run.spark, s"${catalog.state}/month_ledger", clock)
  val ingest = new Ingest(catalog, clock)
  val orchestrator = new Orchestrator(ingest, ledger)
  val promote = new Promote(run.spark, catalog, log)
  val gold = new Gold(run.spark, catalog)

  def silverRows(): Long = promote.readSilver().count()
}

/** The `monthly_tick` calls into `graft.pipeline`, with the traced run's
  * extra read-only probes and its per-layer counts.
  */
final class PipelineCalls(run: Run) {
  import run.spark.implicits._
  private val tracer = run.tracer

  private var promotes, busyPromotes, listed, todo, groups, readTagged = 0L
  private var rowsOut, filesWritten, landedBytes, landings, goldBuilds,
      silverFilesRead = 0L

  /** Silver rows a non-empty promote added (counted by the untimed checks). */
  def promoted(rows: Long): Unit = if (tracer.enabled) rowsOut += rows

  /** Promote.run, preceded in the traced run by the read-only public calls
    * it makes internally (listing, discovery, schema grouping), and
    * followed by a timed mark of the same files on a shadow log, since
    * Promote.run hides its own mark call.
    */
  def promote(z: Zones, shadowLog: ProcessedLog): Seq[String] = {
    if (tracer.enabled) {
      val listing = tracer.span("promote.list")(z.promote.listBronze())
      val pending = tracer.span("log.unprocessed")(
        z.log.unprocessed(listing.toDF("path")).as[String].collect().toSeq.sorted)
      promotes += 1; listed += listing.size; todo += pending.size
      if (pending.nonEmpty) {
        val df = tracer.span("schema.read_tagged")(
          TaxiSchema.readTagged(run.spark, pending))
        groups += df.queryExecution.analyzed.collectLeaves().size
        readTagged += 1
      }
    }
    val before = if (tracer.enabled) Stats.dataFiles(z.catalog.silver).size else 0
    val done = tracer.span("promote.run")(z.promote.run())
    if (tracer.enabled && done.nonEmpty) {
      tracer.span("log.mark")(shadowLog.mark(done, ProcessedLog.Processed))
      busyPromotes += 1
      filesWritten += Stats.dataFiles(z.catalog.silver).size - before
    }
    done
  }

  /** Both gold rebuilds; returns the two tables as readers see them. */
  def gold(z: Zones): (DataFrame, DataFrame) = {
    if (tracer.enabled) {
      goldBuilds += 1
      silverFilesRead += Stats.dataFiles(z.catalog.silver).size
    }
    (tracer.span("gold.revenue")(z.gold.buildRevenueSummary()),
      tracer.span("gold.zone")(z.gold.buildZoneSummary()))
  }

  def landed(bytes: Long): Unit =
    if (tracer.enabled) { landings += 1; landedBytes += bytes }

  /** Untimed correctness of a freshly built gold layer against the silver
    * row count: the rollup's grand total and the zone sum both match.
    */
  def goldChecks(revenue: DataFrame, zone: DataFrame,
      silver: Long): Seq[(String, Boolean)] = {
    import org.apache.spark.sql.functions._
    val grand = revenue.filter(col("payment_type").isNull && col("month").isNull)
      .select("n_trips").as[Long].collect()
    val zoneSum = zone.agg(sum("n_trips")).as[Long].head()
    Seq("gold grand total = silver rows" -> (grand.toSeq == Seq(silver)),
      "gold zone sum = silver rows" -> (zoneSum == silver))
  }

  /** Per-layer counts of the traced window. */
  def report(zones: Zones, storageRatio: Double): Unit = {
    def per(n: Long, d: Long): Double = if (d == 0) 0.0 else n.toDouble / d
    val busy = busyPromotes
    val pr = tracer.countersOf("promote.run")
    val g = tracer.countersOf("gold.revenue"); g.add(tracer.countersOf("gold.zone"))
    run.layer ++= Seq(
      "ingest.bytes" -> per(landedBytes, landings),
      "ledger.files" -> Stats.dataFiles(s"${zones.catalog.state}/month_ledger").size.toDouble,
      "log.files" -> Stats.dataFiles(s"${zones.catalog.state}/processed_log").size.toDouble,
      "promote.files_listed" -> per(listed, promotes),
      "promote.files_todo" -> per(todo, promotes),
      "promote.todo_ratio" -> per(todo, listed),
      "schema.groups" -> per(groups, readTagged),
      "promote.rows_in" -> per(pr.recordsRead, busy),
      "promote.rows_out" -> per(rowsOut, busy),
      "promote.bytes_written" -> per(pr.bytesWritten, busy),
      "promote.files_written" -> per(filesWritten, busy),
      "promote.files_per_src" -> per(filesWritten, todo),
      "promote.tasks" -> per(pr.tasks, promotes),
      "promote.task_cpu_s" -> per(pr.cpuNs, promotes) / 1e9,
      "gold.silver_files_read" -> per(silverFilesRead, goldBuilds),
      "gold.bytes_read" -> per(g.bytesRead, goldBuilds),
      "gold.shuffle_bytes" -> per(g.shuffleBytes, goldBuilds),
      "gold.task_cpu_s" -> per(g.cpuNs, goldBuilds) / 1e9,
      "storage.ratio" -> storageRatio)
  }
}

/** `monthly_tick`: set-up backfills 12 generated months at once (land,
  * promote, both gold rollups); the run then replays the reference
  * cadence with one simulated day per daily cycle: 29 no-op cycles
  * (orchestrator check + promote) then one landing cycle (ingest,
  * promote, both gold rebuilds) per month. The replay starts on day
  * `startDay` of a month, so a short run still sees a landing.
  */
final class MonthlyTick(run: Run, rowsPerMonth: Int, futureMonths: Int,
    startDay: Int) extends Workload {
  private val calls = new PipelineCalls(run)
  private val historyMonths = 12
  private val cyclesPerMonth = 30
  private var prep = 0
  private var zones: Zones = _
  private var clock: SimClock = _
  private var future = Seq.empty[TaxiMonth]
  /** Newest month the source has published: the history at set-up,
    * then each month on its landing day.
    */
  private var published = ""
  private var day = 1
  private var digest = ""
  private val noop = ArrayBuffer.empty[Double]
  private val fresh = ArrayBuffer.empty[Double]
  private var ratio = 0.0
  private var checked = false
  private var sources = Seq.empty[TaxiMonth]

  private def history: Seq[TaxiMonth] = sources.take(historyMonths)

  /** Generate the month files (the inputs, reused by every set-up). */
  def warmup(): Unit =
    sources = TaxiMonths.generate(run.spark, s"${run.root}/src", run.seed,
      TaxiMonths.months("2023-01", historyMonths + futureMonths).zipWithIndex,
      rowsPerMonth)

  def prepare(): Unit = {
    prep += 1
    if (zones != null) Stats.deleteTree(zones.catalog.root)
    val (past, next) = sources.splitAt(historyMonths)
    clock = new SimClock(Instant.parse("2024-01-10T06:00:00Z"))
    zones = new Zones(run, s"${run.root}/tick-$prep", clock)
    past.foreach(m => zones.ingest.ingestFile(m.path, m.yearMonth))
    zones.ledger.markProcessed(past.last.yearMonth)
    zones.promote.run()
    zones.gold.buildRevenueSummary(); zones.gold.buildZoneSummary()
    clock.at = Instant.parse("2024-02-15T06:00:00Z").plusSeconds(86400L * (startDay - 1))
    day = startDay
    future = next
    published = past.last.yearMonth
  }

  /** Untimed checks of the backfilled set-up state: every bronze file
    * promoted under its own `src_id`, exactly the generator's clean rows,
    * the canonical schema, and gold totals that match silver.
    */
  private def checkBackfill(): Unit = run.attempt("backfill set-up") {
    val z = zones
    val silver = z.silverRows()
    val srcIds = z.promote.readSilver().select("src_id").distinct().count()
    Seq("silver rows = expected clean rows" -> (silver == history.map(_.expectedClean).sum),
      "one src_id per bronze file" -> (srcIds == history.size),
      schemaCheck(z)) ++
      calls.goldChecks(spark.read.parquet(z.gold.revenueTable),
        spark.read.parquet(z.gold.zoneTable), silver)
  }

  def measure(limit: Double): EndToEnd = {
    if (!checked) { checked = true; checkBackfill() }
    val z = zones
    val byMonth = future.map(m => m.yearMonth -> m).toMap
    val probe: String => Boolean = ym => ym <= published
    val shadowRoot = s"${run.root}/shadow"
    val shadowIngest = new Ingest(ZoneCatalog(shadowRoot), clock)
    val shadowLog = new ProcessedLog(run.spark, s"$shadowRoot/log", clock)
    var silver = z.silverRows()
    val t0 = System.nanoTime()
    val start = (noop.size, fresh.size)
    var landed = false
    while (future.nonEmpty && (!landed || Stats.seconds(System.nanoTime() - t0) < limit)) {
      val month = future.head
      clock.at = clock.at.plusSeconds(86400)
      if (day == cyclesPerMonth) published = month.yearMonth
      val before = Stats.tree(z.catalog.root)
      run.attempt(if (day == cyclesPerMonth) "landing cycle" else "no-op cycle") {
        val c0 = System.nanoTime()
        val key = run.tracer.span(if (day == cyclesPerMonth) "tick.landing" else "tick.noop") {
          if (run.tracer.enabled)
            run.tracer.span("ledger.last_processed")(z.ledger.lastProcessed())
          val key = run.tracer.span("orchestrator.run_once")(
            z.orchestrator.runOnce(probe, ym => byMonth(ym).path))
          calls.promote(z, shadowLog)
          if (key.nonEmpty) calls.gold(z)
          key
        }
        val took = Stats.seconds(System.nanoTime() - c0)
        if (day < cyclesPerMonth) {
          noop += took
          Seq("no-op cycle ingests nothing" -> key.isEmpty,
            "no-op cycle writes nothing" -> (Stats.tree(z.catalog.root) == before))
        } else {
          fresh += took
          key.foreach(k => calls.landed(java.nio.file.Files.size(java.nio.file.Paths.get(k))))
          if (run.tracer.enabled) key.foreach { _ =>
            val copy = run.tracer.span("ingest.copy")(
              shadowIngest.ingestFile(month.path, month.yearMonth))
            java.nio.file.Files.delete(java.nio.file.Paths.get(copy))
          }
          val now = z.silverRows()
          val added = now - silver
          silver = now
          calls.promoted(added)
          val revenue = spark.read.parquet(z.gold.revenueTable)
          val zone = spark.read.parquet(z.gold.zoneTable)
          Seq("landing ingests the new month" -> key.nonEmpty,
            "landing adds exactly one month of rows" -> (added == month.expectedClean),
            "ledger advanced" -> z.ledger.lastProcessed().contains(month.yearMonth)) ++
            calls.goldChecks(revenue, zone, now)
        }
      }
      if (day == cyclesPerMonth) { landed = true; future = future.tail; day = 1 }
      else day += 1
    }
    val wall = Stats.seconds(System.nanoTime() - t0)
    ratio = (Stats.bytes(z.catalog.silver) + Stats.bytes(z.catalog.gold)).toDouble /
      Stats.bytes(z.catalog.bronze)
    if (run.tracer.enabled) calls.report(z, ratio)
    val (n0, f0) = start
    val (n, f) = (noop.drop(n0).toSeq, fresh.drop(f0).toSeq)
    EndToEnd(Stats.median(n), (n.size + f.size) / wall, Stats.median(f))
  }

  private def spark = run.spark

  /** Silver columns equal the canonical schema plus the `src_id` tag
    * (`payment_type`, a partition column, comes back with an inferred type).
    */
  private def schemaCheck(z: Zones): (String, Boolean) = {
    val want = TaxiSchema.schema.fields.map(f => f.name -> f.dataType).toMap
    val got = z.promote.readSilver().schema.fields.filterNot(_.name == "src_id")
    "silver schema = TaxiSchema.schema" -> (got.map(_.name).toSet == want.keySet &&
      got.forall(f => f.name == "payment_type" || want(f.name) == f.dataType))
  }

  override def finish(): Unit = digest = TaxiMonths.digest(spark, sources)

  def summary: Seq[String] = {
    val (t, p, n) = Stats.tail(noop.toSeq)
    Seq(
      f"tick_freshness_s ${Stats.median(fresh.toSeq)}%.4f s (median of n=${fresh.size} landings)",
      f"noop_check_p50_s ${Stats.median(noop.toSeq)}%.4f s (n=${noop.size})",
      f"noop_check_tail_s $t%.4f s (p$p%.1f of n=$n)",
      f"storage_ratio $ratio%.4f (silver+gold bytes / bronze bytes)",
      s"generated_digest $digest (seed ${run.seed})")
  }
}
