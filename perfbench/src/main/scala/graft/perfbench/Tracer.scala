package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Spark work attributed to one span (or to the whole run). */
final class Counters {
  var jobs, tasks, cpuNs, runMs, bytesRead, recordsRead, bytesWritten,
      recordsWritten, shuffleBytes = 0L

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten
    shuffleBytes += o.shuffleBytes
  }

  def minus(o: Counters): Counters = {
    val c = new Counters
    c.add(this)
    c.jobs -= o.jobs; c.tasks -= o.tasks; c.cpuNs -= o.cpuNs
    c.runMs -= o.runMs; c.bytesRead -= o.bytesRead
    c.recordsRead -= o.recordsRead; c.bytesWritten -= o.bytesWritten
    c.recordsWritten -= o.recordsWritten; c.shuffleBytes -= o.shuffleBytes
    c
  }
}

/** One timed call into the program: `parent` is the enclosing span's id
  * (-1 for a root), times are `System.nanoTime`.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = Stats.seconds(endNs - startNs)
}

/** In-memory span recorder for the traced run.
  *
  * Spans are recorded by the benchmark around its own calls into the
  * program's public API. Each open span owns a Spark job group, so the
  * SparkListener (registered only when tracing) attributes every job,
  * and the tasks of its stages, to the innermost span open on the driver
  * thread when the job was submitted. Streaming jobs run under the query's
  * own job group (its run id); [[alias]] points that group at a span.
  *
  * Until [[enable]], [[span]] is a plain call and no listener is
  * registered; an untraced run never enables it.
  */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val groupSpan = new ConcurrentHashMap[String, Int]()
  private val total = new Counters
  @volatile private var started, ended = 0L

  private def groupOf(id: Int): String = s"perfbench-$runId-$id"

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val sid: Int = group.map(g => groupSpan.getOrDefault(g, -1)).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, sid))
      val c = new Counters
      c.jobs = 1
      counters(sid).add(c)
      total.add(c)
      started += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = new Counters
        c.tasks = 1
        c.cpuNs = m.executorCpuTime
        c.runMs = m.executorRunTime
        c.bytesRead = m.inputMetrics.bytesRead
        c.recordsRead = m.inputMetrics.recordsRead
        c.bytesWritten = m.outputMetrics.bytesWritten
        c.recordsWritten = m.outputMetrics.recordsWritten
        c.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
        counters(stageSpan.getOrDefault(e.stageId, -1)).add(c)
        total.add(c)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended += 1
  }

  private def counters(sid: Int): Counters =
    bySpan.computeIfAbsent(sid, _ => new Counters)

  @volatile private var on = false
  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(Listener); on = true }

  /** Time `f` as span `name`, nested under the span open on this thread. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      groupSpan.put(groupOf(id), id)
      open = id :: open
      sc.setJobGroup(groupOf(id), name)
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, parent, runId, t0, System.nanoTime())
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p), name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attribute jobs of an external job group (a streaming query's run id)
    * to the innermost open span.
    */
  def alias(group: String): Unit =
    if (enabled) open.headOption.foreach(groupSpan.put(group, _))

  /** Record a span whose interval the caller measured itself. */
  def record(name: String, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, name, open.headOption.getOrElse(-1), runId,
      startNs, endNs)
    nextId += 1
  }

  /** Wait until the listener bus has delivered the end of every job it
    * reported started, so the counters are complete.
    */
  def drain(): Unit =
    if (enabled) {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var stableSince = System.nanoTime()
      var last = -1L
      while (System.nanoTime() < deadline &&
          (ended < started || System.nanoTime() - stableSince < 200L * 1000 * 1000)) {
        if (started != last) { last = started; stableSince = System.nanoTime() }
        Thread.sleep(20)
      }
    }

  def snapshot(): Counters = { val c = new Counters; c.add(total); c }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the part its child spans cover (children run
    * sequentially on the driver thread, so they never overlap).
    */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> Stats.seconds(
      math.max(0L, s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)))).toMap
  }

  /** Counters of every span with the given name and of the spans nested
    * in them, summed.
    */
  def countersOf(name: String): Counters = {
    val children = spans.groupBy(_.parent)
    def under(id: Int): Seq[Int] =
      id +: children.getOrElse(id, Nil).flatMap(s => under(s.id)).toSeq
    val c = new Counters
    spans.filter(_.name == name).flatMap(s => under(s.id))
      .foreach(id => Option(bySpan.get(id)).foreach(c.add))
    c
  }

  def stop(): Unit = if (on) { sc.removeSparkListener(Listener); on = false }

  /** Spans as JSON lines (name, start, end, parent, run id, self). */
  def jsonLines: Seq[String] = {
    val self = selfSeconds
    spans.sortBy(_.startNs).map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        f""""run": "${s.runId}", "start_ns": ${s.startNs}, """ +
        f""""end_ns": ${s.endNs}, "self_s": ${self(s.id)}%.6f}"""
    }.toSeq
  }
}
