package graft.perfbench

import graft.queries.Dedup
import graft.streaming.{DedupStream, NearDupStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable.ArrayBuffer

/** `stream_admit`: a closed loop through NearDupStream.matches. About 60%
  * of the documents (seeded split) form the corpus index; the rest arrive
  * in id order through a MemoryStream in fixed batches, each sent after
  * the previous trigger finished. Set-up ends with the first trigger,
  * which loads the corpus index into state.
  */
final class StreamAdmit(run: Run, batch: Int) extends Workload {
  private val spark = run.spark
  import spark.implicits._
  private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var prep = 0
  private var corpus: DataFrame = _
  private var arrivals = Seq.empty[Seq[DedupStream.RawDoc]]
  private var sent = 0
  private var mem: MemoryStream[DedupStream.RawDoc] = _
  private var query: StreamingQuery = _
  private val all = ArrayBuffer.empty[Double]
  private val addBatch, commit = ArrayBuffer.empty[Double]

  private def docs: DataFrame =
    spark.read.parquet(s"${run.fixtures}/stream/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))

  private def inCorpus = pmod(xxhash64(lit(run.seed), col("doc_id")), lit(5)) < 3

  /** The first set-up repetition runs cold and warms the JIT. */
  def warmup(): Unit = ()

  def prepare(): Unit = {
    prep += 1
    if (query != null) query.stop()
    corpus = docs.filter(inCorpus)
    arrivals = docs.filter(!inCorpus).as[DedupStream.RawDoc].collect().toSeq
      .sortBy(_.doc_id).grouped(batch).toSeq
    mem = MemoryStream[DedupStream.RawDoc]
    query = NearDupStream.matches(spark, mem.toDF(), corpus)
      .writeStream.format("memory").queryName(s"admit_$prep")
      .option("checkpointLocation", s"${run.root}/checkpoints/admit_$prep")
      .outputMode("append").start()
    mem.addData(arrivals.head: _*)
    query.processAllAvailable()
    sent = 1
  }

  def measure(limit: Double): EndToEnd = {
    val t0 = System.nanoTime()
    val secs = ArrayBuffer.empty[Double]
    var docsIn = 0L
    while (sent < arrivals.size && (secs.isEmpty ||
        Stats.seconds(System.nanoTime() - t0) < limit)) {
      val b = arrivals(sent)
      run.attempt("admission trigger") {
        val s0 = System.nanoTime()
        run.tracer.span("stream.trigger") {
          run.tracer.alias(query.runId.toString)
          mem.addData(b: _*)
          query.processAllAvailable()
        }
        secs += Stats.seconds(System.nanoTime() - s0)
        Seq("query active" -> query.isActive)
      }
      sent += 1
      docsIn += b.size
      val p = query.lastProgress
      addBatch += Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0)
      commit += p.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)
    }
    val wall = Stats.seconds(System.nanoTime() - t0)
    if (run.tracer.enabled) run.layer ++= Seq(
      "stream.add_batch_ms" -> Stats.median(addBatch.toSeq),
      "stream.state_commit_ms" -> Stats.median(commit.toSeq),
      "stream.state_rows" -> query.lastProgress.stateOperators.headOption
        .map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.matches" -> spark.table(s"admit_$prep").count().toDouble)
    all ++= secs
    val p50 = Stats.median(secs.toSeq)
    EndToEnd(p50, docsIn / wall, p50)
  }

  /** Untimed: the streamed (new_doc, matched_doc) pairs equal a batch
    * recomputation over the same corpus and the arrivals sent, where an
    * arrival may match a corpus doc or any arrival sent before it.
    */
  override def finish(): Unit = {
    query.stop()
    run.attempt("stream pairs = batch recomputation") {
      val got = spark.table(s"admit_$prep").select("new_doc", "matched_doc")
        .as[(Long, Long)].collect().toSet
      val arrived = arrivals.take(sent).flatten.map(_.doc_id).toSet
      Seq("pair set" -> (got == batchPairs(arrived)))
    }
  }

  private def batchPairs(arrived: Set[Long]): Set[(Long, Long)] = {
    val ids = arrived.toSeq.toDF("doc_id")
    val both = corpus.unionByName(docs.join(ids, "doc_id")
      .select(corpus.columns.map(col): _*))
    val idx = Dedup.bandIndex(Dedup.withShingles(both))
      .select("doc_id", "band", "bkey", "shingles")
    val cand = idx.as("a").join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("old_doc"),
        col("a.shingles").as("x"), col("b.shingles").as("y"))
      .as[(Long, Long, Array[Long], Array[Long])].collect()
    cand.iterator.filter { case (n, o, _, _) =>
      arrived(n) && (!arrived(o) || o < n)
    }.filter { case (_, _, x, y) => StreamAdmit.jaccard(x, y) >= 0.8 }
      .map { case (n, o, _, _) => (n, o) }.toSet
  }

  def summary: Seq[String] = {
    val (t, p, n) = Stats.tail(all.toSeq)
    Seq(f"admit_trigger_p50_s ${Stats.median(all.toSeq)}%.4f s (n=${all.size} triggers of $batch docs)",
      f"admit_trigger_tail_s $t%.4f s (p$p%.1f of n=$n)")
  }
}

object StreamAdmit {
  /** Exact Jaccard of two sorted shingle arrays. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 } else if (c < 0) i += 1 else j += 1
    }
    n.toDouble / (a.length + b.length - n)
  }
}
