package graft.perfbench

import graft.Tables
import graft.queries.Registry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Order-independent digest of a query result: columns sorted by name (as
  * the oracle gate compares them), rows rendered and sorted.
  */
object Digest {
  def of(schema: StructType, rows: Seq[Row]): String = {
    val cols = schema.fields.map(_.name).zipWithIndex.sortBy(_._1)
    val head = cols.map { case (n, i) => s"$n:${schema(i).dataType.simpleString}" }
    val body = rows.map(r => cols.map { case (_, i) => render(r.get(i)) }
      .mkString("\u0001")).sorted
    Stats.md5Hex((head.mkString(",") +: body).mkString("\n").getBytes("UTF-8"))
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("<", ",", ">")
    case x => x.toString
  }

  private val Line = "\"(\\w+)\"\\s*:\\s*\"([0-9a-f]{32})\"".r

  def load(path: String): Map[String, String] =
    Line.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2)).toMap

  def write(path: String, digests: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(path), digests.sortBy(_._1)
      .map { case (q, d) => s"""  "$q": "$d"""" }.mkString("{\n", ",\n", "\n}\n"))
}

/** `curation_mix`: one client runs rounds of a fixed mix of registry
  * queries over the fixture tables, read-only, with the cache cleared
  * before every query; the seed orders each round.
  */
final class CurationMix(run: Run) extends Workload {
  private val spark = run.spark
  private val dir = s"${run.fixtures}/curation"
  private val specs = CurationMix.Queries.map(Registry.byName)
  private val family = Registry.familyOf
  private val expected = Digest.load(s"$dir/curation_digests.json")
  private val all = ArrayBuffer.empty[Double]
  private val rounds = ArrayBuffer.empty[Double]
  private var roundNo = 0

  /** One query: (build + action seconds, digest matches). */
  private def once(spec: graft.queries.QuerySpec): (Double, Boolean) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val (df, rows) = run.tracer.span("query") {
      val df = run.tracer.span("query.build")(spec.run(spark, dir))
      (df, run.tracer.span("query.exec")(df.collect()))
    }
    val took = Stats.seconds(System.nanoTime() - t0)
    (took, Digest.of(df.schema, rows.toSeq) == expected.getOrElse(spec.name, ""))
  }

  def warmup(): Unit = specs.foreach(once)

  /** Open the fixture tables the mix reads (footers, row counts). */
  def prepare(): Unit =
    CurationMix.Tables_.foreach(t => Tables.load(spark, dir, t).count())

  def measure(limit: Double): EndToEnd = {
    val t0 = System.nanoTime()
    val secs = ArrayBuffer.empty[Double]
    val byFamily = mutable.Map.empty[String, ArrayBuffer[Double]]
    val first = rounds.size
    while (secs.isEmpty || Stats.seconds(System.nanoTime() - t0) < limit) {
      roundNo += 1
      val order = new scala.util.Random(run.seed * 7919 + roundNo).shuffle(specs)
      var round = 0.0
      val fam = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      order.foreach { spec =>
        run.attempt(spec.name) {
          val (s, ok) = once(spec)
          secs += s
          round += s
          fam(family(spec.name)) += s
          Seq("digest matches the oracle-validated result" -> ok)
        }
      }
      rounds += round
      fam.foreach { case (f, s) => byFamily.getOrElseUpdate(f, ArrayBuffer.empty) += s }
    }
    if (run.tracer.enabled) {
      run.layer ++= CurationMix.Families.map(f =>
        s"query.${f}_s" -> byFamily.get(f).map(s => Stats.median(s.toSeq)).getOrElse(0.0))
      val c = run.tracer.countersOf("query")
      val n = secs.size.toDouble
      run.layer ++= Seq("query.jobs" -> c.jobs / n, "query.tasks" -> c.tasks / n,
        "query.shuffle_bytes" -> c.shuffleBytes / n, "query.task_cpu_s" -> c.cpuNs / n / 1e9)
    }
    all ++= secs
    // The mix's ten queries differ in cost and each runs once a round, so
    // their median jumps between queries from run to run; the mean
    // (= 1 / throughput) is the steady per-query latency.
    EndToEnd(secs.sum / secs.size, secs.size / secs.sum,
      Stats.median(rounds.takeRight(rounds.size - first).toSeq))
  }

  def summary: Seq[String] = {
    val (t, p, n) = Stats.tail(all.toSeq)
    Seq(f"curation_round_s ${Stats.median(rounds.toSeq)}%.4f s (median of n=${rounds.size} rounds of ${specs.size} queries)",
      f"curation_query_p50_s ${Stats.median(all.toSeq)}%.4f s (n=${all.size})",
      f"curation_query_tail_s $t%.4f s (p$p%.1f of n=$n)")
  }
}

object CurationMix {
  /** Dedup, similarity, text, corpus, multimodal and one relational query.
    * `q382_dedup_ladder` (~5 s warm, a third of a round alone) and
    * `q209_bm25_topk` (a second corpus ranker after `q145_tfidf`) are left
    * out to keep a run inside the benchmark's time budget.
    */
  val Queries: Seq[String] = Seq(
    "q40_dedup_exact", "q41_minhash_lsh", "q48_dedup_components",
    "q45_cosine_topk", "q98_semantic_dedup",
    "q401_ivf_centroid_serve", "q30_text_stats", "q145_tfidf",
    "q352_media_phash_dedup", "q01_pricing_summary")

  val Families: Seq[String] =
    Seq("dedup", "similarity", "text", "corpus", "multimodal", "relational")

  val Tables_ : Seq[String] = Seq("documents", "embeddings", "lineitem")

  /** Write the committed digests from live results, after checking each
    * against the same query's saved output (a `graft.Verify` dump that
    * the DuckDB oracle gate passed).
    */
  def refreshDigests(spark: SparkSession, fixtures: String, verified: String): Unit = {
    val out = Queries.map { q =>
      val df = Registry.byName(q).run(spark, fixtures)
      val live = Digest.of(df.schema, df.collect().toSeq)
      spark.catalog.clearCache()
      val saved = spark.read.parquet(s"$verified/$q")
      val fromDump = Digest.of(df.schema, saved.select(df.columns.map(saved.col): _*).collect().toSeq)
      require(live == fromDump, s"$q: live result differs from the verified dump")
      println(s"$q $live")
      q -> live
    }
    Digest.write(s"$fixtures/curation_digests.json", out)
  }
}
