package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated TLC-style month file. `expectedClean` is the row count
  * a correct bronze→silver clean keeps, derived from the generator's own
  * invalid-row rules (never from the program's filter).
  */
final case class TaxiMonth(yearMonth: String, path: String, rows: Long,
    expectedClean: Long, drifted: Boolean)

/** Seeded generator of yellow-taxi month files.
  *
  * Every third month is an older vintage: `passenger_count` stored as a
  * double and no `airport_fee` column, so promote must read two footer
  * schemas and cast them onto one. Invalid rows follow fixed residue rules
  * on the row index (offsets drawn from the seed): about 1% with a null
  * `payment_type`, 0.4% with a negative fare and 0.3% with the drop-off
  * before the pick-up. All other values are pure functions of
  * (seed, month, row), so a seed always yields the same rows.
  */
object TaxiMonths {

  private final case class Rules(nullPay: Long, negFare: Long, badTs: Long) {
    def valid(i: Long): Boolean =
      (i + nullPay) % 100 != 0 && (i + negFare) % 250 != 0 && (i + badTs) % 333 != 0
  }

  private def rules(seed: Long): Rules = {
    val r = new java.util.SplittableRandom(seed)
    Rules(r.nextLong(100), r.nextLong(250), r.nextLong(333))
  }

  /** `n` consecutive months starting at `first` (yyyy-MM). */
  def months(first: String, n: Int): Seq[String] = {
    val ym = java.time.YearMonth.parse(first)
    (0 until n).map(i => ym.plusMonths(i).toString)
  }

  /** Rows in month `m`: `rowsPerMonth` give or take 5%, by seed. */
  private def rowCount(seed: Long, m: Int, rowsPerMonth: Int): Long = {
    val r = new java.util.SplittableRandom(seed * 1000003L + m)
    rowsPerMonth + r.nextLong(rowsPerMonth / 10 + 1) - rowsPerMonth / 20
  }

  /** Write one parquet file per month into `dir` (as
    * `yellow_tripdata_{yyyy-MM}.parquet`); `index` numbers the months
    * for the vintage rule and the seed streams.
    */
  def generate(spark: SparkSession, dir: String, seed: Long,
      monthsWithIndex: Seq[(String, Int)], rowsPerMonth: Int): Seq[TaxiMonth] = {
    val rl = rules(seed)
    val specs = monthsWithIndex.map { case (ym, m) =>
      (ym, m, rowCount(seed, m, rowsPerMonth), m % 3 == 2) }
    specs.groupBy(_._4).foreach { case (drifted, group) =>
      val frames = group.map { case (ym, m, n, _) =>
        spark.range(0, n, 1, 1).toDF("i")
          .withColumn("ym", lit(ym))
          .withColumn("m", lit(m))
      }
      // One single-partition range per month: each month is written by
      // one task into its own partition directory, with no shuffle.
      val raw = frames.reduce(_.unionByName(_))
      val out = s"$dir/_gen_${if (drifted) "old" else "new"}"
      rows(raw, seed, rl, drifted)
        .drop("i", "m")
        .write.partitionBy("ym").parquet(out)
      group.foreach { case (ym, _, _, _) =>
        val part = Stats.dataFiles(s"$out/ym=$ym")
        require(part.size == 1, s"generator wrote ${part.size} files for $ym")
        Files.move(part.head, Paths.get(s"$dir/yellow_tripdata_$ym.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      Stats.deleteTree(out)
    }
    specs.map { case (ym, _, n, drifted) =>
      TaxiMonth(ym, s"$dir/yellow_tripdata_$ym.parquet", n,
        (0L until n).count(rl.valid).toLong, drifted)
    }
  }

  /** Digest of the generated values (parquet footers list encodings in
    * JVM hash order, so file bytes are not comparable across processes).
    */
  def digest(spark: SparkSession, ms: Seq[TaxiMonth]): String = {
    val parts = ms.groupBy(_.drifted).values.flatMap { group =>
      val df = spark.read.parquet(group.map(_.path): _*)
      df.select(input_file_name().as("f"),
          xxhash64(df.columns.sorted.map(col): _*).as("h"))
        .groupBy("f")
        .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(1000003L))))
        .collect().map(r => s"${r.getString(0).split('/').last}:" +
          s"${r.getLong(1)}:${r.getLong(2)}:${r.getLong(3)}")
    }
    Stats.md5Hex(parts.toSeq.sorted.mkString(",").getBytes("UTF-8"))
  }

  /** Uniform [0, 1) from a hash of (seed, month, row, stream). */
  private def u(seed: Long, k: Int): Column =
    pmod(xxhash64(lit(seed), col("m"), col("i"), lit(k)), lit(1000003L))
      .cast("double") / 1000003.0

  private def rows(raw: DataFrame, seed: Long, rl: Rules,
      drifted: Boolean): DataFrame = {
    val i = col("i")
    val monthStart = unix_timestamp(to_timestamp(concat(col("ym"), lit("-01"))))
    val pickup = monthStart + (u(seed, 1) * 27 * 86400).cast("long")
    val duration = (u(seed, 2) * 3000 + 60).cast("long")
    val inverted = (i + rl.badTs) % 333 === 0
    val fare = round(u(seed, 3) * 60 + 2.5, 2)
    val tip = round(u(seed, 4) * 10, 2)
    val passengers = (i % 4 + 1).cast(if (drifted) "double" else "long")
    val df = raw.select(
      i, col("ym"), col("m"),
      (i % 2 + 1).cast("int").as("VendorID"),
      timestamp_seconds(pickup).as("tpep_pickup_datetime"),
      timestamp_seconds(when(inverted, pickup - duration)
        .otherwise(pickup + duration)).as("tpep_dropoff_datetime"),
      passengers.as("passenger_count"),
      round(u(seed, 5) * 20, 2).as("trip_distance"),
      lit(1L).as("RatecodeID"),
      lit("N").as("store_and_fwd_flag"),
      (pmod(xxhash64(lit(seed), col("m"), i, lit(6)), lit(265L)) + 1)
        .cast("int").as("PULocationID"),
      (pmod(xxhash64(lit(seed), col("m"), i, lit(7)), lit(265L)) + 1)
        .cast("int").as("DOLocationID"),
      when((i + rl.nullPay) % 100 === 0, lit(null).cast("long"))
        .otherwise(i % 4 + 1).as("payment_type"),
      when((i + rl.negFare) % 250 === 0, -fare).otherwise(fare).as("fare_amount"),
      lit(0.5).as("extra"),
      lit(0.5).as("mta_tax"),
      tip.as("tip_amount"),
      lit(0.0).as("tolls_amount"),
      lit(0.3).as("improvement_surcharge"),
      round(fare + tip + 1.3 + 2.5, 2).as("total_amount"),
      lit(2.5).as("congestion_surcharge"),
      when(i % 10 === 0, 1.25).otherwise(0.0).as("airport_fee"))
    if (drifted) df.drop("airport_fee") else df
  }
}
