package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.OfficeSchema

/** A seeded KETI-shaped office dataset: `rooms` rooms, each with one reading
  * per sensor per minute for `minutes` minutes. Each sensor drops
  * `DropFrac` of its minutes and reads null on `NullFrac` of the rest; no
  * minute repeats within a file.
  *
  * The expected ETL output is computed here, without the engine: every
  * (room, minute) whose five readings are all present and non-null.
  */
final class Office(seed: Long, rooms: Int, minutes: Int) {
  import Office._

  private val roomNames: IndexedSeq[String] = (0 until rooms).map(i => f"room${100 + i}%03d")
  private val startTs: Long = 1500000000L / 60 * 60 + math.floorMod(seed, 1000L) * 86400L

  // state(room)(sensor)(minute): Absent, Null, or Present with value(...)
  private val state = Array.ofDim[Byte](rooms, Sensors.length, minutes)
  private val value = Array.ofDim[Float](rooms, Sensors.length, minutes)

  for (r <- 0 until rooms; s <- Sensors.indices) {
    val rng = new SplittableRandom(seed * 1000003L + r * 31L + s)
    val st = state(r)(s)
    val vs = value(r)(s)
    for (m <- 0 until minutes) {
      if (rng.nextDouble() < DropFrac) st(m) = Absent
      else if (rng.nextDouble() < NullFrac) st(m) = Null
      else { st(m) = Present; vs(m) = reading(s, rng) }
    }
  }

  private def ts(m: Int): Long = startTs + 60L * m

  private def complete(r: Int, m: Int): Boolean =
    Sensors.indices.forall(s => state(r)(s)(m) == Present)

  /** Write `<dir>/<room>/<sensor>.csv`, header first, minutes ascending. */
  def writeTree(dir: File): Unit =
    for (r <- 0 until rooms) {
      val rd = new File(dir, roomNames(r))
      rd.mkdirs()
      for (s <- Sensors.indices) {
        val w = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(new File(rd, s"${Sensors(s)}.csv")),
          StandardCharsets.UTF_8), 1 << 16)
        try {
          w.write("ts_min_bignt,reading\n")
          val st = state(r)(s)
          for (m <- 0 until minutes) if (st(m) != Absent) {
            w.write(ts(m).toString)
            w.write(',')
            if (st(m) == Present) w.write(java.lang.Float.toString(value(r)(s)(m)))
            w.write('\n')
          }
        } finally w.close()
      }
    }

  /** The expected office rows in the ETL's output order (minute, room). */
  def expectedRows: IndexedSeq[Row] =
    for {
      m <- 0 until minutes
      r <- 0 until rooms
      if complete(r, m)
    } yield {
      val v = value(r)
      Row(ts(m), v(0)(m), v(1)(m), v(2)(m), v(3)(m), v(4)(m), roomNames(r),
        EventTs.format(Instant.ofEpochSecond(ts(m))))
    }
}

object Office {
  val Sensors: Seq[String] = OfficeSchema.sensors
  val DropFrac = 0.02
  val NullFrac = 0.01
  private val Absent: Byte = 0
  private val Null: Byte = 1
  private val Present: Byte = 2
  private val EventTs =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** One reading on a 0.1 grid in the sensor's plausible range; `pir` reads
    * exactly 0 (no movement) on 60% of minutes.
    */
  private def reading(sensor: Int, rng: SplittableRandom): Float =
    Sensors(sensor) match {
      case "co2"         => 400f + rng.nextInt(8000) / 10f
      case "humidity"    => 20f + rng.nextInt(500) / 10f
      case "light"       => rng.nextInt(10000) / 10f
      case "pir"         => if (rng.nextDouble() < 0.6) 0f else 1f + rng.nextInt(490) / 10f
      case "temperature" => 18f + rng.nextInt(120) / 10f
    }

  /** A frame of the expected rows in the engine's office schema. */
  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism),
      OfficeSchema.office)
}

/** An order-insensitive content fingerprint: row count and the exact sum of
  * a 64-bit hash of each row over the office columns. Equal fingerprints mean
  * equal multisets of rows (up to hash collisions).
  */
final case class Fingerprint(rows: Long, hashSum: java.math.BigDecimal) {
  def times(k: Int): Fingerprint =
    Fingerprint(rows * k, hashSum.multiply(java.math.BigDecimal.valueOf(k.toLong)))
}

object Fingerprint {
  private val cols = OfficeSchema.office.fieldNames.toSeq

  /** The per-row hash over the office columns, exact as a decimal. */
  val rowHash: Column = xxhash64(cols.map(c => col(c)): _*).cast("decimal(38,0)")

  /** Aggregates giving (rows, hash sum); read them back with `fromRow`. */
  val aggs: Seq[Column] = Seq(count(lit(1)), coalesce(sum(rowHash), lit(0).cast("decimal(38,0)")))

  def fromRow(r: Row, at: Int): Fingerprint = Fingerprint(r.getLong(at), r.getDecimal(at + 1))

  def of(df: DataFrame): Fingerprint = fromRow(df.agg(aggs.head, aggs.tail: _*).head(), 0)
}
