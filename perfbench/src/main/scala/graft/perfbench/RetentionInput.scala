package graft.perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.retention.{Incremental, RetentionConfig}

/** One month range of a person's retention history: the retained flag,
  * the first day of its first month and the first day of its last month. */
final case class MonthRange(retained: Boolean, start: LocalDate, end: LocalDate)

/** Seeded star-layout input for the retention workload: a `customer`
  * table (`c_custkey`, `c_mktsegment`) and an `orders` table
  * (`o_custkey`, `o_orderdate`), the layout `StarAdapter` maps onto
  * persons and encounters, with households fixed as `c_custkey div 2`.
  *
  * Each person's encounters depend only on the seed and the person's
  * key, so the base population and every later delivery are generated
  * independently and the same seed always gives the same rows. The
  * generator controls the input properties the retention code depends
  * on, and [[shares]] measures them:
  *  - persons with no encounters (the scaffold-only, never-retained path);
  *  - encounters before the 5-year scan window;
  *  - consecutive admit gaps within 15 days of the 365-day lookback,
  *    which make a household's islands alternate;
  *  - one hot household (keys 0 and 1) holding about 5% of encounters.
  */
final class RetentionInput(val seed: Long, basePersons: Int) {
  import RetentionInput._

  private val days = scala.collection.mutable.LongMap[Array[Int]]()
  private val segments = scala.collection.mutable.LongMap[String]()
  private var nextKey = 0L

  /** Persons generated so far; keys are 0 until `size`. */
  def size: Long = nextKey

  val asOfDay: Int = AsOf.toEpochDay.toInt
  private val firstDay = AsOf.minusYears(7).toEpochDay.toInt

  private def rng(key: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (key + 1) * 0xC2B2AE3D27D4EB4FL)

  private def person(key: Long): Array[Int] = {
    val r = rng(key)
    val u = r.nextDouble()
    if (u < 0.15) return Array.emptyIntArray
    val n = 1 + r.nextInt(14)
    val style = r.nextDouble()
    var d = firstDay + r.nextInt(asOfDay - firstDay)
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < n && d <= asOfDay) {
      out += d
      d += (if (style < 0.5) 20 + r.nextInt(180)        // frequent visitor
            else if (style < 0.8) 340 + r.nextInt(51)   // gaps around the lookback
            else 1 + r.nextInt(900))                    // irregular
      i += 1
    }
    out.result()
  }

  /** Generates the next `n` persons; returns their key range. */
  private[perfbench] def grow(n: Int): (Long, Long) = {
    val lo = nextKey
    var k = lo
    while (k < lo + n) {
      days(k) = person(k)
      segments(k) = Segments(rng(-k - 1).nextInt(Segments.length))
      k += 1
    }
    nextKey = lo + n
    (lo, nextKey)
  }

  { // the base population, then the hot household's encounters
    grow(basePersons)
    val others = days.valuesIterator.map(_.length.toLong).sum
    val hot = math.max(2L, others * 5 / 95).toInt
    val r = rng(-1000003L)
    Seq(0L, 1L).foreach { k =>
      val extra = Array.fill(hot / 2)(firstDay + r.nextInt(asOfDay - firstDay + 1))
      days(k) = (days(k) ++ extra ++ (if (k == 0L) Array(asOfDay) else Array.emptyIntArray)).sorted
    }
  }

  /** Admit days of one household, sorted and distinct. */
  def householdDays(household: Long): Seq[Int] =
    (days.getOrElse(2 * household, Array.emptyIntArray) ++
      days.getOrElse(2 * household + 1, Array.emptyIntArray)).distinct.sorted.toSeq

  /** The expected history of a person: `Incremental.rangesFor`, the
    * program's plain-Scala reference form, over its household's days. */
  def expected(personId: Long, cfg: RetentionConfig): Seq[MonthRange] =
    Incremental.rangesFor(householdDays(personId / 2), cfg)
      .map { case (r, s, e) => MonthRange(r, s, e) }

  def encounters(lo: Long, hi: Long): Long = (lo until hi).map(k => days(k).length.toLong).sum

  /** Writes persons `[lo, hi)` and their encounters, appending to `dir`. */
  def write(spark: SparkSession, dir: String, lo: Long, hi: Long, files: Int): Unit = {
    val people = (lo until hi).map(k => Row(k, segments(k)))
    val orders = (lo until hi).flatMap(k => days(k).map(d =>
      Row(k, java.sql.Date.valueOf(LocalDate.ofEpochDay(d.toLong)))))
    def out(rows: Seq[Row], schema: StructType, table: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
        .write.mode(SaveMode.Append).parquet(s"$dir/$table.parquet")
    out(people, CustomerSchema, "customer")
    out(orders, OrdersSchema, "orders")
  }

  /** Generates a delivery of `n` new persons in new households and
    * appends it to `dir`; returns the delivered key range. */
  def deliver(spark: SparkSession, dir: String, n: Int, files: Int): (Long, Long) = {
    val (lo, hi) = grow(n + (n & 1)) // whole households
    write(spark, dir, lo, hi, files)
    (lo, hi)
  }

  /** A checksum over every generated row, in key order. */
  def checksum: String = {
    val crc = new java.util.zip.CRC32()
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(v: Long): Unit = { buf.clear(); buf.putLong(v); crc.update(buf.array()) }
    (0L until nextKey).foreach { k =>
      put(k); crc.update(segments(k).getBytes("UTF-8")); days(k).foreach(d => put(d.toLong))
    }
    f"${crc.getValue}%08x"
  }

  /** The measured input properties of persons `[0, size)`. */
  def shares(cfg: RetentionConfig): Seq[(String, Double)] = {
    val scanStart = cfg.asOf.minusYears(cfg.scanYears.toLong).toEpochDay.toInt
    val all = days.valuesIterator.toSeq
    val total = all.map(_.length).sum.toDouble
    val gaps = (0L until (nextKey + 1) / 2).iterator.flatMap { h =>
      val ds = householdDays(h).filter(_ >= scanStart)
      ds.zip(ds.drop(1)).map { case (a, b) => b - a }
    }.toSeq
    Seq(
      "persons_without_encounters" -> all.count(_.isEmpty) / all.size.toDouble,
      "encounters_outside_scan_window" -> all.map(_.count(_ < scanStart)).sum / total,
      "gaps_near_lookback" ->
        gaps.count(g => math.abs(g - cfg.lookbackDays) <= 15) / math.max(1, gaps.size).toDouble,
      "hot_household_encounters" -> (days(0L).length + days(1L).length) / total)
  }
}

object RetentionInput {
  /** The last admit day; `StarAdapter.config` derives the as-of date
    * from the data, and person 0 always has an encounter on it. */
  val AsOf: LocalDate = LocalDate.of(2024, 6, 30)
  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))
  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderdate", DateType, nullable = false)))

  /** A sink row's history as month ranges. Fails on a row whose epoch
    * bounds disagree with its date strings. */
  def ranges(history: Seq[Row]): Seq[MonthRange] = history.map { h =>
    val range = h.getStruct(0)
    val alt = h.getStruct(1)
    val start = LocalDate.parse(alt.getString(0))
    val end = LocalDate.parse(alt.getString(1).take(10)).withDayOfMonth(1)
    val gte = start.atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000
    val lte = end.plusMonths(1).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000 - 1000
    if (range.getLong(0) != gte || range.getLong(1) != lte)
      MonthRange(h.getBoolean(2), LocalDate.MIN, LocalDate.MIN)
    else MonthRange(h.getBoolean(2), start, end)
  }

  /** Compares sink rows `(person_id, household_retention_history)` with
    * the expected histories; returns one message per wrong person. */
  def mismatches(input: RetentionInput, rows: Seq[Row], cfg: RetentionConfig): Seq[String] =
    rows.flatMap { r =>
      val pid = r.getLong(0)
      val got = ranges(r.getSeq[Row](1))
      val want = input.expected(pid, cfg)
      if (got == want) None
      else Some(s"person $pid: got ${got.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
    }

  /** Order-independent checksum of sink rows. */
  def checksum(rows: Iterable[Row]): Long = rows.iterator.map(_.hashCode.toLong).sum
}
