package graftbench

import java.time.LocalDateTime
import org.apache.spark.sql.SparkSession

/** One generated `lineitem` row, in the `l_*` schema `Relational.q6`
  * reads (shipdate as a TIMESTAMP_NTZ, like the parquet fixtures). */
final case class Q6Row(l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_shipdate: LocalDateTime)

/** Seeded port of the reference's lineitem generator (TpchDataGenerator:
  * the same constants, draw order and dbgen calendar as
  * `graft.sources.ReferenceLineitemGen`), driven by
  * `java.util.Random(seed)` instead of a fixed `Random(0)`. Seed 0 is the
  * reference's own stream.
  *
  * The sequential [[Q6Data.oracle]] is the expected answer: a plain
  * row-at-a-time Q6 over the same stream, the reference's `PureJavaTest`
  * path with no Spark involved. */
object Q6Data {
  private val Scale = 10
  private val QtyMin = 1; private val QtyMax = 50
  private val DcntMin = 0; private val DcntMax = 10
  private val SdteMin = 1; private val SdteMax = 121
  private val RdteMax = 30
  private val PkeyMin = 1L; private val PkeyMax = 200000L * Scale
  private val StartDate = 92001
  private val TotDate = 2557
  private val OdateMin = StartDate
  private val OdateMax = StartDate + TotDate - (SdteMax + RdteMax) - 1

  /** The reference's table size: 5,000 pages of 1,000 rows. */
  val Rows: Long = 5000L * 1000L

  private def isLeapYear(year: Int): Boolean = year % 4 == 0 && year % 100 != 0

  private def julian(date: Int): Int = {
    var offset = date - StartDate
    var result = StartDate
    var done = false
    while (!done) {
      val year = result / 1000
      val yearEnd = year * 1000 + 365 + (if (isLeapYear(year)) 1 else 0)
      if (result + offset <= yearEnd) done = true
      else { offset -= yearEnd - result + 1; result += 1000 }
    }
    result + offset
  }

  private val monthStart =
    Array(0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334, 365)

  private def makeDate(index: Int): String = {
    val j = julian(index + StartDate - 1)
    val y = j / 1000; val d = j % 1000
    def leapAdj(month: Int) = if (isLeapYear(y) && month >= 2) 1 else 0
    var m = 0
    while (d > monthStart(m) + leapAdj(m)) m += 1
    val dy = d - monthStart(m - 1) - (if (isLeapYear(y) && m > 2) 1 else 0)
    f"19$y%02d-$m%02d-$dy%02d"
  }

  /** The 2557 ship-date strings, indexed by `shipDate - StartDate`. */
  val dates: Array[String] = Array.tabulate(TotDate)(i => makeDate(i + 1))

  /** A cursor over one seeded row stream; `next()` draws one row into the
    * public fields (no allocation per row). */
  final class Cursor(seed: Long) {
    private val r = new java.util.Random(seed)
    var quantity = 0
    var discount = 0.0
    var price = 0.0
    var dateIdx = 0

    private def randomInt(low: Int, high: Int): Int = r.nextInt(1 + high - low) + low
    private def randomLong(low: Long, high: Long): Long = {
      val n = 1 + high - low
      var bits = 0L; var v = 0L
      while ({
        bits = (r.nextLong() << 1) >>> 1
        v = bits % n
        bits - v + (n - 1) < 0L
      }) ()
      v + low
    }

    def next(): Unit = {
      quantity = randomInt(QtyMin, QtyMax)
      discount = randomInt(DcntMin, DcntMax) / 100.0
      val partKey = randomLong(PkeyMin, PkeyMax)
      val partPrice = 90000L + (partKey / 10) % 20001 + (partKey % 1000) * 100
      price = partPrice * quantity / 100.0
      val orderDate = randomInt(OdateMin, OdateMax)
      dateIdx = randomInt(SdteMin, SdteMax) + orderDate - StartDate
    }
  }

  /** Writes `rows` rows of the seeded stream as a multi-file,
    * multi-row-group parquet table at `path`. Each of `files` partitions
    * replays the stream up to its slice, so the rows are those of the
    * sequential stream. */
  def write(spark: SparkSession, seed: Long, rows: Long, files: Int,
      path: String): Unit = {
    import spark.implicits._
    val bounds = (0 to files).map(p => rows * p / files)
    val ts = dates.map(d => java.time.LocalDate.parse(d).atStartOfDay())
    spark.range(0, files, 1, files).as[Long]
      .flatMap { p =>
        val c = new Cursor(seed)
        var i = 0L
        while (i < bounds(p.toInt)) { c.next(); i += 1 }
        Iterator.fill((bounds(p.toInt + 1) - bounds(p.toInt)).toInt) {
          c.next()
          Q6Row(c.quantity.toDouble, c.price, c.discount, ts(c.dateIdx))
        }
      }
      .write
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(path)
  }

  /** Expected `q6` answer over the seeded stream: revenue in exact 1e-4
    * integer units (Spark's half-up `round` of each `ep * disc * 1e4`)
    * and the qualifying row count, with `Relational.q6`'s filter. */
  final case class Expected(revenueUnits: Long, rows: Long)

  def oracle(seed: Long, rows: Long): Expected = {
    val inWindow = dates.map(d => d >= "1996-01-01" && d < "1997-01-01")
    val c = new Cursor(seed)
    var units = 0L; var n = 0L; var i = 0L
    while (i < rows) {
      c.next()
      if (inWindow(c.dateIdx) && c.discount >= 0.05 && c.discount <= 0.07 &&
          c.quantity < 24) {
        units += BigDecimal(c.price * c.discount * 1e4)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        n += 1
      }
      i += 1
    }
    Expected(units, n)
  }

  /** Self-check of the port: the reference's own query (string-compare
    * 1994 window, plain double sum in stream order) over seed 0 must
    * give the reference's golden result, 1.0316412119370338e8 over
    * 95,326 rows. Returns an error message, or None. */
  def selfCheck(): Option[String] = {
    val inWindow = dates.map(d => d >= "1994-01-01" && d < "1995-01-01")
    val c = new Cursor(0L)
    var revenue = 0.0; var n = 0L; var i = 0L
    while (i < Rows) {
      c.next()
      if (inWindow(c.dateIdx) && c.discount >= 0.05 && c.discount <= 0.07 &&
          c.quantity < 24) {
        revenue += c.price * c.discount
        n += 1
      }
      i += 1
    }
    if (n == 95326L && revenue == 1.0316412119370338e8) None
    else Some(s"generator self-check failed: revenue=$revenue rows=$n, " +
      "expected 1.0316412119370338E8 over 95326 rows")
  }
}
