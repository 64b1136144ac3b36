package perfbench

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One lineitem row. Money is in cents and dates are epoch days, so every
  * reference aggregate is exact integer arithmetic. */
final case class Line(orderkey: Long, linenumber: Int, partkey: Long,
    quantity: Int, price: Long, discount: Int, shipdate: Int,
    returnflag: String, shipmode: String) {
  def key: (Long, Int) = (orderkey, linenumber)
  def toRow: Row = Row(orderkey, linenumber, partkey, quantity, price,
    discount, LocalDate.ofEpochDay(shipdate.toLong), returnflag, shipmode)
  /** Logical (uncompressed, fixed-width) size: the denominator of
    * `storage_amp`. */
  def logicalBytes: Long = 8 + 4 + 8 + 4 + 8 + 4 + 4 + returnflag.length + shipmode.length
}

final case class Order(orderkey: Long, custkey: Long, orderdate: Int,
    priority: String) {
  def toRow: Row = Row(orderkey, custkey, LocalDate.ofEpochDay(orderdate.toLong),
    priority)
  def logicalBytes: Long = 8 + 8 + 4 + priority.length
}

/** Seeded TPC-H-shaped generator. Order dates rise with the order key, and
  * ship dates follow order dates by 1–121 days, so a year partition of
  * lineitem also bounds its order keys: point reads on `l_orderkey` are
  * pruned by partition and by column metrics, as on real TPC-H data. */
object Data {
  val Epoch0: Int = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  val DaySpan = 2400 // order dates 1992-01-01 .. ~1998-07
  val Flags = Array("A", "N", "R")
  val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType),
    StructField("l_quantity", IntegerType),
    StructField("l_price", LongType),
    StructField("l_discount", IntegerType),
    StructField("l_shipdate", DateType),
    StructField("l_returnflag", StringType),
    StructField("l_shipmode", StringType)))

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType)))

  /** Lines for orders `firstKey until firstKey + nOrders`, with order dates
    * spread over `[day0, day0 + span)`. */
  def lines(rnd: java.util.Random, firstKey: Long, nOrders: Int,
      day0: Int = Epoch0, span: Int = DaySpan): (Seq[Order], Seq[Line]) = {
    val orders = ArrayBuffer[Order]()
    val out = ArrayBuffer[Line]()
    var i = 0
    while (i < nOrders) {
      val ok = firstKey + i
      val odate = day0 + (i.toLong * span / nOrders).toInt + rnd.nextInt(3)
      orders += Order(ok, 1L + rnd.nextInt(5000), odate,
        Priorities(rnd.nextInt(Priorities.length)))
      val n = 1 + rnd.nextInt(7)
      var ln = 1
      while (ln <= n) {
        val qty = 1 + rnd.nextInt(50)
        out += Line(ok, ln, 1L + rnd.nextInt(20000), qty,
          qty.toLong * (90000L + rnd.nextInt(110000)) / 10, rnd.nextInt(11),
          odate + 1 + rnd.nextInt(121), Flags(rnd.nextInt(Flags.length)),
          Modes(rnd.nextInt(Modes.length)))
        ln += 1
      }
      i += 1
    }
    (orders.toSeq, out.toSeq)
  }

  def lineFrame(spark: SparkSession, rows: Seq[Line]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.toRow): _*), lineSchema)

  def orderFrame(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.toRow): _*), orderSchema)

  def date(day: Int): String = LocalDate.ofEpochDay(day.toLong).toString

  /** (count, sum(price), sum(quantity)) — the checked shape of every scan. */
  final case class Agg(count: Long, price: Long, qty: Long) {
    override def toString: String = s"count=$count price=$price qty=$qty"
  }
  def agg(rows: Iterable[Line]): Agg = {
    var c, p, q = 0L
    rows.foreach { l => c += 1; p += l.price; q += l.quantity }
    Agg(c, p, q)
  }
  /** Reads the (count, sum, sum) row a scan returns; sums are NULL on an
    * empty input. */
  def agg(r: Row): Agg = {
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue
    Agg(l(0), l(1), l(2))
  }

  def check[T](what: String, expected: T, actual: T): Option[String] =
    if (expected == actual) None else Some(s"$what: expected $expected, got $actual")
}
