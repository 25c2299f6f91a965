package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation => L, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Seeded inputs shaped like the `orders`, `lineitem` and `customer` tables
  * the program's `Tables` loader reads: the same column names and types,
  * timestamps as parquet TIMESTAMP(MICROS) without the adjusted-to-UTC
  * flag. Money columns hold whole cents, so sums cast to DECIMAL(15,2) are
  * exact and the generated rows answer every check by plain arithmetic.
  * Files are written with parquet-hadoop directly: set-up runs no Spark job.
  */
object Gen {

  val FirstMonth = 199501L

  /** The month `i` months after [[FirstMonth]], as yyyymm. */
  def monthAt(i: Int): Long = {
    val m0 = (FirstMonth / 100) * 12 + (FirstMonth % 100 - 1) + i
    (m0 / 12) * 100 + (m0 % 12) + 1
  }

  def pidOf(t: LocalDateTime): Long = t.getYear * 100L + t.getMonthValue

  private def dayIn(pid: Long, rnd: java.util.SplittableRandom): LocalDateTime = {
    val first = LocalDateTime.of((pid / 100).toInt, (pid % 100).toInt, 1, 0, 0)
    first.plusDays(rnd.nextInt(first.toLocalDate.lengthOfMonth()).toLong)
  }

  final case class Order(key: Long, cust: Long, status: String, cents: Long,
      date: LocalDateTime, priority: String)
  final case class Line(order: Long, part: Long, supp: Long, lineNo: Int,
      qty: Int, cents: Long, discount: Int, tax: Int, returnFlag: String,
      lineStatus: String, ship: LocalDateTime)
  final case class Cust(key: Long, name: String, nation: Int, cents: Long,
      segment: String)

  /** Row count and exact cent sum of one money column. */
  final case class Agg(rows: Long, cents: Long) {
    def +(o: Agg): Agg = Agg(rows + o.rows, cents + o.cents)
  }

  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** `months` months of orders, `perMonth` each, keys 0, 1, 2, ... */
  def orders(seed: Long, months: Int, perMonth: Int, customers: Int): IndexedSeq[Order] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 1)
    (0 until months).flatMap { i =>
      val pid = monthAt(i)
      (0 until perMonth).map { j =>
        Order(i.toLong * perMonth + j, rnd.nextLong(customers.toLong),
          "FOP".charAt(rnd.nextInt(3)).toString, rnd.nextLong(90000L, 50000000L),
          dayIn(pid, rnd), Priorities(rnd.nextInt(Priorities.size)))
      }
    }
  }

  /** Line items shipped in `months` months, referencing orders `[0, orderKeys)`. */
  def lineitem(seed: Long, months: Int, perMonth: Int, orderKeys: Long): IndexedSeq[Line] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 2)
    (0 until months).flatMap { i =>
      val pid = monthAt(i)
      (0 until perMonth).map { j =>
        Line(rnd.nextLong(orderKeys), rnd.nextLong(20000L), rnd.nextLong(1000L),
          j % 7 + 1, rnd.nextInt(50) + 1, rnd.nextLong(90000L, 10000000L),
          rnd.nextInt(11), rnd.nextInt(9), "ANR".charAt(rnd.nextInt(3)).toString,
          "OF".charAt(rnd.nextInt(2)).toString, dayIn(pid, rnd))
      }
    }
  }

  def customer(seed: Long, n: Int): IndexedSeq[Cust] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 3)
    (0 until n).map { k =>
      Cust(k.toLong, f"Customer#$k%09d", rnd.nextInt(25),
        rnd.nextLong(-99999L, 999999L), Segments(rnd.nextInt(Segments.size)))
    }
  }

  // ------------------------------------------------------------- writing

  private def ts(name: String) =
    Types.optional(INT64).as(L.timestampType(false, TimeUnit.MICROS)).named(name)
  private def str(name: String) = Types.optional(BINARY).as(L.stringType()).named(name)
  private def i64(name: String) = Types.optional(INT64).named(name)
  private def i32(name: String) = Types.optional(INT32).named(name)
  private def dbl(name: String) = Types.optional(DOUBLE).named(name)

  private val ordersType = new MessageType("spark_schema", i64("o_orderkey"),
    i64("o_custkey"), str("o_orderstatus"), dbl("o_totalprice"), ts("o_orderdate"),
    str("o_orderpriority"))
  private val lineitemType = new MessageType("spark_schema", i64("l_orderkey"),
    i64("l_partkey"), i64("l_suppkey"), i32("l_linenumber"), dbl("l_quantity"),
    dbl("l_extendedprice"), dbl("l_discount"), dbl("l_tax"), str("l_returnflag"),
    str("l_linestatus"), ts("l_shipdate"))
  private val customerType = new MessageType("spark_schema", i64("c_custkey"),
    str("c_name"), i32("c_nationkey"), dbl("c_acctbal"), str("c_mktsegment"))

  private def micros(t: LocalDateTime): Long = {
    val i = t.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Write `rows` as the single parquet file `file`. */
  private def write[T](file: String, schema: MessageType, rows: Seq[T])(
      fill: (org.apache.parquet.example.data.Group, T) => Unit): Unit = {
    Files.createDirectories(Paths.get(file).getParent)
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(file)))
      .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      fill(g, r)
      w.write(g)
    } finally w.close()
  }

  def writeOrders(file: String, rows: Seq[Order]): Unit =
    write(file, ordersType, rows) { (g, o) =>
      g.append("o_orderkey", o.key).append("o_custkey", o.cust)
        .append("o_orderstatus", o.status).append("o_totalprice", o.cents / 100.0)
        .append("o_orderdate", micros(o.date)).append("o_orderpriority", o.priority)
    }

  def writeLineitem(file: String, rows: Seq[Line]): Unit =
    write(file, lineitemType, rows) { (g, l) =>
      g.append("l_orderkey", l.order).append("l_partkey", l.part)
        .append("l_suppkey", l.supp).append("l_linenumber", l.lineNo)
        .append("l_quantity", l.qty.toDouble).append("l_extendedprice", l.cents / 100.0)
        .append("l_discount", l.discount / 100.0).append("l_tax", l.tax / 100.0)
        .append("l_returnflag", l.returnFlag).append("l_linestatus", l.lineStatus)
        .append("l_shipdate", micros(l.ship))
    }

  def writeCustomer(file: String, rows: Seq[Cust]): Unit =
    write(file, customerType, rows) { (g, c) =>
      g.append("c_custkey", c.key).append("c_name", c.name)
        .append("c_nationkey", c.nation).append("c_acctbal", c.cents / 100.0)
        .append("c_mktsegment", c.segment)
    }
}
