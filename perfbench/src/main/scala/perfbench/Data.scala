package perfbench

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.util.Random

/** A generated table: its rows (for the parquet copy the answer checks
  * read) and the same rows rendered as JSON pages (what the stub serves).
  * Doubles are generated as whole cents and rendered with two decimals, so
  * the value Jackson parses from a page equals the value in the row. */
final class Table(val name: String, val schema: StructType,
                  val rows: Array[Row], val pageSize: Int) {

  val pages: Array[Array[Byte]] = rows.grouped(pageSize).map { page =>
    val sb = new java.lang.StringBuilder(page.length * 256)
    sb.append('[')
    var i = 0
    while (i < page.length) {
      if (i > 0) sb.append(',')
      Table.renderRow(sb, page(i), schema)
      i += 1
    }
    sb.append(']').toString.getBytes(StandardCharsets.UTF_8)
  }.toArray
}

object Table {
  private def renderRow(sb: java.lang.StringBuilder, r: Row, schema: StructType): Unit = {
    sb.append('{')
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      sb.append('"').append(schema(i).name).append("\":")
      r.get(i) match {
        case d: Double =>
          val cents = math.round(d * 100)
          sb.append(cents / 100).append('.')
          val c = cents % 100
          if (c < 10) sb.append('0')
          sb.append(c)
        case s: String => sb.append('"').append(s).append('"')
        case v => sb.append(v)
      }
      i += 1
    }
    sb.append('}')
  }
}

/** TPC-H-shaped `orders` and `lineitem`, generated from the seed. Each
  * order has 1 to 7 lines; dates are ISO strings, as JSON APIs send them,
  * so the HTTP path and the parquet copy compare them the same way. */
object Data {
  private val epoch = java.time.LocalDate.of(1992, 1, 1)
  private val dates: Array[String] = Array.tabulate(2600)(d => epoch.plusDays(d).toString)
  private val lastOrderDay = 2405 // 1998-08-02, the TPC-H last order date
  private val cutoff = 1263       // 1995-06-17: returnflag/linestatus split
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val words = Array("furiously", "quickly", "carefully", "blithely", "slyly",
    "regular", "express", "final", "pending", "ironic", "bold", "special", "even",
    "silent", "packages", "deposits", "accounts", "requests", "theodolites", "pinto",
    "beans", "foxes", "ideas", "instructions", "asymptotes", "dependencies", "sleep",
    "nag", "haggle", "wake", "cajole", "detect", "integrate", "among", "above")

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", LongType),
    StructField("o_comment", StringType)))

  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", LongType),
    StructField("l_quantity", LongType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", StringType), StructField("l_commitdate", StringType),
    StructField("l_receiptdate", StringType), StructField("l_shipinstruct", StringType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType)))

  private def comment(rnd: Random, min: Int, max: Int): String = {
    val target = min + rnd.nextInt(max - min + 1)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(words(rnd.nextInt(words.length)))
    }
    sb.toString
  }

  /** `orders` rows and exactly `lineRows` lineitem rows (the last order
    * may get fewer lines). */
  def generate(seed: Long, orderRows: Int, lineRows: Int): (Array[Row], Array[Row]) = {
    val rnd = new Random(seed)
    val orders = Array.newBuilder[Row]
    val lines = Array.newBuilder[Row]
    var nLines = 0
    var key = 1
    while (key <= orderRows) {
      val orderDay = rnd.nextInt(lastOrderDay + 1)
      val n = if (nLines >= lineRows) 0 else math.min(1 + rnd.nextInt(7), lineRows - nLines)
      var totalCents = 0L
      var open = 0
      for (ln <- 1 to n) {
        val qty = 1 + rnd.nextInt(50)
        val priceCents = 90000 + rnd.nextInt(110001)
        val ext = qty.toLong * priceCents
        val disc = rnd.nextInt(11)
        val tax = rnd.nextInt(9)
        val ship = orderDay + 1 + rnd.nextInt(121)
        val commit = orderDay + 30 + rnd.nextInt(61)
        val receipt = ship + 1 + rnd.nextInt(30)
        val flag = if (receipt <= cutoff) (if (rnd.nextBoolean()) "R" else "A") else "N"
        val status = if (ship > cutoff) { open += 1; "O" } else "F"
        totalCents += ext * (100 - disc) * (100 + tax) / 10000
        lines += Row(key.toLong, 1L + rnd.nextInt(20000), 1L + rnd.nextInt(1000), ln.toLong,
          qty.toLong, ext / 100.0, disc / 100.0, tax / 100.0, flag, status,
          dates(ship), dates(commit), dates(receipt),
          instructs(rnd.nextInt(instructs.length)), modes(rnd.nextInt(modes.length)),
          comment(rnd, 10, 43))
      }
      nLines += n
      val status = if (n == 0 || open == n) "O" else if (open == 0) "F" else "P"
      orders += Row(key.toLong, 1L + rnd.nextInt(1500), status,
        (if (n == 0) 100000L + rnd.nextInt(10000000) else totalCents) / 100.0,
        dates(orderDay), priorities(rnd.nextInt(priorities.length)),
        f"Clerk#${1 + rnd.nextInt(100)}%09d", 0L, comment(rnd, 19, 78))
      key += 1
    }
    (orders.result(), lines.result())
  }
}
