package perfbench

import graft.config.YamlConfig
import org.apache.spark.sql.{Row, SparkSession}
import scala.util.Random

final case class Ctx(spark: SparkSession, stub: Stub, tracer: Tracer)

/** One op of a pass: which statement to run. */
final case class Op(stmt: Int)

trait Workload {
  def tables: Seq[Table]
  /** JSON rows the program registers in one pass. */
  def rowsPerPass: Long
  /** The program's part of set-up: registrations and warm-up. */
  def setup(c: Ctx): Unit
  /** Seconds one pass took on the reference host (4 vCPU at 2.0 GHz); a
    * run measures `passes(seconds)` passes, so every run of a workload has
    * the same op count and its percentiles are the same order statistics. */
  def nominalPassS: Double
  def passes(seconds: Double): Int = math.max(2, math.round(seconds / nominalPassS).toInt)
  /** The fixed op list of one pass, in an order drawn from `rnd`. */
  def pass(rnd: Random): Seq[Op]
  /** One timed op; returns every answer it collected. */
  def run(op: Op, c: Ctx): Seq[Array[Row]]
  /** SQL whose answers the ops must reproduce, by statement index. */
  def statements: Seq[Seq[String]]

  private var expected: Seq[Seq[Array[Row]]] = Nil

  /** Runs the same SQL over parquet copies of the tables, in a separate
    * session so its views do not shadow the program's. */
  def expect(spark: SparkSession, dir: String): Unit = {
    val s = spark.newSession()
    tables.foreach { t =>
      val path = s"$dir/${t.name}"
      s.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path).createOrReplaceTempView(t.name)
    }
    expected = statements.map(_.map(sql => s.sql(sql).collect()))
  }

  def check(op: Op, answers: Seq[Array[Row]]): Boolean = {
    val want = expected(op.stmt)
    want.size == answers.size && want.zip(answers).forall { case (a, b) => Answers.same(a, b) }
  }
}

object Workload {
  val names: Seq[String] = Seq("http_bulk", "http_adhoc")

  val q1: String = "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
    "sum(l_extendedprice) AS sum_base_price, " +
    "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, " +
    "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, " +
    "avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price, " +
    "avg(l_discount) AS avg_disc, count(*) AS count_order FROM lineitem " +
    "WHERE l_shipdate <= '1998-09-02' GROUP BY l_returnflag, l_linestatus " +
    "ORDER BY l_returnflag, l_linestatus"

  val q4: String = "SELECT o_orderpriority, count(*) AS order_count FROM orders " +
    "WHERE o_orderdate >= '1993-07-01' AND o_orderdate < '1993-10-01' AND EXISTS (" +
    "SELECT * FROM lineitem WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate) " +
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"

  val adhoc: Seq[String] = Seq(
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem " +
      "WHERE l_quantity = 7 AND l_shipmode = 'AIR'",
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
      "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10",
    "SELECT count(*) AS n, min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship, " +
      "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price FROM lineitem",
    q1,
    "SELECT o_orderkey, o_orderdate, sum(l_extendedprice * (1 - l_discount)) AS revenue " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_orderpriority = '1-URGENT' " +
      "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10",
    "SELECT l_shipmode, l_orderkey, l_linenumber, rk FROM (SELECT l_shipmode, l_orderkey, " +
      "l_linenumber, rank() OVER (PARTITION BY l_shipmode ORDER BY l_extendedprice DESC, " +
      "l_orderkey, l_linenumber) AS rk FROM lineitem) WHERE rk <= 3")

  def apply(name: String, seed: Long): Workload = name match {
    case "http_bulk" =>
      val (o, l) = Data.generate(seed, 6000, 20000)
      new ConfigRuns(Seq(
        new Table("lineitem", Data.lineSchema, l, 5000) -> q1,
        new Table("orders", Data.orderSchema, o, 5000) -> q4),
        opsPerPass = 4, warmups = 3, nominalPassS = 5.0)
    case "http_adhoc" =>
      val (o, l) = Data.generate(seed, 6000, 20000)
      new Adhoc(Seq(new Table("lineitem", Data.lineSchema, l, 5000),
        new Table("orders", Data.orderSchema, o, 5000)), reps = 2, warmups = 2, nominalPassS = 2.8)
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload: $other (one of ${names.mkString(", ")})")
  }
}

/** Ops that each run a whole YAML config: `YamlConfig.parse` →
  * `graft.Main.run` (fetch, infer, cache, register, plan) → collect every
  * answer. Set-up warms up with `warmups` ops. */
final class ConfigRuns(sources: Seq[(Table, String)], opsPerPass: Int,
                       warmups: Int, val nominalPassS: Double) extends Workload {
  val tables: Seq[Table] = sources.map(_._1)
  val rowsPerPass: Long = opsPerPass.toLong * tables.map(_.rows.length).sum
  val statements: Seq[Seq[String]] = Seq(sources.map(_._2))

  private var yaml: String = _

  def setup(c: Ctx): Unit = {
    yaml = sources.map { case (t, sql) =>
      s"""  - name: ${t.name}
         |    url: ${c.stub.url(t.name)}
         |    pagination: {start_page: 1, end_page: ${t.pages.length + 100}, page_size: ${t.pageSize}}
         |    sql: "$sql"""".stripMargin
    }.mkString("sources:\n", "\n", "\n")
    (1 to warmups).foreach(_ => run(Op(0), c))
  }

  def pass(rnd: Random): Seq[Op] = Seq.fill(opsPerPass)(Op(0))

  def run(op: Op, c: Ctx): Seq[Array[Row]] = {
    val cfg = c.tracer.span("config.parse")(YamlConfig.parse(yaml))
    val frames = c.tracer.span("ingest.register")(graft.Main.run(c.spark, cfg))
    frames.map { case (_, df) =>
      c.tracer.span("sql.plan")(df.queryExecution.executedPlan)
      c.tracer.span("sql.exec")(df.collect())
    }
  }
}

/** Tables registered once through `spark.read.format("http")` (snapshot
  * mode); each op is one statement of [[Workload.adhoc]]. A pass runs every
  * statement `reps` times; set-up warms up with `warmups` rounds of them. */
final class Adhoc(val tables: Seq[Table], reps: Int, warmups: Int,
                  val nominalPassS: Double) extends Workload {
  val rowsPerPass = 0L
  val statements: Seq[Seq[String]] = Workload.adhoc.map(Seq(_))

  def setup(c: Ctx): Unit = {
    tables.foreach { t =>
      c.tracer.span("ingest.register") {
        c.spark.read.format("http")
          .option("url", c.stub.url(t.name))
          .option("name", t.name)
          .option("page_size", t.pageSize.toLong)
          .option("end_page", t.pages.length + 100L)
          .load().createOrReplaceTempView(t.name)
      }
    }
    for (_ <- 1 to warmups; i <- statements.indices) run(Op(i), c)
  }

  def pass(rnd: Random): Seq[Op] =
    rnd.shuffle(Seq.fill(reps)(statements.indices).flatten).map(Op(_))

  def run(op: Op, c: Ctx): Seq[Array[Row]] = {
    val df = c.tracer.span("sql.plan") {
      val d = c.spark.sql(statements(op.stmt).head)
      d.queryExecution.executedPlan
      d
    }
    Seq(c.tracer.span("sql.exec")(df.collect()))
  }
}

/** Answer comparison: same rows in any order; doubles agree to a relative
  * 1e-9, everything else exactly. */
object Answers {
  private val tol = 1e-9

  private def sortKey(r: Row): String =
    r.toSeq.map { case _: Double => ""; case v => String.valueOf(v) }.mkString("\u0001")

  private def eq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= tol * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  def same(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.sortBy(sortKey).zip(b.sortBy(sortKey)).forall {
      case (x, y) => x.length == y.length && (0 until x.length).forall(i => eq(x.get(i), y.get(i)))
    }
}
