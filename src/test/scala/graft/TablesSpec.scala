package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Loader contract for the driver-generated tables.
  *
  * The driver has regenerated `events.parquet` with a different physical
  * `ts` encoding between rounds (TIMESTAMP(NANOS)-read-as-long through r6,
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) = Spark TIMESTAMP_NTZ from r7).
  * FIXTURES.md promises only `ts: timestamp`, so `Tables.events` must load
  * any of the encodings to the SAME TimestampType result. These specs pin
  * that contract — the dual-encoding test proves the branches agree on
  * identical instants, and the canary test asserts the live testdata's
  * Spark-side types so the next silent regeneration fails ONE named test
  * instead of every downstream events query. */
class TablesSpec extends AnyFunSuite with SparkSpec {

  private val instants = Seq(
    ("2024-03-01 00:00:00.000001", 1L, "click", 1.5),
    ("2024-03-01 12:34:56.789012", 2L, "view", 2.5),
    ("2024-03-02 23:59:59.999999", 3L, "click", 3.5))

  /** Write the same three instants in one of the three encodings Tables
    * must accept, then load through Tables.events. */
  private def writeAndLoad(encoding: String): Seq[Row] = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft-events-$encoding").toString
    val base = instants.toDF("ts_s", "user_id", "event_type", "value")
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("props", lit("{}"))
    val df = encoding match {
      case "nanos-long" =>
        // r≤6 shape: epoch nanos carried in a plain int64 column
        base.withColumn("ts",
          (unix_micros(to_timestamp($"ts_s")) * 1000L).cast(LongType))
      case "ntz-micros" =>
        // r7 shape: isAdjustedToUTC=false micros → Spark TIMESTAMP_NTZ
        base.withColumn("ts", to_timestamp($"ts_s").cast(TimestampNTZType))
      case "utc-micros" =>
        base.withColumn("ts", to_timestamp($"ts_s"))
    }
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
      .select($"ts".cast(StringType), $"user_id", $"event_type", $"value")
      .orderBy("user_id").collect().toSeq
  }

  test("events loads identically from nanos-long, NTZ-micros, and UTC-micros encodings") {
    val nanos = writeAndLoad("nanos-long")
    val ntz = writeAndLoad("ntz-micros")
    val utc = writeAndLoad("utc-micros")
    assert(nanos == ntz, "nanos-long vs NTZ-micros loads diverge")
    assert(ntz == utc, "NTZ-micros vs UTC-micros loads diverge")
    assert(ntz.map(_.getString(0)) ==
      instants.map(_._1), "loaded instants differ from the written ones")
  }

  test("events ts loads as TimestampType regardless of file encoding") {
    for (enc <- Seq("nanos-long", "ntz-micros", "utc-micros")) {
      import spark.implicits._
      val dir = Files.createTempDirectory(s"graft-ts-$enc").toString
      val df = instants.toDF("ts_s", "user_id", "event_type", "value")
        .withColumn("event_id", monotonically_increasing_id())
        .withColumn("props", lit("{}"))
        .withColumn("ts", enc match {
          case "nanos-long" => (unix_micros(to_timestamp($"ts_s")) * 1000L).cast(LongType)
          case "ntz-micros" => to_timestamp($"ts_s").cast(TimestampNTZType)
          case _            => to_timestamp($"ts_s")
        })
      df.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType,
        s"encoding $enc did not normalize ts to TimestampType")
    }
  }

  /** Canary over the LIVE testdata: every table's loaded Spark types.
    * If the driver regenerates a parquet with a new physical encoding,
    * this single test names the divergence before 28 queries go dark. */
  test("testdata canary: all sf0.001 tables load with the contract types") {
    val expected: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Map("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderpriority" -> StringType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType),
      "events" -> Map("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
    val problems = for {
      (table, cols) <- expected.toSeq
      schema = Tables.t(spark, sfDir, table).schema
      (col, want) <- cols.toSeq
      got = schema.find(_.name == col).map(_.dataType)
      if !got.contains(want)
    } yield s"$table.$col: expected $want, got ${got.getOrElse("MISSING")}"
    assert(problems.isEmpty, problems.mkString("; "))
    // date-like columns may legitimately arrive as TIMESTAMP or
    // TIMESTAMP_NTZ micros; require only that they are timestamp-family
    for ((t, c) <- Seq("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")) {
      val dt = Tables.t(spark, sfDir, t).schema(c).dataType
      assert(dt == TimestampType || dt == TimestampNTZType,
        s"$t.$c: expected a timestamp family type, got $dt")
    }
  }

  /** VALUE canary (VERDICT r8 item 5), one level below the type canary:
    * order-independent content digest of every sf0.001 table, pinned.
    * A silent driver regeneration of the testdata now fails HERE with
    * the table's name — DATA drift — instead of surfacing as
    * unexplained oracle-hash mismatches attributed to code. Re-pin via
    * `tools/run.sh graft.tools.Dev digests _ /root/testdata/sf0.001`
    * after any ANNOUNCED testdata change (see TESTDATA.md). */
  test("testdata canary: value-level content digests match the pinned fixture") {
    val pinned = Map(
      "region" -> "2736012084528620336",
      "nation" -> "15886338548276458280",
      "customer" -> "90326776359651293012",
      "supplier" -> "5985731969539773853",
      "part" -> "110527778413955420539",
      "orders" -> "867174293061980389809",
      "lineitem" -> "3446147368182980098735",
      "events" -> "564779384670430261451",
      "documents" -> "289223408762260790844",
      "embeddings" -> "297593812458808418889")
    val drift = Tables.names.flatMap { n =>
      val got = graft.ops.Profile.contentDigest(Tables.t(spark, sfDir, n))
      if (got == pinned(n)) None else Some(s"$n: digest $got != pinned ${pinned(n)}")
    }
    assert(drift.isEmpty,
      s"TESTDATA VALUE DRIFT (regenerated fixture?):\n${drift.mkString("\n")}")
  }

  /** A one-table fixture dir holding `x.parquet` with rows `0 until n`. */
  private def writeX(dir: String, n: Int): Unit =
    spark.range(n).toDF("v").write.mode("overwrite").parquet(s"$dir/x.parquet")

  private def entriesFor(dir: String) =
    Tables.handles.keySet.toArray.toSeq.collect { case k @ (_, d, _) if d == dir => k }

  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-handles-").toString
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a regenerated table replaces its handle entry rather than adding one") {
    withDir { dir =>
      writeX(dir, 3)
      assert(Tables.t(spark, dir, "x").count() == 3)
      assert(Tables.t(spark, dir, "x") eq Tables.t(spark, dir, "x"),
        "an unchanged listing must reuse the handle")
      writeX(dir, 5)
      assert(Tables.t(spark, dir, "x").count() == 5, "regenerated files must give a fresh relation")
      assert(entriesFor(dir).size == 1, s"entries for $dir: ${entriesFor(dir)}")
    }
  }

  test("newSession() never receives another session's handle") {
    withDir { dir =>
      writeX(dir, 2)
      val other = spark.newSession()
      val a = Tables.t(spark, dir, "x")
      val b = Tables.t(other, dir, "x")
      assert(a ne b)
      assert(b.sparkSession eq other)
      assert(entriesFor(dir).size == 2)
    }
  }

  test("the per-file stat of a vanished path yields the absent marker") {
    val gone = Files.createTempFile("graft-vanished-", ".parquet")
    Files.delete(gone)
    assert(Tables.stat(gone) == s"$gone:absent")
  }
}
