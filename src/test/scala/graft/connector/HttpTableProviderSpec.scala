package graft.connector

import graft.GraftError.ConfigError
import graft.SparkSpec
import graft.http.StubServer
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** e2e specs for the DSv2 `format("http")` connector: registration by
  * short name, schema inference, values, column-pruned decode (the
  * BatchScan's readSchema must shrink to the projection), pagination
  * options, and nested/array decode. Projection is the only pushdown:
  * filter, limit, top-N and aggregate specs check their answers and that
  * the scan still holds the whole snapshot. */
class HttpTableProviderSpec extends AnyFunSuite with SparkSpec {

  private val users =
    """[{"id":1,"name":"ann","score":9.5,"active":true,
      |  "address":{"city":"oslo","zip":"0150"},"tags":["a","b"]},
      | {"id":2,"name":"bob","score":7.25,"active":false,
      |  "address":{"city":"bergen","zip":"5003"},"tags":[]},
      | {"id":3,"name":"cyd","score":8.0,"active":true,
      |  "address":{"city":"oslo","zip":"0151"},"tags":["c"]}]"""
      .stripMargin.replaceAll("\n\\s*", "")

  private def scanOf(df: org.apache.spark.sql.DataFrame): HttpScan =
    df.queryExecution.sparkPlan.collectFirst { // pre-AQE: sees below exchanges
      case b: BatchScanExec => b.scan.asInstanceOf[HttpScan]
    }.getOrElse(fail("no BatchScanExec in plan"))

  /** The scan behind `df`, after asserting it holds all three fixture
    * rows and decodes exactly `cols`. */
  private def wholeSnapshot(df: org.apache.spark.sql.DataFrame, cols: Set[String]): HttpScan = {
    val scan = scanOf(df)
    assert(scan.planInputPartitions()
      .map(_.asInstanceOf[HttpInputPartition].rows.length).sum == 3,
      s"scan must hold the whole snapshot: ${scan.description()}")
    assert(scan.readSchema().fieldNames.toSet == cols,
      s"scan decodes ${scan.readSchema().catalogString}")
    scan
  }

  test("format(\"http\") resolves by short name, infers schema, reads values") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      assert(df.schema.fieldNames.sorted.toSeq ==
        Seq("active", "address", "id", "name", "score", "tags"))
      val rows = df.selectExpr("id", "name", "score", "active", "address.city")
        .orderBy("id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getBoolean(3), r.getString(4))).toSeq ==
        Seq((1L, "ann", 9.5, true, "oslo"), (2L, "bob", 7.25, false, "bergen"),
          (3L, "cyd", 8.0, true, "oslo")))
    }
  }

  test("projection is pushed into the scan: readSchema shrinks to selected columns") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .select("id", "name")
      val scan = scanOf(df)
      assert(scan.readSchema().fieldNames.toSet == Set("id", "name"),
        s"scan decodes ${scan.readSchema().catalogString}")
      assert(df.orderBy("id").collect().map(_.getString(1)).toSeq ==
        Seq("ann", "bob", "cyd"))
    }
  }

  test("global count/min/max run in Spark over a pruned scan") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.col("score")).as("ns"),
          org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("score")).as("mn"),
          org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("name")).as("mx"))
      assert(df.queryExecution.executedPlan.toString.contains("Aggregate("))
      wholeSnapshot(df, Set("score", "name"))
      val r = df.collect().head
      assert(r.getAs[Long]("n") == 3L)
      assert(r.getAs[Long]("ns") == 3L)
      assert(r.getAs[Double]("mn") == 7.25)
      assert(r.getAs[String]("mx") == "cyd")
    }
  }

  test("aggregate pushdown declines grouped, distinct, and filtered aggregations (exactness guard)") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      def load() = spark.read.format("http").option("url", srv.url("/users")).load()
      import org.apache.spark.sql.functions._
      // grouped: stays a real aggregate, values still correct
      val g = load().groupBy("active").agg(count(lit(1)).as("n")).orderBy("active")
      assert(g.queryExecution.executedPlan.toString.contains("HashAggregate"))
      assert(g.collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq ==
        Seq((false, 1L), (true, 2L)))
      // count distinct: declined
      val d = load().agg(countDistinct(col("active")).as("n"))
      assert(d.queryExecution.executedPlan.toString.contains("HashAggregate"))
      assert(d.collect().head.getLong(0) == 2L)
      // filtered: Spark filters, then aggregates; result exact
      val f = load().filter(col("score") > 7.5).agg(count(lit(1)).as("n"))
      wholeSnapshot(f, Set("score"))
      assert(f.collect().head.getLong(0) == 2L)
    }
  }

  test("array and nested struct columns decode; empty array stays empty") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      val tags = df.selectExpr("id", "size(tags) AS n", "address.zip")
        .orderBy("id").collect()
      assert(tags.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
        Seq((1L, 2, "0150"), (2L, 0, "5003"), (3L, 1, "0151")))
    }
  }

  test("pagination options drive the page loop and terminate on empty page") {
    val page = (n: Int) => s"""[{"page":$n,"v":${n * 10}}]"""
    StubServer.withServer({
      case ("GET", "/items", q) if q.contains("p=1") => (200, page(1))
      case ("GET", "/items", q) if q.contains("p=2") => (200, page(2))
      case ("GET", "/items", q) if q.contains("p=") => (200, "[]")
    }) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/items"))
        .option("paginate", "true")
        .option("page_param", "p").option("page_size", "1")
        .load()
      assert(df.orderBy("page").collect().map(_.getAs[Long]("v")).toSeq ==
        Seq(10L, 20L))
    }
  }

  test("filters run in Spark above a pruned full-snapshot scan") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .filter("active = true AND score > 8.0").select("name")
      wholeSnapshot(df, Set("active", "score", "name"))
      // only ann (score 9.5, active) survives Spark's Filter
      assert(df.collect().map(_.getString(0)).toSeq == Seq("ann"))
    }
  }

  test("string and IN filters prune; unsupported filters fall back safely") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      def load() = spark.read.format("http").option("url", srv.url("/users")).load()
      val starts = load().filter("name LIKE 'b%'").select("id")
      wholeSnapshot(starts, Set("name", "id"))
      assert(starts.collect().map(_.getLong(0)).toSeq == Seq(2L))
      val in = load().filter("id IN (1, 3)").select("id")
      wholeSnapshot(in, Set("id"))
      assert(in.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
      val arith = load().filter("id + 1 = 3").select("id")
      wholeSnapshot(arith, Set("id"))
      assert(arith.collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("filter pruning every row yields an empty result, not a crash") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .filter("score > 1000.0").select("name")
      wholeSnapshot(df, Set("score", "name"))
      assert(df.collect().isEmpty)
    }
  }

  test("IN over a type-widened column keeps rows (uncertainty never drops)") {
    // mixed number/string values widen the column to string at inference;
    // decode must render the numeric-typed JSON nodes as their text
    val mixed = """[{"id":5},{"id":"7"},{"id":9}]"""
    StubServer.withServer({ case ("GET", "/m", _) => (200, mixed) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/m")).load()
      assert(df.schema("id").dataType.typeName == "string")
      val in = df.filter("id IN ('5', '7')").select("id")
      wholeSnapshot(in, Set("id"))
      val got = in.collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("5", "7"))
    }
  }

  test("limit runs in Spark above a full-snapshot scan") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .select("id").limit(2)
      wholeSnapshot(df, Set("id"))
      assert(df.count() == 2)
    }
  }

  test("top-N sorts in Spark above a full-snapshot scan") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      import org.apache.spark.sql.functions.col
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
        .orderBy(col("score").desc).limit(2).select("name")
      wholeSnapshot(df, Set("score", "name"))
      assert(df.collect().map(_.getAs[String]("name")).toSeq == Seq("ann", "cyd"))
    }
  }

  test("top-N pushdown declines multi-key and nested-key sorts but results stay correct") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      import org.apache.spark.sql.functions.col
      def load() = spark.read.format("http").option("url", srv.url("/users")).load()
      val multi = load().orderBy(col("active").desc, col("score")).limit(2)
        .select("name")
      wholeSnapshot(multi, Set("active", "score", "name"))
      assert(multi.collect().map(_.getAs[String]("name")).toSeq == Seq("cyd", "ann"))
      val nested = load().orderBy(col("address.city")).limit(1).select("name")
      wholeSnapshot(nested, Set("address", "name"))
      assert(nested.collect().map(_.getAs[String]("name")).toSeq == Seq("bob"))
    }
  }

  test("missing url option is a typed config error") {
    val e = intercept[ConfigError] {
      HttpTableProvider.toSource(new CaseInsensitiveStringMap(Map.empty[String, String].asJava))
    }
    assert(e.getMessage.contains("url"))
  }

  test("snapshot partitions split across parallelism but never exceed row count") {
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      val parts = scanOf(df).planInputPartitions()
      assert(parts.length >= 1 && parts.length <= 3)
      assert(parts.map(_.asInstanceOf[HttpInputPartition].rows.length).sum == 3)
    }
  }

  test("scan reports snapshot statistics; a small http dim broadcasts unhinted") {
    import spark.implicits._
    StubServer.withServer({ case ("GET", "/users", _) => (200, users) }) { srv =>
      val df = spark.read.format("http").option("url", srv.url("/users")).load()
      // exact row count + a pruning-aware size estimate
      val st = scanOf(df.select($"id")).estimateStatistics()
      assert(st.numRows().getAsLong == 3L)
      assert(st.sizeInBytes().getAsLong > 0)
      val full = scanOf(df).estimateStatistics().sizeInBytes().getAsLong
      assert(st.sizeInBytes().getAsLong < full,
        "projected scan must report a smaller size than the full scan")
      // join planning consumes the stats: tiny http dim × larger fact →
      // BroadcastHashJoin with NO hint (conservative defaults would SMJ)
      val fact = spark.range(0, 10000).select(($"id" % 3 + 1).as("id"),
        ($"id" * 2).as("v"))
      val joined = fact.join(df.select($"id", $"name"), "id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected stats-driven broadcast of the http side:\n$plan")
    }
  }

  test("micro-batch stream consumes pages incrementally and stops when caught up") {
    val pages: PartialFunction[(String, String, String), (Int, String)] = {
      case ("GET", "/items", q) if q.contains("page=1") =>
        (200, """[{"id":1,"v":"a"},{"id":2,"v":"b"}]""")
      case ("GET", "/items", q) if q.contains("page=2") =>
        (200, """[{"id":3,"v":"c"}]""")
      case ("GET", "/items", _) => (200, "[]") // caught up
    }
    StubServer.withServer(pages) { srv =>
      val stream = spark.readStream.format("http")
        .option("url", srv.url("/items"))
        .option("paginate", "true")
        .option("start_page", "1").option("end_page", "10")
        .load()
      assert(stream.isStreaming)
      val q = stream.writeStream.format("memory")
        .queryName("http_pages").outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("http_pages").collect()
          .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).sorted
        assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
          "all pages must arrive exactly once, then the stream idles")
        // offsets are page numbers: the last batch committed page 2
        assert(q.lastProgress.sources.head.endOffset.contains("2"))
      } finally q.stop()
    }
  }

  test("stream restarts from checkpoint: resumes at the next page, no duplicates") {
    import org.apache.spark.sql.streaming.Trigger
    val grown = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pages: PartialFunction[(String, String, String), (Int, String)] = {
      case ("GET", "/feed", q) if q.contains("page=1") =>
        (200, """[{"id":1},{"id":2}]""")
      case ("GET", "/feed", q) if q.contains("page=2") && grown.get() =>
        (200, """[{"id":3}]""") // page appears between runs
      case ("GET", "/feed", _) => (200, "[]")
    }
    StubServer.withServer(pages) { srv =>
      val out = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
      def runOnce(): Unit = {
        val q = spark.readStream.format("http")
          .option("url", srv.url("/feed")).option("paginate", "true")
          .option("start_page", "1").option("end_page", "10")
          .load()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      assert(spark.read.parquet(out).count() == 2, "first run drains page 1")
      grown.set(true)
      runOnce()
      val ids = spark.read.parquet(out).select("id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L),
        "restart must deliver ONLY the new page — no replays, no gaps")
      runOnce()
      assert(spark.read.parquet(out).count() == 3, "caught up: idempotent")
    }
  }

  // ---- fetch=executor: distributed page-range scan ----

  /** Stub serving `nPages` pages of 2 rows each; records which pages were hit. */
  private def pagedRoutes(nPages: Int,
                          hits: java.util.concurrent.ConcurrentHashMap[Int, Int])
      : PartialFunction[(String, String, String), (Int, String)] = {
    case ("GET", "/docs", q) =>
      val page = q.split('&').collectFirst {
        case kv if kv.startsWith("page=") => kv.drop(5).toInt
      }.getOrElse(0)
      hits.put(page, hits.getOrDefault(page, 0) + 1)
      if (page >= 1 && page <= nPages) {
        val a = (page - 1) * 2 + 1
        (200, s"""[{"id":$a,"pg":$page},{"id":${a + 1},"pg":$page}]""")
      } else (200, "[]")
  }

  test("fetch=executor reads every page without a driver snapshot") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(4, hits)) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/docs"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "6")
        .load()
      // schema resolution touched ONLY page 1 (first-record semantics)
      assert(hits.keySet.asScala.toSet == Set(1),
        s"driver must fetch only page 1 before the action, got $hits")
      val ids = df.select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (1L to 8L),
        "executors must fetch pages 1..4 and stop on the empty page 5")
    }
  }

  test("fetch=executor plans multiple page-range partitions (metadata only)") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(4, hits)) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/docs"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "4")
        .load()
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.asInstanceOf[HttpDistributedScan]
      }.getOrElse(fail("no HttpDistributedScan in plan"))
      val parts = scan.planInputPartitions()
        .map(_.asInstanceOf[HttpPageRangePartition])
      assert(parts.length > 1, "4 pages on local[32] must split into >1 range")
      // contiguous, non-overlapping cover of 1..4
      val covered = parts.flatMap(p => p.fromPage to p.toPage).sorted
      assert(covered.toSeq == Seq(1, 2, 3, 4))
      assert(parts.forall(_.src.url.contains("/docs")),
        "partitions carry config metadata, never rows")
    }
  }

  test("fetch=executor prunes columns at decode; Spark filters rows") {
    val hits = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    StubServer.withServer(pagedRoutes(3, hits)) { srv =>
      val df = spark.read.format("http")
        .option("url", srv.url("/docs"))
        .option("fetch", "executor")
        .option("start_page", "1").option("end_page", "3")
        .load()
        .filter("pg = 2").select("id")
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.asInstanceOf[HttpDistributedScan]
      }.getOrElse(fail("no HttpDistributedScan in plan"))
      assert(scan.readSchema().fieldNames.toSet == Set("id", "pg"),
        "decode prunes to the referenced columns")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    }
  }

  test("fetch=executor without pagination is a typed config error") {
    StubServer.withServer({ case ("GET", "/docs", _) => (200, "[]") }) { srv =>
      val e = intercept[ConfigError] {
        spark.read.format("http")
          .option("url", srv.url("/docs"))
          .option("fetch", "executor")
          .load()
      }
      assert(e.getMessage.contains("pagination"))
    }
  }
}
