package graft.source

import graft.GraftError.EmptyResultError
import graft.SparkSpec
import graft.config.{Pagination, Source}
import graft.http.StubServer
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end register→SQL over the in-process stub server — the E1/E2
  * lifecycle of the reference (/root/reference/src/main.rs:22-49,
  * dataframe.rs:7-24) rebuilt on SparkSession + temp views. */
class HttpTablesSpec extends AnyFunSuite with SparkSpec {

  private val posts =
    """[{"userId":1,"id":1,"title":"a","body":"x"},
      | {"userId":1,"id":2,"title":"b","body":"y"},
      | {"userId":2,"id":3,"title":"c","body":"z"}]""".stripMargin.replace("\n", "")

  test("register + spark.sql aggregate over an HTTP JSON table") {
    StubServer.withServer({ case ("GET", "/posts", _) => (200, posts) }) { s =>
      HttpTables.register(spark, Source("posts", s.url("/posts")))
      val out = spark.sql(
        "SELECT userId, count(*) AS n FROM posts GROUP BY userId ORDER BY userId")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.toSeq == Seq((1L, 2L), (2L, 1L)))
    }
  }

  test("nested objects infer as structs, arrays as arrays (all-rows inference)") {
    val body = """[{"id":1,"geo":{"lat":1.5,"lng":2.5},"tags":["a","b"]},
                 | {"id":2,"geo":{"lat":3.0,"lng":4.0},"tags":[],"extra":true}]"""
      .stripMargin.replace("\n", "")
    StubServer.withServer({ case ("GET", "/n", _) => (200, body) }) { s =>
      val df = HttpTables.load(spark, Source("nested", s.url("/n")))
      // field absent from row 1 still appears (superset of first-record inference)
      assert(df.schema.fieldNames.contains("extra"))
      val row = df.selectExpr("geo.lat", "size(tags)", "id").where("id = 1").head()
      assert(row.getDouble(0) == 1.5 && row.getInt(1) == 2)
    }
  }

  test("empty result raises a typed error instead of panicking (divergence 3)") {
    StubServer.withServer({ case ("GET", "/none", _) => (200, "[]") }) { s =>
      assertThrows[EmptyResultError](
        HttpTables.load(spark, Source("none", s.url("/none"))))
    }
  }

  test("paginated source snapshots all pages then answers SQL") {
    StubServer.withServer({
      case ("GET", "/pg", q) =>
        val page = q.split("&")(0).stripPrefix("page=").toInt
        if (page <= 3) (200, s"""[{"page":$page,"v":${page * 10}}]""")
        else (200, "null")
    }) { s =>
      HttpTables.register(spark,
        Source("pg", s.url("/pg"), pagination = Some(Pagination())))
      val total = spark.sql("SELECT sum(v) AS t FROM pg").head().getLong(0)
      assert(total == 60L)
    }
  }

  test("snapshot semantics: one fetch at registration, nothing cached") {
    var hits = 0
    StubServer.withServer({
      case ("GET", "/c", _) => hits += 1; (200, """[{"x":1}]""")
    }) { s =>
      val df = HttpTables.register(spark, Source("c", s.url("/c")))
      df.count(); df.count()
      spark.sql("SELECT * FROM c").count()
      assert(hits == 1) // driver fetched exactly once
      assert(!df.storageLevel.useMemory && !df.storageLevel.useDisk,
        "registration must not cache the snapshot")
    }
  }

  test("schema drift: a field first seen on page 2 is null on page 1") {
    StubServer.withServer({
      case ("GET", "/drift", q) => q.split("&")(0).stripPrefix("page=").toInt match {
        case 1 => (200, """[{"id":1},{"id":2}]""")
        case 2 => (200, """[{"id":3,"late":"x"}]""")
        case _ => (200, "[]")
      }
    }) { s =>
      val src = Source("drift", s.url("/drift"), pagination = Some(Pagination()))
      val viaRegister = HttpTables.register(spark, src)
      val viaFormat = spark.read.format("http")
        .option("url", src.url).option("paginate", "true").load()
      for (df <- Seq(viaRegister, viaFormat)) {
        assert(df.schema.fieldNames.toSeq == Seq("id", "late"))
        val rows = df.orderBy("id").collect()
          .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
        assert(rows == Seq((1L, None), (2L, None), (3L, Some("x"))))
      }
    }
  }
}
