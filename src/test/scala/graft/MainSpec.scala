package graft

import graft.config.YamlConfig
import graft.http.StubServer
import org.scalatest.funsuite.AnyFunSuite

/** e2e for the config-driven runner (SURVEY N11): YAML → register HTTP
  * sources → run each source's SQL — the full shipped-binary path minus
  * session lifecycle (owned by `main`). */
class MainSpec extends AnyFunSuite with SparkSpec {

  private val userRows = """[{"id":1,"city":"oslo","spend":10.5},
                        | {"id":2,"city":"oslo","spend":4.5},
                        | {"id":3,"city":"bergen","spend":7.0}]"""
    .stripMargin.replaceAll("\n\\s*", "")
  private val tagRows = """[{"id":1,"tag":"a"},{"id":3,"tag":"b"}]"""
  private val routes: PartialFunction[(String, String, String), (Int, String)] = {
    case ("GET", "/users", _) => (200, userRows)
    case ("GET", "/tags", _) => (200, tagRows)
  }
  private def config(srv: StubServer) = YamlConfig.parse(
    s"""sources:
       |  - name: m_users
       |    url: ${srv.url("/users")}
       |    sql: >
       |      SELECT city, COUNT(*) AS n, SUM(spend) AS total
       |      FROM m_users GROUP BY city ORDER BY city
       |  - name: m_tags
       |    url: ${srv.url("/tags")}
       |""".stripMargin)

  test("yaml config end-to-end: two sources, one with SQL, one registered only") {
    StubServer.withServer(routes) { srv =>
      val results = Main.run(spark, config(srv))
      assert(results.map(_._1) == Seq("m_users")) // only sources with sql
      val rows = results.head._2.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("bergen", 1L, 7.0), ("oslo", 2L, 15.0)))
      // the sql-less source is still registered and joinable
      val joined = spark.sql(
        "SELECT t.tag, u.city FROM m_tags t JOIN m_users u ON t.id = u.id ORDER BY t.tag")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(joined == Seq(("a", "oslo"), ("b", "bergen")))
    }
  }

  test("repeated runs leave no cached frames or persisted RDDs behind") {
    StubServer.withServer(routes) { srv =>
      val cfg = config(srv)
      // start from an empty CacheManager: earlier suites' caches are not
      // this spec's subject
      spark.catalog.clearCache()
      val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val answers = (1 to 2).map { run =>
        val got = Main.run(spark, cfg).map(_._2.collect().toSeq)
        assert(cache.isEmpty, s"run $run left CacheManager entries")
        assert(spark.sparkContext.getPersistentRDDs.size == persisted,
          s"run $run left persisted RDDs")
        got
      }
      assert(answers(0) == answers(1))
    }
  }
}
