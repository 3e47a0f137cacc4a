package graft.http

import graft.GraftError.HttpError
import graft.config.{Pagination, Source}
import org.scalatest.funsuite.AnyFunSuite

/** HTTP executor + pagination semantics — reference behaviors from
  * /root/reference/src/datasources.rs:110-268 with the documented
  * divergences (empty-page/end_page termination, config param names). */
class HttpFetcherSpec extends AnyFunSuite {
  private val fetcher = new HttpFetcher()

  test("GET array response flattens to one row per element") {
    StubServer.withServer({
      case ("GET", "/posts", _) => (200, """[{"id":1,"t":"a"},{"id":2,"t":"b"}]""")
    }) { s =>
      val rows = fetcher.fetchRows(Source("posts", s.url("/posts")))
      assert(rows.size == 2)
      assert(rows.head.contains("\"id\":1"))
    }
  }

  test("scalar/object response becomes a single row; POST is allowed") {
    StubServer.withServer({
      case ("POST", "/one", _) => (200, """{"id":7,"name":"x"}""")
    }) { s =>
      val rows = fetcher.fetchRows(Source("one", s.url("/one"), method = "POST"))
      assert(rows == Seq("""{"id":7,"name":"x"}"""))
    }
  }

  test("non-GET/POST method is a typed error (reference whitelist)") {
    val e = intercept[HttpError](fetcher.fetchJson("http://127.0.0.1:1/x", "DELETE"))
    assert(e.getMessage.contains("unsupported HTTP method"))
  }

  test("non-2xx status is a typed error carrying the status") {
    StubServer.withServer({
      case ("GET", "/boom", _) => (503, """{"err":"down"}""")
    }) { s =>
      val e = intercept[HttpError](fetcher.fetchJson(s.url("/boom")))
      assert(e.status == 503)
    }
  }

  test("invalid JSON body is a typed error; empty body is the null sentinel") {
    StubServer.withServer({
      case ("GET", "/bad", _)   => (200, "<html>nope</html>")
      case ("GET", "/empty", _) => (200, "")
    }) { s =>
      assertThrows[HttpError](fetcher.fetchJson(s.url("/bad")))
      assert(fetcher.fetchJson(s.url("/empty")).isNull)
    }
  }

  test("pagination walks start_page..end_page with config param names and concatenates") {
    StubServer.withServer({
      case ("GET", "/items", q) if q.startsWith("p=") =>
        val page = q.split("&")(0).stripPrefix("p=").toInt
        assert(q.endsWith("per_page=2"))
        if (page <= 3) (200, s"""[{"page":$page,"i":1},{"page":$page,"i":2}]""")
        else (200, "null")
    }) { s =>
      val p = Pagination(startPage = 1, endPage = 10, pageSize = 2,
        pageParam = "p", pageSizeParam = "per_page")
      val rows = fetcher.fetchPaginated(s.url("/items"), "GET", p)
      assert(rows.size == 6) // 3 pages × 2 rows; stops at the null page
    }
  }

  test("pagination terminates on an empty page (divergence from reference's null-only)") {
    StubServer.withServer({
      case ("GET", "/e", q) =>
        val page = q.split("&")(0).stripPrefix("page=").toInt
        if (page <= 2) (200, s"""[{"p":$page}]""") else (200, "[]")
    }) { s =>
      val rows = fetcher.fetchPaginated(s.url("/e"), "GET", Pagination())
      assert(rows.size == 2)
    }
  }

  test("pagination respects the end_page bound even when pages keep coming") {
    StubServer.withServer({
      case ("GET", "/inf", _) => (200, """[{"x":1}]""")
    }) { s =>
      val rows = fetcher.fetchPaginated(s.url("/inf"), "GET", Pagination(endPage = 4))
      assert(rows.size == 4)
    }
  }

  test("pageUrl appends with & when the url already has a query string") {
    val p = Pagination()
    assert(fetcher.pageUrl("http://h/x", p, 3) == "http://h/x?page=3&limit=10")
    assert(fetcher.pageUrl("http://h/x?k=v", p, 3) == "http://h/x?k=v&page=3&limit=10")
  }

  test("5xx retries with backoff and succeeds; 4xx fails immediately") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    StubServer.withServer({
      case ("GET", "/flaky", _) =>
        if (calls.incrementAndGet() <= 2) (503, """{"err":"busy"}""")
        else (200, """[{"id":7}]""")
      case ("GET", "/gone", _) => (404, """{"err":"no"}""")
    }) { s =>
      val retrying = new HttpFetcher(backoffMillis = 1L)
      val rows = retrying.fetchRows(Source("flaky", s.url("/flaky")))
      assert(rows.size == 1 && calls.get() == 3,
        s"two 503s then success — got ${calls.get()} calls")
      // a definitive client error must NOT be retried
      val e = intercept[HttpError] {
        retrying.fetchRows(Source("gone", s.url("/gone")))
      }
      assert(e.getMessage.contains("404"))
    }
  }

  test("retries exhausted surfaces the last transient error") {
    StubServer.withServer({
      case ("GET", "/down", _) => (500, """{"err":"down"}""")
    }) { s =>
      val one = new HttpFetcher(maxRetries = 1, backoffMillis = 1L)
      val e = intercept[HttpError] {
        one.fetchRows(Source("down", s.url("/down")))
      }
      assert(e.getMessage.contains("500"))
    }
  }

  test("429 waits Retry-After seconds, capped at the request timeout") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    StubServer.withServer({
      case ("GET", "/soon", _) =>
        if (calls.incrementAndGet() == 1) (429, """{"err":"slow down"}""")
        else (200, """[{"id":7}]""")
      case ("GET", "/later", _) => (429, """{"err":"slow down"}""")
    }, {
      case (("GET", "/soon", _), 429) => Seq("Retry-After" -> "1")
      case (("GET", "/later", _), 429) => Seq("Retry-After" -> "3600")
    }) { s =>
      def secs(f: => Any): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // the header's 1 s replaces the 60 s backoff
      val slowBackoff = new HttpFetcher(backoffMillis = 60000L)
      val waited = secs(assert(slowBackoff.fetchRows(Source("soon", s.url("/soon"))).size == 1))
      assert(calls.get() == 2 && waited >= 1.0 && waited < 30.0, s"waited $waited s")
      // an hour-long Retry-After is capped at the 1 s timeout
      val capped = new HttpFetcher(timeout = java.time.Duration.ofSeconds(1),
        maxRetries = 1, backoffMillis = 60000L)
      val cappedWait = secs(intercept[HttpError](capped.fetchRows(Source("later", s.url("/later")))))
      assert(cappedWait >= 1.0 && cappedWait < 30.0, s"waited $cappedWait s")
    }
  }
}
