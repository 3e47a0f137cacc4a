package graft.http // for private[http] pageUrl access

import graft.config.{Pagination, Source}
import graft.connector.HttpTableProvider
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import scala.jdk.CollectionConverters._

/** SURVEY §5.4 property layer: however a row stream is split into pages,
  * the pagination loop reassembles exactly the original sequence (and
  * honors end_page truncation). One shared stub server; each case swaps
  * the served pages. A `Source` also survives the trip through the
  * `format("http")` reader options that `HttpTables` passes it as. */
object PaginationProps extends Properties("Pagination") {

  @volatile private var pages: Vector[String] = Vector.empty
  private val server = new StubServer({
    case ("GET", "/rows", q) =>
      val p = q.split("&").collectFirst {
        case kv if kv.startsWith("page=") => kv.stripPrefix("page=").toInt
      }.getOrElse(1)
      if (p >= 1 && p <= pages.length) (200, pages(p - 1)) else (200, "[]")
  })
  sys.addShutdownHook(server.stop())

  private val fetcher = new HttpFetcher()

  private val genRows: Gen[List[Long]] = Gen.listOf(Gen.long)
  private val genSize: Gen[Int] = Gen.chooseNum(1, 7)

  private def serve(rows: List[Long], per: Int): Unit =
    pages = rows.grouped(per)
      .map(g => g.map(v => s"""{"v":$v}""").mkString("[", ",", "]"))
      .toVector

  property("any page split concatenates back to the original rows") =
    forAll(genRows, genSize) { (rows, per) =>
      serve(rows, per)
      val got = fetcher.fetchPaginated(server.url("/rows"), "GET",
        Pagination(startPage = 1, endPage = 1000, pageSize = per))
      got == rows.map(v => s"""{"v":$v}""")
    }

  property("end_page truncates to at most end_page pages") =
    forAll(genRows, genSize, Gen.chooseNum(1, 5)) { (rows, per, endPage) =>
      serve(rows, per)
      val got = fetcher.fetchPaginated(server.url("/rows"), "GET",
        Pagination(startPage = 1, endPage = endPage, pageSize = per))
      val expected = rows.take(per * endPage).map(v => s"""{"v":$v}""")
      got == expected
    }

  property("start_page skips earlier pages") =
    forAll(genRows.suchThat(_.nonEmpty), genSize, Gen.chooseNum(1, 4)) {
      (rows, per, start) =>
        serve(rows, per)
        val got = fetcher.fetchPaginated(server.url("/rows"), "GET",
          Pagination(startPage = start, endPage = 1000, pageSize = per))
        val expected = rows.drop(per * (start - 1)).map(v => s"""{"v":$v}""")
        got == expected
    }

  property("pageUrl keeps raw urls intact under encoding-hostile params") =
    forAll(Gen.oneOf("p age", "a&b", "x=y", "plain", "ü"), Gen.chooseNum(1, 99)) {
      (param, page) =>
        val u = fetcher.pageUrl(
          "http://h/x", Pagination(pageParam = param), page)
        // exactly one '?','=' count consistent: encoded params add no raw
        // separators beyond the two key=value pairs
        Prop.all(
          u.count(_ == '?') == 1,
          u.count(_ == '=') == 2,
          u.count(_ == '&') == 1,
          !u.contains(' '))
    }

  private val genParam: Gen[String] = Gen.oneOf(
    Gen.oneOf("p age", "a&b", "x=y", "k = v & w", "page"), Arbitrary.arbitrary[String])
  private val genPagination: Gen[Pagination] = for {
    start <- Arbitrary.arbitrary[Int]
    end <- Arbitrary.arbitrary[Int]
    size <- Arbitrary.arbitrary[Int]
    pageParam <- genParam
    sizeParam <- genParam
  } yield Pagination(start, end, size, pageParam, sizeParam)
  private val genSource: Gen[Source] = for {
    name <- Gen.identifier
    url <- Gen.oneOf("http://h/x", "http://h/x?k=v&a=b", "https://h:8443/a b")
    method <- Gen.oneOf("GET", "POST")
    pagination <- Gen.option(genPagination)
  } yield Source(name, url, method, pagination) // sql is not a reader option

  property("reader options round-trip a Source") = forAll(genSource) { src =>
    val opts = new CaseInsensitiveStringMap(HttpTableProvider.options(src).asJava)
    HttpTableProvider.toSource(opts) == src
  }
}
