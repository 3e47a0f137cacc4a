package graft.http

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.GraftError.HttpError
import graft.config.{Pagination, Source}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

/** HTTP request executor + pagination (reference: `data_extraction` at
  * /root/reference/src/datasources.rs:212-268 and the page loop at
  * :119-161).
  *
  * Semantics kept from the reference:
  *   - GET and POST only; any other method is a typed error
  *     (datasources.rs:217-223).
  *   - non-2xx status is an error (datasources.rs:248).
  *   - a JSON `null` body is a terminator sentinel (datasources.rs:259-262).
  *   - array responses flatten to one row per element; scalar/object
  *     responses become a single row (datasources.rs:145-156/177-189).
  *
  * Deliberate divergences (SURVEY.md §7):
  *   - pagination also terminates on an EMPTY page or at `end_page` — the
  *     reference only stops on `null` and loops forever on persistent `[]`
  *     (datasources.rs:139-141), and its shipped main never reaches the
  *     loop at all (main.rs:41).
  *   - page/page-size parameter names come from the `Pagination` config,
  *     implementing the intent of the dead `data_extraction_from_source`
  *     (datasources.rs:286-316) instead of a hard-coded `?page=`.
  *
  * This runs on the DRIVER at registration time (same as the reference's
  * eager fetch, dataframe.rs:14-21): the snapshot is then sliced into
  * scan partitions, so a 1000-executor cluster still only fetches once.
  */
class HttpFetcher(timeout: Duration = Duration.ofSeconds(30),
                  maxRetries: Int = 2,
                  backoffMillis: Long = 200L) {

  private val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(timeout).build()
  private val mapper = new ObjectMapper()

  /** One request → parsed JSON body. `null`/empty body → NullNode.
    *
    * Transient failures — connect/IO errors and 5xx/429 — retry up to
    * `maxRetries` times with exponential backoff (production behavior
    * the reference lacks: its `data_extraction` surfaces the first error,
    * datasources.rs:237-248, so one flaky page kills a whole ingestion).
    * A 429 whose `Retry-After` gives delay-seconds waits that long instead,
    * capped at `timeout`; the HTTP-date form falls back to the backoff.
    * 4xx other than 429 fails immediately: the request itself is wrong
    * and retrying cannot fix it. */
  def fetchJson(url: String, method: String = "GET", body: String = ""): JsonNode = {
    val b = HttpRequest.newBuilder(URI.create(url)).timeout(timeout)
    val req = method.toUpperCase match {
      case "GET"  => b.GET().build()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
      case other  => throw HttpError(s"unsupported HTTP method: $other (only GET/POST)")
    }
    var attempt = 0
    var resp: HttpResponse[String] = null
    var lastErr: HttpError = null
    var delay = 0L
    while (resp == null && attempt <= maxRetries) {
      if (attempt > 0) Thread.sleep(delay)
      attempt += 1
      delay = backoffMillis << (attempt - 1)
      try {
        val r = client.send(req, HttpResponse.BodyHandlers.ofString())
        if (r.statusCode() == 429) retryAfterMillis(r).foreach(delay = _)
        if (r.statusCode() >= 500 || r.statusCode() == 429)
          lastErr = HttpError(s"HTTP ${r.statusCode()} from $url", r.statusCode())
        else resp = r
      } catch {
        case e: Exception =>
          lastErr = HttpError(s"request failed: $url", cause = e)
      }
    }
    if (resp == null) throw lastErr
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw HttpError(s"HTTP ${resp.statusCode()} from $url", resp.statusCode())
    val text = resp.body()
    if (text == null || text.trim.isEmpty) mapper.nullNode()
    else
      try mapper.readTree(text)
      catch { case e: Exception => throw HttpError(s"invalid JSON from $url", cause = e) }
  }

  /** `Retry-After: <delay-seconds>` in millis, capped at `timeout`. */
  private def retryAfterMillis(r: HttpResponse[String]): Option[Long] =
    r.headers().firstValue("Retry-After").toScala
      .flatMap(_.trim.toLongOption).filter(_ >= 0)
      .map(secs =>
        if (Duration.ofSeconds(secs).compareTo(timeout) < 0) secs * 1000L
        else timeout.toMillis)

  /** Flatten a response body into JSON-line rows. */
  def toRows(node: JsonNode): Seq[String] =
    if (node == null || node.isNull) Seq.empty
    else if (node.isArray) node.elements().asScala.map(_.toString).toSeq
    else Seq(node.toString)

  /** Fetch a source's full snapshot: single request, or the bounded
    * pagination loop when `source.pagination` is set. */
  def fetchRows(source: Source): Seq[String] = source.pagination match {
    case None => toRows(fetchJson(source.url, source.method))
    case Some(p) => fetchPaginated(source.url, source.method, p)
  }

  def fetchPaginated(url: String, method: String, p: Pagination): Seq[String] = {
    val rows = Seq.newBuilder[String]
    var page = p.startPage
    var done = false
    while (!done && page <= p.endPage) {
      val node = fetchJson(pageUrl(url, p, page), method)
      val pageRows = toRows(node)
      if (node.isNull || pageRows.isEmpty) done = true  // null OR empty terminates
      else { rows ++= pageRows; page += 1 }
    }
    rows.result()
  }

  /** One page's rows (the unit the streaming source consumes per
    * micro-batch — same URL construction and flatten as the batch loop). */
  def fetchPage(url: String, method: String, p: Pagination, page: Int): Seq[String] =
    toRows(fetchJson(pageUrl(url, p, page), method))

  /** `url?{page_param}={n}&{page_size_param}={size}`, appending with `&`
    * when the url already has a query string (the reference always appends
    * `?page=` — datasources.rs:123-127 — which breaks such urls).
    * Param names are URL-encoded (ADVICE r2): a config value containing
    * space/`&`/`=` must not silently restructure the query string. */
  private[http] def pageUrl(url: String, p: Pagination, page: Int): String = {
    def enc(s: String) =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
    val sep = if (url.contains('?')) '&' else '?'
    s"$url$sep${enc(p.pageParam)}=$page&${enc(p.pageSizeParam)}=${p.pageSize}"
  }
}
