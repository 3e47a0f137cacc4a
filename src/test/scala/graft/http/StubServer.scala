package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** In-process HTTP stub (zero-egress test harness, SURVEY.md §5.3):
  * serves canned JSONPlaceholder-shaped payloads on an ephemeral port.
  *
  * Routes are (method, path) → (status, body); a handler can also inspect
  * the query string for pagination tests. `headers` adds response headers
  * given the request and the status its route chose.
  */
final class StubServer(routes: PartialFunction[(String, String, String), (Int, String)],
                       headers: PartialFunction[((String, String, String), Int),
                         Seq[(String, String)]] = PartialFunction.empty) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    val key = (ex.getRequestMethod, ex.getRequestURI.getPath,
      Option(ex.getRequestURI.getQuery).getOrElse(""))
    val (status, body) =
      if (routes.isDefinedAt(key)) routes(key) else (404, """{"error":"not found"}""")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    headers.applyOrElse((key, status), (_: ((String, String, String), Int)) => Nil)
      .foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.start()

  val port: Int = server.getAddress.getPort
  def url(path: String): String = s"http://127.0.0.1:$port$path"
  def stop(): Unit = server.stop(0)
}

object StubServer {
  /** Run a block against a stub, always stopping it. */
  def withServer[A](routes: PartialFunction[(String, String, String), (Int, String)],
                    headers: PartialFunction[((String, String, String), Int),
                      Seq[(String, String)]] = PartialFunction.empty)
                   (f: StubServer => A): A = {
    val s = new StubServer(routes, headers)
    try f(s) finally s.stop()
  }
}
