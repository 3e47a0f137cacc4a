package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** What the stub saw during one op. */
final class HttpStats {
  val requests = new AtomicLong
  val retries = new AtomicLong   // requests for a page this op already asked for
  val bytes = new AtomicLong
  val inflightMax = new AtomicInteger
  val okPages: java.util.Set[(String, Int)] = ConcurrentHashMap.newKeySet[(String, Int)]()
  /** In-flight intervals, System.nanoTime; recorded only when traced. */
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]
}

/** The benchmark's HTTP server: serves pre-rendered pages of each table at
  * `/<table>?page=N&limit=M`; pages past the last answer `[]`. It runs at
  * most `threads` handler threads and sets TCP_NODELAY on accepted sockets
  * (`sun.net.httpserver.nodelay`, set by [[Main]] before the server class
  * loads): without it every response waits ~40 ms on Nagle plus delayed
  * ACK, and the benchmark would time its own server. */
final class Stub(tables: Seq[Table], threads: Int) {
  private val byName = tables.map(t => t.name -> t).toMap
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-stub"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val inflight = new AtomicInteger

  @volatile private var stats = new HttpStats
  @volatile private var traced = false
  private val asked: java.util.Set[(String, Int)] = ConcurrentHashMap.newKeySet[(String, Int)]()

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val port: Int = server.getAddress.getPort
  def url(table: String): String = s"http://127.0.0.1:$port/$table"

  /** Starts counting a new op; `trace` records request intervals. */
  def begin(trace: Boolean): HttpStats = {
    asked.clear()
    traced = trace
    stats = new HttpStats
    stats
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val st = stats
    val now = inflight.incrementAndGet()
    st.inflightMax.accumulateAndGet(now, math.max)
    try {
      val name = ex.getRequestURI.getPath.stripPrefix("/")
      val q = Option(ex.getRequestURI.getQuery).getOrElse("").split('&')
        .flatMap(_.split('=') match { case Array(k, v) => Some(k -> v); case _ => None }).toMap
      val page = q.get("page").map(_.toInt)
      st.requests.incrementAndGet()
      (byName.get(name), page) match {
        case (Some(t), Some(p)) if q.get("limit").contains(t.pageSize.toString) =>
          val key = (name, p)
          if (!asked.add(key)) st.retries.incrementAndGet()
          val body = if (p >= 1 && p <= t.pages.length) t.pages(p - 1) else "[]".getBytes
          if (body.length > 2) st.okPages.add(key)
          st.bytes.addAndGet(body.length)
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body)
        case _ => ex.sendResponseHeaders(404, -1)
      }
    } finally {
      ex.close()
      inflight.decrementAndGet()
      if (traced) st.intervals.add((t0, System.nanoTime()))
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}
