package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Load generator: a JDK `HttpServer` answering from page bodies that
  * were rendered before it started, on at most `threads` handler
  * threads. It counts requests, bytes, peak in-flight requests and
  * handler busy time, and answers the first attempt at each page the
  * generator marks with a 503.
  */
final class PageServer(threads: Int) {

  @volatile private var gen: LoadGen = _
  @volatile private var pages: Array[Array[Byte]] = Array.empty

  /** Render every page body of `g` and serve them from now on; the
    * set-up cost the benchmark times.
    */
  def load(g: LoadGen): Unit = {
    pages = g.renderPaged()
    gen = g
  }

  val requests = new AtomicLong
  val retried = new AtomicLong
  val bytes = new AtomicLong
  val busyNs = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  private val attempted = ConcurrentHashMap.newKeySet[Int]()
  private val served = ConcurrentHashMap.newKeySet[Int]()

  /** Zero the counters and forget which pages were attempted, so every
    * pipeline run sees the same 503s.
    */
  def resetRun(): Unit = {
    Seq(requests, retried, bytes, busyNs).foreach(_.set(0))
    inflightMax.set(0)
    attempted.clear()
    served.clear()
  }

  def distinctPagesServed: Long = served.size.toLong

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads,
    new ThreadFactory {
      private val n = new AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"perfbench-http-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
  // the JDK server writes headers and body separately; without
  // TCP_NODELAY, Nagle's algorithm and the client's delayed ACK add
  // ~40 ms to every response, which would make the generator, not the
  // client, the bottleneck. Read once, when the server implementation
  // first loads.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  // a page key is the 1-based page number; 0 is any page out of range
  server.createContext("/events", ex => handle(ex, params =>
    params.get("page").map(_.toInt).filter(p => p >= 1 && p <= gen.pages)
      .map(p => (p, pages(p - 1))).getOrElse((0, gen.emptyPaged))))

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/events"

  private def handle(ex: HttpExchange,
      body: Map[String, String] => (Int, Array[Byte])): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, (a: Int, b: Int) => math.max(a, b))
    try {
      requests.incrementAndGet()
      val (page, bytesOut) = body(query(ex))
      val (status, out) =
        if (gen.failsFirst(page) && attempted.add(page)) {
          retried.incrementAndGet()
          (503, "busy".getBytes(UTF_8))
        } else {
          served.add(page)
          (200, bytesOut)
        }
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, out.length.toLong)
      ex.getResponseBody.write(out)
      bytes.addAndGet(out.length.toLong)
    } finally {
      ex.close()
      inflight.decrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
}
