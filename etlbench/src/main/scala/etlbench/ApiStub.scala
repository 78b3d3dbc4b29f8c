package etlbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One paginated endpoint of the stub: `mode` is `page_number`
  * (`?page=&per_page=`, JSON bodies) or `limit_offset`
  * (`?limit=&offset=`, NDJSON bodies, an empty page past the end).
  * Pages listed in `failFirst` (1-based) answer 503 to their first
  * request of each run.
  */
final case class Endpoint(path: String, pages: IndexedSeq[Array[Byte]],
    pageSize: Int, mode: String, failFirst: Set[Int] = Set.empty)

/** Loopback API serving pre-rendered page bodies, built to measure the
  * client rather than itself:
  *
  *  - bodies are rendered once, at set-up, into direct buffers (off the
  *    heap, so `live_heap_mb` sees the program, not the stub);
  *  - sockets set TCP_NODELAY: with the JDK server's default, every
  *    response waits out a delayed ACK (~40 ms);
  *  - one server, at most `threads` handler threads.
  *
  * Counters cover one run; [[reset]] starts the next.
  */
final class ApiStub(endpoints: Seq[Endpoint], threads: Int) extends AutoCloseable {

  // read once by the JDK server's config class: must precede create()
  System.setProperty("sun.net.httpserver.nodelay", "true")

  val requests, retries, bytes, busyNanos, inflight, maxInflight = new AtomicLong()

  private final class Served(e: Endpoint) {
    val bodies: IndexedSeq[ByteBuffer] = e.pages.map { b =>
      val d = ByteBuffer.allocateDirect(b.length); d.put(b).flip(); d
    }
    val ok = new AtomicIntegerArray(e.pages.size + 1)
    val attempted = new AtomicIntegerArray(e.pages.size + 1)
  }
  private val served = endpoints.map(e => e.path -> new Served(e)).toMap

  def reset(): Unit = {
    Seq(requests, retries, bytes, busyNanos, inflight, maxInflight).foreach(_.set(0))
    served.values.foreach { s =>
      for (i <- 0 until s.ok.length) { s.ok.set(i, 0); s.attempted.set(i, 0) }
    }
  }

  /** Distinct pages answered 200 since [[reset]]. */
  def distinctPages: Int =
    served.values.map(s => (1 until s.ok.length).count(s.ok.get(_) == 1)).sum

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"api-stub-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(pool)
  endpoints.foreach(e => server.createContext(e.path, (ex: HttpExchange) => handle(e, ex)))
  server.start()

  def url(e: Endpoint): String =
    s"http://127.0.0.1:${server.getAddress.getPort}${e.path}"

  private val chunk = ThreadLocal.withInitial(() => new Array[Byte](1 << 16))

  private def handle(e: Endpoint, ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      val s = served(e.path)
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
        .flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }).toMap
      // 1.. for real pages, 0 past the end (limit_offset)
      val (ix, size) = e.mode match {
        case "page_number" => (q("page").toInt, q("per_page").toInt)
        case _ =>
          val off = q("offset").toLong
          ((if (off >= e.pages.size.toLong * e.pageSize) 0
            else (off / e.pageSize + 1).toInt), q("limit").toInt)
      }
      if (size != e.pageSize || ix < 0 || ix > e.pages.size) send(e, ex, 400, null)
      else if (e.failFirst(ix) && s.attempted.getAndSet(ix, 1) == 0) {
        retries.incrementAndGet()
        send(e, ex, 503, null)
      } else {
        if (ix > 0) s.ok.set(ix, 1)
        send(e, ex, 200, if (ix > 0) s.bodies(ix - 1) else null)
      }
    } finally {
      inflight.decrementAndGet()
      busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  private def send(e: Endpoint, ex: HttpExchange, status: Int, body: ByteBuffer): Unit = {
    ex.getResponseHeaders.set("Content-Type",
      if (e.mode == "page_number") "application/json" else "application/x-ndjson")
    val b = if (body == null) ByteBuffer.allocate(0) else body.duplicate()
    ex.sendResponseHeaders(status, if (b.remaining == 0) -1 else b.remaining.toLong)
    bytes.addAndGet(b.remaining.toLong)
    val out = ex.getResponseBody
    val buf = chunk.get()
    while (b.hasRemaining) {
      val n = math.min(buf.length, b.remaining)
      b.get(buf, 0, n)
      out.write(buf, 0, n)
    }
    ex.close()
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object ApiStub {
  def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
}
