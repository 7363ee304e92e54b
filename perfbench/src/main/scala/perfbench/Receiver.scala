package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the external API the HTTP sink posts to: a JDK
  * `HttpServer` on the loopback interface that records every request
  * (idempotency key, body, arrival time) and answers 200. One handler
  * thread, so the receiver fits in the benchmark's thread budget. */
final class Receiver(clock0Nanos: Long) {
  case class Hit(key: String, body: String, recvNanos: Long)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newFixedThreadPool(1)
  val hits = new ConcurrentLinkedQueue[Hit]()
  val requests = new AtomicLong(0L)
  val handlerNanos = new AtomicLong(0L)

  server.createContext("/events", (ex: HttpExchange) => {
    val t = System.nanoTime()
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val key = ex.getRequestHeaders.getFirst("Idempotency-Key")
    hits.add(Hit(key, body, t - clock0Nanos))
    ex.sendResponseHeaders(200, -1)
    ex.close()
    requests.incrementAndGet()
    handlerNanos.addAndGet(System.nanoTime() - t)
    ()
  })
  server.setExecutor(pool)
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/events"

  /** Number of distinct idempotency keys received so far. */
  def distinctKeys: Int = {
    val seen = new java.util.HashSet[String]()
    hits.forEach(h => { seen.add(h.key); () })
    seen.size
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}
