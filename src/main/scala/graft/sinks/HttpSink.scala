package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Outbound HTTP notification sink (reference pipeline/app.py:102-108):
  * one POST per enriched row with body {event_id, content_id, event_type}
  * and header `Idempotency-Key: <event_id>`, 1.5 s timeout, errors
  * swallowed (at-most-once per attempt; batch replay re-posts and the
  * receiver dedups on the key — external-api/app.py:6-12).
  *
  * Unlike the reference (driver-side collect + loop), rows are posted from
  * the executors: `postBatch` runs a `foreachPartition`, so at scale the
  * fan-out parallelism is the partition count, the driver never
  * materializes the batch, and a slow receiver back-pressures only its
  * partition. Every partition of every batch posts through ONE pooled
  * HttpClient per executor JVM: a client owns a selector thread and a
  * connection pool, and JDK 17's HttpClient has no `close()`, so a client
  * per partition would leak both and reconnect on every batch. */
object HttpSink {

  /** Global error counter (best-effort observability, like the reference's
    * swallowed exceptions; a production build would use a metrics sink). */
  val errors = new AtomicLong(0L)

  case class Config(endpoint: String, timeoutMs: Int = 1500)

  /** The JVM's shared clients, one per connect timeout (in practice one). */
  private val clients = new ConcurrentHashMap[Int, HttpClient]()

  private def client(cfg: Config): HttpClient =
    clients.computeIfAbsent(cfg.timeoutMs, ms => HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(ms.toLong)).build())

  private def jsonBody(eventId: Long, contentId: String, eventType: String): String = {
    def q(s: String) = if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    s"""{"event_id":$eventId,"content_id":${q(contentId)},"event_type":${q(eventType)}}"""
  }

  private def post(cfg: Config, eventId: Long,
                   contentId: String, eventType: String): Unit =
    try {
      val req = HttpRequest.newBuilder(URI.create(cfg.endpoint))
        .timeout(Duration.ofMillis(cfg.timeoutMs))
        .header("Content-Type", "application/json")
        .header("Idempotency-Key", eventId.toString)
        .POST(HttpRequest.BodyPublishers.ofString(jsonBody(eventId, contentId, eventType)))
        .build()
      client(cfg).send(req, HttpResponse.BodyHandlers.discarding())
      ()
    } catch {
      // swallow only ordinary failures (connect refused, timeout, 5xx
      // mapped to exceptions): fatal errors (OOM) must propagate, and an
      // interrupt means Spark is cancelling the task — restore the flag
      // and rethrow so cancellation isn't counted as a sink error
      case ie: InterruptedException =>
        Thread.currentThread().interrupt(); throw ie
      case scala.util.control.NonFatal(_) => errors.incrementAndGet(); ()
    }

  /** Executor-side batch fan-out: row-at-a-time posts through the JVM's
    * shared client (the receiver contract is per-event idempotency keys). */
  def postBatch(batch: DataFrame, cfg: Config): Unit =
    batch.select(col("event_id").cast("long"), col("content_id").cast("string"),
        col("event_type").cast("string"))
      .foreachPartition { (rows: Iterator[Row]) =>
        rows.foreach(r => post(cfg, r.getLong(0), r.getString(1), r.getString(2)))
      }
}
