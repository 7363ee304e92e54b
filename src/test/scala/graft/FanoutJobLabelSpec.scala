package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.sinks.{HttpSink, TtlLeaderboard}
import graft.streaming.{Fanout, StreamPii}

/** What a profile sees of a micro-batch: every sink's jobs carry their
  * own job description, the stream's description comes back afterwards,
  * and the HTTP sink reuses one pooled connection across batches. */
class FanoutJobLabelSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = Seq(("c-1", "podcast", Some(1800)))
    .toDF("content_id", "content_type", "length_seconds")

  private def batch(id: Long) = Fanout.enriched(Seq(
    s"""{"after":{"id":$id,"content_id":"c-1","user_id":"u","event_type":"play","event_ts":"2024-01-01 10:00:00","duration_ms":1000,"device":"web","raw_payload":"{}"},"op":"c"}"""
  ).toDF("json"), dim)

  /** Receiver recording the remote port of every request. */
  private class PortReceiver {
    val ports = new ConcurrentLinkedQueue[Int]()
    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        ports.add(ex.getRemoteAddress.getPort)
        ex.sendResponseHeaders(200, 2)
        ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    def endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"
  }

  /** Job descriptions of the jobs `body` launches. */
  private def descriptions(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    GraftTestBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try { body; GraftTestBridge.waitUntilListenerBusEmpty(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("processBatch labels its parquet, leaderboard and HTTP jobs, then restores") {
    val receiver = new PortReceiver
    val tmp = Files.createTempDirectory("graft-labels").toString
    val cfg = Fanout.Config(checkpointDir = "unused",
      analyticsDir = Some(s"$tmp/analytics"),
      leaderboard = Some(new TtlLeaderboard()),
      http = Some(HttpSink.Config(receiver.endpoint)))
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    val seen =
      try descriptions(Fanout.processBatch(batch(1L), cfg))
      finally receiver.server.stop(0)
    assert(sc.getLocalProperty("spark.job.description") == "caller",
      "the previous description comes back")
    sc.setJobDescription(null)
    Seq("fanout: parquet", "fanout: leaderboard", "fanout: http").foreach { l =>
      assert(seen.contains(l), s"no job labelled '$l' in ${seen.mkString(", ")}")
    }
  }

  test("a gate labels its checkpoint, corpus and quarantine jobs") {
    val tmp = Files.createTempDirectory("graft-gate-labels").toString
    val docs = Seq((1L, "card 4111 1111 1111 1111"), (2L, "clean text"))
      .toDF("doc_id", "text")
    val seen = descriptions(
      StreamPii.gateBatch(docs, 0L, s"$tmp/corpus", s"$tmp/quarantine"))
    Seq("gate: checkpoint", "gate: corpus", "gate: quarantine").foreach { l =>
      assert(seen.contains(l), s"no job labelled '$l' in ${seen.mkString(", ")}")
    }
  }

  test("consecutive postBatch calls reuse one pooled connection") {
    val receiver = new PortReceiver
    val cfg = HttpSink.Config(receiver.endpoint)
    try {
      // one row, one partition: each call posts exactly once
      HttpSink.postBatch(batch(1L).coalesce(1), cfg)
      HttpSink.postBatch(batch(2L).coalesce(1), cfg)
    } finally receiver.server.stop(0)
    val ports = receiver.ports.asScala.toSeq
    assert(ports.size == 2 && ports.distinct.size == 1,
      s"expected both posts on one connection, saw remote ports $ports")
  }
}
