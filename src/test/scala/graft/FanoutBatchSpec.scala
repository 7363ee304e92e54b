package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, atomic}
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sinks.{HttpSink, TtlLeaderboard}
import graft.streaming.Fanout

/** The shape of one fan-out micro-batch: the cache-filling job is also the
  * empty-batch guard, so a batch of malformed envelopes reaches no sink,
  * and the parquet write needs no shuffle to land one file per month. */
class FanoutBatchSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = Seq(("c-1", "podcast", Some(1800)), ("c-2", "video", Some(600)))
    .toDF("content_id", "content_type", "length_seconds")

  private def envelope(id: Long, contentId: String, ts: String): String =
    s"""{"after":{"id":$id,"content_id":"$contentId","user_id":"u","event_type":"play","event_ts":"$ts","duration_ms":1000,"device":"web","raw_payload":"{}"},"op":"c"}"""

  /** One envelope of each kind `Parse.cdcEvents` drops. */
  private val malformed = Seq(
    """{"after":null,"op":"d"}""", // Debezium delete
    """{"after":{"id":9,"content_id":"c-1","event_ts":"2024-01""", // truncated
    """{"after":{"id":"nine","content_id":"c-1","user_id":"u","event_type":"play","event_ts":"2024-01-01 10:00:00","duration_ms":1,"device":"web","raw_payload":"{}"},"op":"c"}""")

  /** Receiver counting the posts it gets. */
  private class Receiver {
    val posts = new atomic.AtomicInteger()
    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        posts.incrementAndGet()
        ex.sendResponseHeaders(200, 2)
        ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    def endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"
  }

  private def partFiles(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toList

  private def config(tmp: String, lb: TtlLeaderboard, receiver: Receiver) =
    Fanout.Config(checkpointDir = s"$tmp/ckpt",
      analyticsDir = Some(s"$tmp/analytics"),
      leaderboard = Some(lb),
      http = Some(HttpSink.Config(receiver.endpoint)),
      triggerMs = 50L)

  /** The sinks saw nothing, then exactly the one valid event. */
  private def assertGuardThenLand(tmp: String, lb: TtlLeaderboard, receiver: Receiver)(
      malformedBatch: => Unit, validBatch: => Unit): Unit = {
    try {
      malformedBatch
      assert(partFiles(s"$tmp/analytics").isEmpty, "a malformed-only batch wrote parquet")
      assert(lb.topK(10).isEmpty, s"a malformed-only batch counted ${lb.topK(10)}")
      assert(receiver.posts.get == 0, "a malformed-only batch posted")
      validBatch
    } finally receiver.server.stop(0)
    assert(partFiles(s"$tmp/analytics").size == 1)
    assert(spark.read.parquet(s"$tmp/analytics").select("event_id").as[Long].collect().toSeq == Seq(1L))
    assert(lb.topK(10) == Seq(("c-1", 1L)))
    assert(receiver.posts.get == 1)
  }

  test("processBatch: a batch of malformed envelopes reaches no sink, the next batch lands") {
    val tmp = Files.createTempDirectory("graft-guard").toString
    val lb = new TtlLeaderboard()
    val receiver = new Receiver
    val cfg = config(tmp, lb, receiver)
    assertGuardThenLand(tmp, lb, receiver)(
      Fanout.processBatch(Fanout.enriched(malformed.toDF("json"), dim), cfg),
      Fanout.processBatch(Fanout.enriched(
        Seq(envelope(1, "c-1", "2024-01-01 10:00:00")).toDF("json"), dim), cfg))
  }

  test("Fanout.start: a micro-batch of malformed envelopes reaches no sink, the next lands") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val tmp = Files.createTempDirectory("graft-guard-stream").toString
    val lb = new TtlLeaderboard()
    val receiver = new Receiver
    val q = Fanout.start(input.toDF().select(col("value").as("json")), dim,
      config(tmp, lb, receiver))
    try {
      assertGuardThenLand(tmp, lb, receiver)(
        { input.addData(malformed: _*); q.processAllAvailable()
          assert(q.lastProgress.numInputRows == 3, "the malformed micro-batch ran") },
        { input.addData(envelope(1, "c-1", "2024-01-01 10:00:00")); q.processAllAvailable() })
    } finally q.stop()
  }

  test("processBatch: one cache-filling job, no shuffle, one parquet file per month") {
    val tmp = Files.createTempDirectory("graft-shape").toString
    val receiver = new Receiver
    val events = (1 to 40).map { i =>
      envelope(i, s"c-${1 + i % 2}", if (i % 3 == 0) "2024-02-03 10:00:00" else "2024-01-05 10:00:00")
    }
    // The stream hands `foreachBatch` a frame over its already-planned RDD
    // (broadcast built); a checkpointed frame stands in for it here.
    val batch: DataFrame = Fanout.enriched(
      spark.sparkContext.parallelize(events, 2).toDF("json"), dim).localCheckpoint()
    assert(batch.rdd.getNumPartitions == 2)
    val lb = new TtlLeaderboard()

    val jobs = new ConcurrentLinkedQueue[String]()
    val shuffleWrites = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(j.properties.getProperty("spark.job.description")))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val w = s.stageInfo.taskMetrics.shuffleWriteMetrics
        if (w.bytesWritten > 0 || w.recordsWritten > 0) shuffleWrites.add(s.stageInfo.name -> w.bytesWritten)
      }
    }
    val sc = spark.sparkContext
    GraftTestBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      Fanout.processBatch(batch, config(tmp, lb, receiver))
      GraftTestBridge.waitUntilListenerBusEmpty(sc)
    } finally { sc.removeSparkListener(listener); receiver.server.stop(0) }

    val seen = jobs.asScala.toSeq
    assert(seen.count(_ == "fanout: cache") == 1, s"jobs: ${seen.mkString(", ")}")
    assert(shuffleWrites.isEmpty, s"stages writing shuffle: ${shuffleWrites.asScala.mkString(", ")}")
    val byMonth = partFiles(s"$tmp/analytics").groupBy(_.getParent.getFileName.toString)
    assert(byMonth.keySet == Set("event_month=2024-01", "event_month=2024-02"))
    byMonth.foreach { case (m, fs) => assert(fs.size == 1, s"$m holds ${fs.size} part files") }
    assert(spark.read.parquet(s"$tmp/analytics").count() == 40)
    assert(lb.topK(10).map(_._2).sum == 40L && receiver.posts.get == 40)
  }
}
