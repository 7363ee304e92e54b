package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.Parse
import graft.sinks.{HttpSink, TtlLeaderboard}
import graft.streaming.Fanout

/** End-to-end streaming fan-out: MemoryStream of Debezium envelopes ->
  * parse -> enrich -> {parquet, leaderboard, HTTP} sinks, plus the
  * watermarked sliding count and replay idempotency. Mirrors the
  * reference's smoke.sh scenario (FIXTURES.md §A). */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def envelope(id: Long, contentId: String, eventType: String,
                       durationMs: Int, wrapped: Boolean): String = {
    val after =
      s"""{"id":$id,"content_id":"$contentId","user_id":"u-$id","event_type":"$eventType","event_ts":"2024-01-01 10:0${id % 10}:00","duration_ms":$durationMs,"device":"web","raw_payload":"{}"}"""
    if (wrapped) s"""{"payload":{"after":$after,"op":"c"}}"""
    else s"""{"after":$after,"op":"c"}"""
  }

  private val dim = Seq(("c-1", "podcast", Some(1800)), ("c-2", "video", None))
    .toDF("content_id", "content_type", "length_seconds")

  /** Tiny idempotent receiver mirroring external-api/app.py:6-12. */
  private class Receiver {
    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val byKey = new ConcurrentHashMap[String, Integer]()
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val key = ex.getRequestHeaders.getFirst("Idempotency-Key")
        byKey.merge(key, 1, (a, b) => a + b)
        ex.sendResponseHeaders(200, 2)
        ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    def endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"
    def stop(): Unit = server.stop(0)
  }

  test("fanout end-to-end: stream -> parse -> enrich -> parquet + leaderboard + http") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val tmp = Files.createTempDirectory("graft-fanout").toString
    val receiver = new Receiver
    val lb = new TtlLeaderboard()
    val cfg = Fanout.Config(
      checkpointDir = s"$tmp/ckpt",
      analyticsDir = Some(s"$tmp/analytics"),
      leaderboard = Some(lb),
      http = Some(HttpSink.Config(receiver.endpoint)),
      triggerMs = 50L)
    val q = Fanout.start(input.toDF().select(col("value").as("json")), dim, cfg)
    try {
      // batch 1: the two smoke.sh seed rows (one wrapped, one bare envelope)
      input.addData(envelope(1, "c-1", "play", 60000, wrapped = true),
                    envelope(2, "c-1", "finish", 180000, wrapped = false))
      q.processAllAvailable()
      // batch 2: another content + a tombstone that must be dropped
      input.addData(envelope(3, "c-2", "click", 1000, wrapped = true),
                    """{"after":null,"op":"d"}""")
      q.processAllAvailable()
    } finally { q.stop(); receiver.stop() }

    // parquet sink: 3 rows, month-partitioned, derived cols correct
    val out = spark.read.parquet(s"$tmp/analytics")
    assert(out.count() == 3)
    assert(out.columns.contains("event_month") && out.columns.contains("processed_ts"))
    val r1 = out.where($"event_id" === 1).collect().head
    assert(r1.getAs[Double]("engagement_seconds") == 60.0)
    assert(r1.getAs[Double]("engagement_pct") == 0.03)
    assert(r1.getAs[String]("content_type") == "podcast")
    val r3 = out.where($"event_id" === 3).collect().head
    assert(r3.isNullAt(r3.fieldIndex("engagement_pct")), "no length_seconds => pct NULL")
    // leaderboard: c-1 counted twice across batches, c-2 once
    assert(lb.get("c-1") == 2L && lb.get("c-2") == 1L)
    assert(lb.topK(1) == Seq(("c-1", 2L)))
    // http: every surviving event posted exactly once, keyed by event_id
    assert(receiver.byKey.size() == 3)
    assert(receiver.byKey.values().stream().allMatch(_ == 1))
  }

  test("replay: re-processing a batch re-posts, receiver dedups on Idempotency-Key") {
    val receiver = new Receiver
    val batch = Seq(envelope(7, "c-1", "play", 1000, wrapped = true)).toDF("json")
    val enrichedBatch = Fanout.enriched(batch, dim)
    val cfg = Fanout.Config(checkpointDir = "unused",
      http = Some(HttpSink.Config(receiver.endpoint)))
    try {
      Fanout.processBatch(enrichedBatch, cfg)
      Fanout.processBatch(enrichedBatch, cfg) // replay after failure
    } finally receiver.stop()
    assert(receiver.byKey.get("7") == 2, "replay posts again (at-least-once)")
    assert(receiver.byKey.size() == 1, "receiver saw a single logical event")
  }

  test("streaming parse == batch parse for the same envelopes") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val rows = (1L to 20L).map(i => envelope(i, s"c-${i % 3}", "play", 100, wrapped = i % 2 == 0))
    val q = Parse.cdcEvents(input.toDF().select(col("value").as("json")))
      .writeStream.outputMode("append").format("memory").queryName("parsed").start()
    try { input.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("parsed").orderBy("event_id").collect().toSeq
    val batched = Parse.cdcEvents(rows.toDF("json")).orderBy("event_id").collect().toSeq
    assert(streamed == batched)
  }

  test("slidingCounts: watermarked windowed agg finalizes windows as event time advances") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val counts = Fanout.slidingCounts(input.toDF().toDF("event_ts", "content_id"))
    val q = counts.writeStream.outputMode("append").format("memory").queryName("sc").start()
    try {
      input.addData((ts("2024-01-01 10:00:30"), "a"), (ts("2024-01-01 10:01:10"), "a"),
                    (ts("2024-01-01 10:05:00"), "b"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:00:00"), "z")) // push watermark past all 10:0x windows
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sc")
      .select($"content_id", $"cnt", $"window.start".cast("string").as("ws"))
      .as[(String, Long, String)].collect()
    // both 'a' events fall in the 9 sliding windows [09:52..10:00]; 'z' window is still open
    assert(rows.count(r => r._1 == "a" && r._2 == 2L) == 9, s"got ${rows.toList.sortBy(_._3)}")
    assert(rows.count(_._1 == "a") == 11, "windows covering exactly one 'a' event: 2")
    assert(rows.exists(_._1 == "b"))
    assert(!rows.exists(_._1 == "z"), "open window must not be emitted in append mode")
  }

  test("checkpoint recovery: restart resumes from committed offsets, no duplicates, no loss") {
    val tmp = Files.createTempDirectory("graft-ckpt").toString
    val inDir = s"$tmp/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    val cfg = Fanout.Config(checkpointDir = s"$tmp/ckpt",
      analyticsDir = Some(s"$tmp/analytics"), triggerMs = 50L)
    def writeBatch(name: String, lines: Seq[String]): Unit = {
      val f = java.nio.file.Paths.get(s"$tmp/$name.tmp")
      Files.write(f, scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
      Files.move(f, java.nio.file.Paths.get(s"$inDir/$name.json")) // atomic publish
    }
    writeBatch("b1", Seq(envelope(1, "c-1", "play", 1000, wrapped = true),
                         envelope(2, "c-1", "pause", 2000, wrapped = false)))
    val q1 = Fanout.start(graft.streaming.Sources.fileJson(spark, inDir), dim, cfg)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(s"$tmp/analytics").count() == 2)

    // second batch lands while the query is DOWN; restart must pick up
    // exactly the new file (offsets from the checkpoint, not re-read all)
    writeBatch("b2", Seq(envelope(3, "c-2", "finish", 3000, wrapped = true)))
    val q2 = Fanout.start(graft.streaming.Sources.fileJson(spark, inDir), dim, cfg)
    try { q2.processAllAvailable() } finally q2.stop()
    val out = spark.read.parquet(s"$tmp/analytics")
    assert(out.count() == 3, "restart must not duplicate batch 1 nor drop batch 2")
    assert(out.select("event_id").as[Long].collect().sorted.toList == List(1L, 2L, 3L))
  }

  test("ParquetSink.compact: many small files -> filesPerMonth, data and schema intact") {
    val tmp = Files.createTempDirectory("graft-compact").toString
    val base = Seq(
      (1L, "c-1", java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 1.0),
      (2L, "c-2", java.sql.Timestamp.valueOf("2024-01-15 10:00:00"), 2.0),
      (3L, "c-1", java.sql.Timestamp.valueOf("2024-02-01 10:00:00"), 3.0))
      .toDF("event_id", "content_id", "event_ts", "value")
    // 6 append batches -> many files across 2 months
    (0 until 6).foreach { i =>
      graft.sinks.ParquetSink.write(
        base.withColumn("event_id", $"event_id" + i * 10), s"$tmp/t")
    }
    val before = spark.read.parquet(s"$tmp/t")
    val beforeRows = before.drop("processed_ts").collect().map(_.toSeq).toSet
    def dataFiles() = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/t"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val filesBefore = dataFiles()
    graft.sinks.ParquetSink.compact(spark, s"$tmp/t", filesPerMonth = 1)
    val filesAfter = dataFiles()
    assert(filesAfter < filesBefore, s"expected fewer files: $filesBefore -> $filesAfter")
    assert(filesAfter <= 2, s"1 file per month x 2 months, got $filesAfter")
    val afterRows = spark.read.parquet(s"$tmp/t").drop("processed_ts")
      .collect().map(_.toSeq).toSet
    assert(afterRows == beforeRows, "compaction must not change the data")
  }

  test("ParquetSink: write and compact leave every part file in (content_id, event_ts) order") {
    val tmp = Files.createTempDirectory("graft-sorted").toString
    val rnd = new scala.util.Random(17)
    val rows = rnd.shuffle((1 to 400).map { i =>
      (i.toLong, s"c-${rnd.nextInt(9)}",
        java.sql.Timestamp.valueOf(f"2024-0${1 + i % 2}-${1 + rnd.nextInt(28)}%02d 10:00:00"))
    })
    val batch = rows.toDF("event_id", "content_id", "event_ts").repartition(4)
    def assertSorted(stage: String): Unit = {
      val files = Files.walk(java.nio.file.Paths.get(s"$tmp/t")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toList
      assert(files.nonEmpty)
      files.foreach { f =>
        val got = spark.read.parquet(f.toString).select("content_id", "event_ts")
          .as[(String, java.sql.Timestamp)].collect().toSeq
        val want = got.sortBy { case (c, ts) => (c, ts.getTime) }
        val firstOff = got.indices.find(i => got(i) != want(i))
        assert(firstOff.isEmpty, s"$stage: ${f.getFileName} leaves (content_id, event_ts) order at row $firstOff")
      }
    }
    graft.sinks.ParquetSink.write(batch, s"$tmp/t")
    graft.sinks.ParquetSink.write(batch.withColumn("event_id", $"event_id" + 1000), s"$tmp/t")
    assertSorted("write")
    graft.sinks.ParquetSink.compact(spark, s"$tmp/t", filesPerMonth = 2)
    assertSorted("compact")
    assert(spark.read.parquet(s"$tmp/t").count() == 800)
  }

  test("StreamDedup: redelivered events collapse to one row across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val deduped = graft.streaming.StreamDedup.byKey(
      input.toDF().toDF("event_id", "event_ts"))
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:01")),
                    (1L, ts("2024-01-01 10:00:00"))) // same-batch duplicate
      q.processAllAvailable()
      input.addData((2L, ts("2024-01-01 10:00:01")), // cross-batch redelivery
                    (3L, ts("2024-01-01 10:00:02")))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream").select("event_id").as[Long].collect().sorted.toList
    assert(ids == List(1L, 2L, 3L), s"got $ids")
  }

  test("TtlLeaderboard: INCRBY+EXPIRE semantics — touch resets TTL, cold keys expire") {
    var now = 0L
    val lb = new TtlLeaderboard(ttlMs = 600000L, clock = () => now)
    lb.increment(Seq("a" -> 2L, "b" -> 1L))
    now = 300000L                      // t=5min: both alive
    assert(lb.topK(10) == Seq(("a", 2L), ("b", 1L)))
    lb.increment(Seq("a" -> 1L))       // touches a, TTL reset; b untouched
    now = 700000L                      // t=11:40 — b expired (t0+10m), a alive (t5+10m)
    assert(lb.get("a") == 3L)
    assert(lb.get("b") == 0L)
    assert(lb.topK(10) == Seq(("a", 3L)))
    assert(lb.sweep() == 1)
    now = 1000000L                     // a expired too; re-increment restarts from 0
    lb.increment(Seq("a" -> 5L))
    assert(lb.get("a") == 5L, "expired counter must restart, not resume")
  }
}
