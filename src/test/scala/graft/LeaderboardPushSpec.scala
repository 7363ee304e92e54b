package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import graft.sinks.TtlLeaderboard
import graft.streaming.Fanout

/** The shuffle-free leaderboard push: `increment` is atomic per key, so
  * partitions that push the same key concurrently lose no delta. */
class LeaderboardPushSpec extends SparkTestBase {
  import spark.implicits._

  test("concurrent increments of overlapping keys sum exactly") {
    val lb = new TtlLeaderboard()
    val threads = 8
    val rounds = 2000
    val keys = (0 until 5).map(k => s"k$k")
    val pool = Executors.newFixedThreadPool(threads)
    val go = new CountDownLatch(1)
    try {
      (0 until threads).foreach { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            go.await()
            // every thread touches every key each round, with its own delta
            (0 until rounds).foreach(_ => lb.increment(keys.map(_ -> (t + 1).toLong)))
          }
        })
      }
      go.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS), "increments did not finish")
    } finally pool.shutdownNow()
    val expected = rounds.toLong * (1 to threads).sum
    keys.foreach(k => assert(lb.get(k) == expected, s"$k: ${lb.get(k)} != $expected"))
  }

  test("processBatch counts a key spread over several partitions exactly") {
    val dim = Seq(("c-1", "podcast", Some(1800))).toDF("content_id", "content_type", "length_seconds")
    val events = (1 to 40).map { i =>
      val content = if (i % 4 == 0) "c-2" else "c-1"
      s"""{"after":{"id":$i,"content_id":"$content","user_id":"u","event_type":"play","event_ts":"2024-01-01 10:00:00","duration_ms":1000,"device":"web","raw_payload":"{}"},"op":"c"}"""
    }
    val batch = Fanout.enriched(events.toDF("json").repartition(4, col("json")), dim)
    assert(batch.rdd.getNumPartitions == 4)
    val lb = new TtlLeaderboard()
    Fanout.processBatch(batch, Fanout.Config(checkpointDir = "unused", leaderboard = Some(lb)))
    assert(lb.topK(10) == Seq(("c-1", 30L), ("c-2", 10L)))
  }
}
