package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{Enrich, Parse}
import graft.sinks.{HttpSink, ParquetSink, TtlLeaderboard}

/** The reference's resident streaming query (pipeline/app.py:55-114),
  * re-architected Spark-first:
  *
  *   source(json) -> Parse.cdcEvents -> Enrich.enrich(dim, broadcast LEFT)
  *     -> foreachBatch: compute ONCE, persist, fan out to
  *        { parquet analytics sink, TTL leaderboard, HTTP notifier }
  *
  * Deliberate fixes over the reference (SURVEY.md §4 anti-patterns):
  *   - the enriched batch is computed once and persisted; the reference
  *     recomputed the join 3x per batch (app.py:82,90,102);
  *   - no driver-side collect()/toPandas() anywhere: the parquet sink
  *     writes from executors, HTTP posts run foreachPartition on executors,
  *     and the leaderboard receives (key,count) deltas pre-aggregated and
  *     pushed per partition from executors (Redis' write-set, written the
  *     way a Redis client pool would write it);
  *   - leaderboard updates only the keys touched by the batch, not a full
  *     keyspace SCAN (app.py:96-98).
  *
  * Delivery matches the reference's "effectively once" (README.md:249-255):
  * checkpointed offsets + append mode; sinks tolerate replay (parquet
  * dedups downstream by event_id, HTTP receiver dedups on Idempotency-Key,
  * leaderboard counters are approximate by design).
  */
object Fanout {

  case class Config(
      checkpointDir: String,
      analyticsDir: Option[String] = None,
      leaderboard: Option[TtlLeaderboard] = None,
      http: Option[HttpSink.Config] = None,
      triggerMs: Long = 5000L, // reference: processingTime="5 seconds" (app.py:112)
      leaderboardKey: String = "content_id")

  /** Parse + enrich a raw JSON-envelope stream against a (static or
    * per-batch re-read) dimension — the full reference plan, streamable. */
  def enriched(rawJson: DataFrame, dim: DataFrame): DataFrame =
    Enrich.enrich(Parse.cdcEvents(rawJson), dim)

  /** One micro-batch's fan-out; also the unit the replay test drives
    * directly. Mirrors app.py:55-108 minus the anti-patterns.
    *
    * The batch is materialized once: after `persist`, one job labelled
    * `fanout: cache` runs source, parse and the dimension join over every
    * partition in parallel, fills the cache and counts the rows. That
    * count is the A3 empty-batch guard (app.py:56-57); a guard before
    * `persist` would take a job of its own, running the plan outside the
    * cache. The sinks then read only the cache, one labelled
    * pass each, in order: `fanout: parquet`, `fanout: leaderboard`,
    * `fanout: http`. They stay sequential, so a failed parquet write
    * leaves no leaderboard increment behind for the replay to repeat. */
  def processBatch(batch: DataFrame, cfg: Config): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      val rows = spark.sparkContext.longAccumulator
      JobLabel(spark, "fanout: cache") {
        batch.select().foreachPartition((it: Iterator[Row]) => rows.add(it.size.toLong))
      }
      if (rows.value == 0L) return // A3 empty-batch guard (app.py:56-57)
      cfg.analyticsDir.foreach { dir =>
        JobLabel(spark, "fanout: parquet")(ParquetSink.write(batch, dir))
      }
      cfg.leaderboard.foreach { lb =>
        // pre-aggregated per partition (one delta per touched key — Redis'
        // write-set), then pushed from EXECUTORS: each partition connects
        // to the store and writes its own slice. No collect — a hot batch
        // touching 10^8 keys never materializes on the driver (round-2
        // advice) — and no shuffle: two partitions may push the same key,
        // which is safe because `increment` is atomic per key (as Redis
        // INCRBY is).
        val handle = lb.handle
        JobLabel(spark, "fanout: leaderboard") {
          batch.select(col(cfg.leaderboardKey).cast("string"))
            .foreachPartition { (rows: Iterator[Row]) =>
              val deltas = scala.collection.mutable.HashMap.empty[String, Long]
              rows.foreach(r => deltas.updateWith(r.getString(0))(c => Some(c.getOrElse(0L) + 1L)))
              if (deltas.nonEmpty) TtlLeaderboard.connect(handle).increment(deltas)
            }
        }
      }
      cfg.http.foreach { h =>
        JobLabel(spark, "fanout: http")(HttpSink.postBatch(batch, h))
      }
    } finally { batch.unpersist(); () }
  }

  /** Start the resident query. */
  def start(rawJson: DataFrame, dim: DataFrame, cfg: Config): StreamingQuery =
    Resident.start(enriched(rawJson, dim), cfg.checkpointDir,
      Trigger.ProcessingTime(cfg.triggerMs)) { (batch, _) =>
      processBatch(batch, cfg)
    }

  /** A1 exact semantics (what the Redis TTL trick approximates): sliding
    * 10-minute per-key counts as a watermarked windowed aggregation.
    * Late rows beyond the watermark are dropped instead of silently
    * miscounted; state is bounded by watermark eviction — the properties
    * that make this run forever on a real cluster. */
  def slidingCounts(events: DataFrame, keyCol: String = "content_id",
                    tsCol: String = "event_ts",
                    windowLen: String = "10 minutes", slide: String = "1 minute",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
}
