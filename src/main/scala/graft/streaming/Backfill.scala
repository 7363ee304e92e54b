package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.Trigger

/** Historical backfill through the STREAMING pipeline: run the same
  * transforms, checkpoint, and idempotent sinks as the resident query
  * over everything already in the source, then stop —
  * `Trigger.AvailableNow` drains the backlog in rate-limited micro-batches
  * (respecting maxFilesPerTrigger-style source options) and terminates.
  *
  * Why not a one-off batch job: the batch twin would need its own
  * idempotency/dedup story and could double-process against the resident
  * query. Sharing the checkpoint means (1) a crashed backfill resumes
  * where it stopped, (2) a SECOND run processes only files that arrived
  * since the first, and (3) flipping the same code to a processing-time
  * trigger IS the production stream — the Kappa-style backfill story the
  * reference's `startingOffsets=latest` pipeline (app.py:42) lacks
  * entirely. At 100 TB of backlog the rate limiting is the point:
  * AvailableNow bounds each micro-batch's state/shuffle footprint where
  * one giant batch job would have to survive it all at once. */
object Backfill {

  /** Drain everything currently available, then return. Each micro-batch
    * runs `batchFn` (reuse the resident query's foreachBatch body for
    * identical sink semantics). Returns the number of batches executed. */
  def drain(transformed: DataFrame, checkpointDir: String)
           (batchFn: (Dataset[Row], Long) => Unit): Long = {
    // incremented on the stream-execution thread, read here after
    // awaitTermination — atomic for the cross-thread happens-before
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = Resident.start(transformed, checkpointDir, Trigger.AvailableNow()) {
      (b, id) => batchFn(b, id); batches.incrementAndGet(); ()
    }
    q.awaitTermination() // AvailableNow self-terminates at the drained mark
    batches.get()
  }
}
