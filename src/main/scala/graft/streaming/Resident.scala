package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one wiring of every resident query — the fan-out, the backfill,
  * the quarantine gates and every other `start`: checkpointed, append
  * mode, `body` once per micro-batch. The reference has the same single
  * start, `foreachBatch(process_batch)` (app.py:111-114).
  *
  * `trigger` defaults to Spark's own default (`ProcessingTime(0)`, the
  * next batch as soon as the last one ends); [[Fanout]] passes its
  * configured interval and [[Backfill]] `AvailableNow`. */
private[streaming] object Resident {

  def start(stream: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime(0L))
           (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => body(batch, batchId) }
      .start()
}
