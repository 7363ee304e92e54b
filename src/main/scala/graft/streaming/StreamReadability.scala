package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Quality

/** Streaming readability gate — [[Quality.readability]] (q228) as a
  * resident query: documents arrive on a stream, each micro-batch is
  * scored, and the batch splits on the Flesch reading-ease metric:
  *
  *  - docs at or above `minMilli` (default 30000 — the very_confusing
  *    cut) land in the corpus WITH their metric columns;
  *  - docs below the cut, plus docs whose metrics are NULL (wordless
  *    or NULL text — a fluency gate cannot vouch for what it cannot
  *    measure), go to QUARANTINE carrying the same columns so the
  *    reviewer sees the counts without re-running the regexes.
  *
  * Scoring is per-document, so the gate is STATELESS across batches
  * (the [[StreamPii]]/[[StreamLicense]] discipline): no index, no
  * cross-batch joins; replay idempotency is unconditional because the
  * verdict is a pure function of the batch. Exactly-once comes from
  * the ledger discipline — both outputs land in `_batch` partitions
  * via dynamic overwrite, so a replayed batch rewrites its own
  * partitions with identical content. */
object StreamReadability {

  /** One micro-batch: score, split on the cut, land both sides. */
  def gateBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                quarantineDir: String, minMilli: Long = 30000L,
                idCol: String = "doc_id",
                textCol: String = "text"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val scored = Quality.readability(b, idCol, textCol)
        .localCheckpoint(true) // feeds both splits
      val withScore = b.join(scored, Seq(idCol))
      val keep = col("fre_milli").isNotNull && col("fre_milli") >= minMilli
      (withScore.where(keep), withScore.where(!coalesce(keep, lit(false))))
    }

  /** Start the resident gate over a streaming document frame. */
  def start(docs: DataFrame, corpusDir: String, quarantineDir: String,
            checkpointDir: String, minMilli: Long = 30000L,
            idCol: String = "doc_id",
            textCol: String = "text"): StreamingQuery =
    Resident.start(docs, checkpointDir)(gateBatch(_, _, corpusDir, quarantineDir,
      minMilli, idCol, textCol))

  /** The admitted, readable corpus. */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine: below-cut and unmeasurable docs with their metric
    * columns. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
