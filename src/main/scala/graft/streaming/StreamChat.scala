package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Chat

/** Streaming SFT intake gate — [[graft.ops.Chat]]'s validate/flatten
  * pipeline as a resident query: transcripts arrive on a stream, each
  * micro-batch is structurally validated (opener/alternation/non-empty/
  * ends-with-assistant, the q169 contracts), and the batch splits into
  * the training corpus (valid transcripts, already template-rendered
  * with their loss-budget stats) and the quarantine table (the failed
  * transcripts with their per-contract flags — what a data owner
  * triages). The pretraining gates ([[StreamNearDedup]], media dedup)
  * guard WHAT enters the corpus; this guards STRUCTURE, which is the
  * failure mode SFT data actually has.
  *
  * Validation is per-transcript, so the gate is STATELESS across
  * batches — no index, no cross-batch joins; per-batch cost is one
  * validate + one flatten over the batch alone. Exactly-once comes
  * entirely from the ledger discipline ([[StreamKmv]] contract): both
  * outputs land in `_batch` partitions via dynamic overwrite, so a
  * replayed batch rewrites its own partitions with identical content
  * (stream == batch and replay idempotency are spec-pinned). */
object StreamChat {

  /** One micro-batch: validate, split, land both sides. */
  def gateBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                quarantineDir: String, idCol: String = "doc_id",
                turnsCol: String = "turns"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val verdicts = Chat.validate(b, idCol, turnsCol)
        .localCheckpoint(true)
      val okIds = verdicts.where(col("ok")).select(col(idCol))
      (Chat.flatten(b.join(okIds, Seq(idCol)), idCol, turnsCol),
        verdicts.where(!col("ok")))
    }

  /** Start the resident gate over a streaming transcript frame
    * (idCol, turnsCol: array<struct<role, content>>). */
  def start(conv: DataFrame, corpusDir: String, quarantineDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            turnsCol: String = "turns"): StreamingQuery =
    Resident.start(conv, checkpointDir)(
      gateBatch(_, _, corpusDir, quarantineDir, idCol, turnsCol))

  /** The admitted, rendered corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine report: failed transcripts with contract flags. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
