package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Chat

/** Streaming preference-pair intake gate — [[graft.ops.Chat]]'s
  * preferencePairs validation (q180's contracts: shared prompt prefix,
  * both sides end with an assistant turn, final responses actually
  * differ) as a resident query, the [[StreamChat]] pattern applied to
  * the RLHF leg: (chosen, rejected) pairs arrive on a stream, each
  * micro-batch validates, and the batch splits into the training
  * corpus (the valid RAW pairs, arrays intact — downstream DPO/reward
  * prep consumes the turns, so nothing is pre-rendered away) and the
  * quarantine table (failed pairs with per-contract flags plus the
  * length-bias columns a triage owner reads first).
  *
  * Validation is per-pair, so the gate is STATELESS across batches —
  * no index, no cross-batch joins. Exactly-once comes entirely from
  * the ledger discipline ([[StreamKmv]] contract): both outputs land
  * in `_batch` partitions via dynamic overwrite, so a replayed batch
  * rewrites its own partitions with identical content. A pair with a
  * NULL-sided transcript fails `prefix_ok` (pinned NULL-free in
  * preferencePairs) and lands in quarantine — every input id reaches
  * exactly one side of the split. */
object StreamPref {

  /** One micro-batch: validate, split, land both sides. */
  def gateBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                quarantineDir: String, idCol: String = "pair_id",
                chosenCol: String = "chosen",
                rejectedCol: String = "rejected"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val verdicts = Chat.preferencePairs(b, idCol, chosenCol, rejectedCol)
        .localCheckpoint(true)
      (b.join(verdicts.where(col("ok")).select(col(idCol)), Seq(idCol)),
        verdicts.where(!col("ok")))
    }

  /** Start the resident gate over a streaming pair frame (idCol,
    * chosenCol, rejectedCol: array<struct<role, content>>). */
  def start(pairs: DataFrame, corpusDir: String, quarantineDir: String,
            checkpointDir: String, idCol: String = "pair_id",
            chosenCol: String = "chosen",
            rejectedCol: String = "rejected"): StreamingQuery =
    Resident.start(pairs, checkpointDir)(gateBatch(_, _, corpusDir, quarantineDir,
      idCol, chosenCol, rejectedCol))

  /** The admitted pair corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine report: failed pairs with contract flags. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
