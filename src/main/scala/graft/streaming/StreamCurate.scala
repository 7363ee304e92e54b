package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Pipeline

/** The RESIDENT form of the q131 FineWeb curation pipeline — crawl docs
  * arrive as a stream and every micro-batch runs the same four stages as
  * [[graft.ops.Pipeline.fineWebCurate]]:
  *
  *  1. exact duplicated-span removal (batch-local: span evidence is the
  *     grams duplicated WITHIN the micro-batch; the cross-batch near-dup
  *     gate is [[StreamNearDedup]]'s job and composes upstream of this);
  *  2. repetition gate on the cleaned text (stateless scan-side work);
  *  3. perplexity tiering against the PERSISTED curation model
  *     ([[Pipeline.fitCurationModel]] — LM + fixed tertile cutoffs,
  *     CCNet's train-once/score-many deployment shape; re-deriving
  *     thresholds per batch would make admission depend on batch
  *     boundaries);
  *  4. lifetime per-source cap via [[StreamDomainCap]]'s parquet ledger
  *     (at most `capPerSource` docs per source ACROSS batches).
  *
  * Replay contract — inherited stage by stage: stages 1-3 are pure
  * functions of the batch content and the frozen model; stage 4 writes
  * both outputs partitioned by `_batch` with dynamic partition overwrite
  * and reads the ledger partition-pruned to `_batch < batchId`, so a
  * replayed micro-batch re-derives the identical admitted set and
  * rewrites its own partition (the [[StreamNearDedup]] discipline).
  *
  * Stream==batch: a single batch through this pipeline equals
  * [[Pipeline.fineWebCurateFromModel]] on the same frame (StreamCurateSpec
  * pins it, and pins fromModel == the oracled fineWebCurate when the
  * model is fit on the same corpus).
  */
object StreamCurate {

  /** One micro-batch of the curation pipeline; exposed for direct
    * testing. `modelDir` must hold a fitted curation model. */
  def curateBatch(batch: DataFrame, batchId: Long, outDir: String,
                  ledgerDir: String, modelDir: String, minLen: Int = 5,
                  maxDupWordFrac: Double = 0.6, maxTop2Frac: Double = 0.2,
                  maxDup3Frac: Double = 0.2, capPerSource: Int = 12,
                  salt: String = "fw8", idCol: String = "doc_id",
                  textCol: String = "text", langCol: String = "lang",
                  domainCol: String = "source"): Unit = {
    if (batch.isEmpty) return
    val b = batch.localCheckpoint(true) // pin: multi-read below
    val rep = Pipeline.cleanAndGate(b, minLen, maxDupWordFrac, maxTop2Frac,
      maxDup3Frac, idCol, textCol, langCol, domainCol)
    val tiered = Pipeline.tierFromModel(rep, modelDir, idCol)
      .select(col(idCol), col(langCol), col(domainCol), col("n_tokens"),
        col("n_removed"), col("avg_surprisal"), col("ppl_bucket"))
    StreamDomainCap.capBatch(tiered, batchId, outDir, ledgerDir,
      domainCol, idCol, capPerSource, salt)
  }

  /** Start the resident curation pipeline over a streaming doc frame
    * (idCol, langCol, domainCol, textCol). */
  def start(docs: DataFrame, outDir: String, ledgerDir: String,
            modelDir: String, checkpointDir: String, minLen: Int = 5,
            maxDupWordFrac: Double = 0.6, maxTop2Frac: Double = 0.2,
            maxDup3Frac: Double = 0.2, capPerSource: Int = 12,
            salt: String = "fw8", idCol: String = "doc_id",
            textCol: String = "text", langCol: String = "lang",
            domainCol: String = "source"): StreamingQuery =
    Resident.start(docs, checkpointDir)(
      curateBatch(_, _, outDir, ledgerDir, modelDir, minLen, maxDupWordFrac,
        maxTop2Frac, maxDup3Frac, capPerSource, salt, idCol, textCol,
        langCol, domainCol))

  /** Read the curated stream (internal batch column dropped). */
  def curated(spark: SparkSession, outDir: String): DataFrame =
    Ledger.read(spark, outDir)
}
