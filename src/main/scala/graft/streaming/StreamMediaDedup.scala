package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Dedup

/** The shared engine under the streaming perceptual dedup gates
  * ([[StreamImageDedup]] — dHash, [[StreamAudioDedup]] — energy-envelope
  * hash): everything about the ingest filter is signature-agnostic
  * except WHICH 64-bit hash rides the scan, so there is exactly one
  * implementation of the batch/index/replay discipline and the modality
  * fronts pass their hash in. Each micro-batch is (1) deduped within
  * itself (greedy min-asset_id survivors), (2) deduped against the
  * persisted signature index of everything previously admitted
  * ([[Dedup.dhashIncremental]] — the band-key scheme is hash-agnostic),
  * and (3) its survivors appended: media to the corpus, 8-byte
  * signatures to the index.
  *
  * Scale design: the cross-corpus step never re-reads or re-decodes
  * admitted MEDIA — the index carries one long per admitted asset
  * (~0.001% of corpus volume), and the band-key equi-join shuffles only
  * the batch side plus touched postings. Decode happens exactly once
  * per arriving asset, scan-side.
  *
  * Replay contract — the [[StreamNearDedup]] discipline verbatim: both
  * outputs are partitioned by `_batch` with dynamic partition overwrite,
  * and the index read excludes `_batch >= batchId` (partition-pruned),
  * so a replayed micro-batch sees exactly the index state earlier
  * batches produced, re-derives the identical admitted set, and
  * rewrites its own partition. Without the pruned read a replayed batch
  * would find its own signatures and drop everything as self-duplicate.
  *
  * Assets the hash nulls out (garbage, the wrong modality, no-evidence
  * inputs) PASS THROUGH to the corpus unexamined — the gate dedups its
  * modality, media classification/garbage policy belongs upstream.
  */
private[streaming] object StreamMediaDedup {

  /** One micro-batch of the filter. `sigOf` is the scan-side signature
    * expression; `localSurvivors` the in-batch greedy dedup. */
  def dedupBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                 indexDir: String, sigOf: Column => Column,
                 localSurvivors: DataFrame => DataFrame,
                 maxHamming: Int, blocks: Int, maxBucket: Int): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(true) // pin: read multiple times below
    val local = localSurvivors(b)
      .localCheckpoint(true) // sigs + anti-join + write below
    val sigs = local.select(col("asset_id"), sigOf(col("media")).as("sig"))
      .where(col("sig").isNotNull)
    // existence-checked, never exception-guessed (the StreamNearDedup
    // round-6 lesson: a catch-all would swallow storage errors and admit
    // the batch without cross-corpus dedup)
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val index =
      if (fs.exists(indexPath))
        spark.read.parquet(indexDir).where(col("_batch") < batchId)
      else // first batch: no index yet
        sigs.limit(0).withColumn("_batch", lit(0L))
    val hits = Dedup.dhashIncremental(sigs, index, maxHamming, blocks, maxBucket)
    val dropIds = hits.select(col("new_id").as("asset_id")).distinct()
    val survivors = local.join(dropIds, Seq("asset_id"), "left_anti")
      .localCheckpoint(true) // materialize before touching output dirs
    Ledger.write(survivors, batchId, corpusDir)
    Ledger.write(
      survivors.select(col("asset_id"), sigOf(col("media")).as("sig"))
        .where(col("sig").isNotNull),
      batchId, indexDir)
  }

  /** Start the resident filter over a streaming (asset_id, media) frame. */
  def start(assets: DataFrame, corpusDir: String, indexDir: String,
            checkpointDir: String, sigOf: Column => Column,
            localSurvivors: DataFrame => DataFrame,
            maxHamming: Int, blocks: Int, maxBucket: Int): StreamingQuery =
    Resident.start(assets, checkpointDir)(
      dedupBatch(_, _, corpusDir, indexDir, sigOf, localSurvivors,
        maxHamming, blocks, maxBucket))

  /** Read the admitted corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)
}
