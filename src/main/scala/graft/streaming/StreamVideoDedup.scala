package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Dedup
import graft.expr.Exprs

/** Streaming perceptual VIDEO dedup: the ingest-side temporal gate — the
  * video member of the streaming media-dedup family
  * ([[StreamImageDedup]] dHash, [[StreamAudioDedup]] energy envelope,
  * [[StreamNearDedup]] text MinHash). The 64-bit-signature engine
  * ([[StreamMediaDedup]]) cannot carry it — a video's signature is a
  * shingle SET verified by jaccard, not a fixed-width hash verified by
  * Hamming — so this gate keeps the same batch/index/replay discipline
  * with a postings index:
  *
  *   1. in-batch greedy dedup ([[Dedup.videoSurvivors]], min-asset_id
  *      representative),
  *   2. cross-corpus dedup against the persisted postings index of
  *      everything previously admitted ([[Dedup.videoIncremental]] —
  *      admitted media is never re-read or re-decoded; the index holds
  *      ~one long per admitted FRAME, a ~0.01% shadow of video volume),
  *   3. survivors appended: media to the corpus, (video_id, sz, shingle)
  *      postings to the index.
  *
  * Replay contract — the [[StreamNearDedup]]/[[StreamMediaDedup]]
  * discipline verbatim: both outputs `_batch`-partitioned with dynamic
  * partition overwrite; the index read excludes `_batch >= batchId`
  * (partition-pruned) so a replayed micro-batch re-derives the identical
  * admitted set and rewrites its own partition instead of
  * self-duplicating.
  *
  * Assets the signature nulls out (garbage, stills, undecodable frames,
  * sub-n-frame clips) PASS THROUGH to the corpus unexamined — this gate
  * dedups videos, media classification/garbage policy belongs upstream.
  */
object StreamVideoDedup {

  /** One micro-batch of the filter; exposed for direct testing. */
  def dedupBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                 indexDir: String, n: Int = 2, minJaccard: Double = 0.5,
                 maxDf: Long = 1000L): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(true) // pin: read multiple times below
    val local = Dedup.videoSurvivors(b, n, minJaccard, maxDf)
      .localCheckpoint(true) // sigs + anti-join + write below
    // decode ONCE: the signature pass (container parse + per-frame
    // ImageIO + dHash) is the batch's most expensive step — pin it and
    // derive both the cross-corpus probe and the index append from the
    // same frame instead of re-decoding survivors
    val sigs = local.select(col("asset_id").as("video_id"),
      Exprs.videoShingles(col("media"), n).as("sh"))
      .where(col("sh").isNotNull && size(col("sh")) > 0)
      .localCheckpoint(true)
    // existence-checked, never exception-guessed (the StreamNearDedup
    // round-6 lesson)
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val index =
      if (fs.exists(indexPath))
        spark.read.parquet(indexDir).where(col("_batch") < batchId)
      else // first batch: no index yet
        sigs.select(col("video_id"), size(col("sh")).as("sz"),
          explode(col("sh")).as("s")).limit(0).withColumn("_batch", lit(0L))
    val hits = Dedup.videoIncremental(sigs, index, minJaccard, maxDf)
    val dropIds = hits.select(col("new_id").as("asset_id")).distinct()
    val survivors = local.join(dropIds, Seq("asset_id"), "left_anti")
      .localCheckpoint(true) // materialize before touching output dirs
    Ledger.write(survivors, batchId, corpusDir)
    Ledger.write(
      sigs.join(dropIds.withColumnRenamed("asset_id", "video_id"),
          Seq("video_id"), "left_anti")
        .select(col("video_id"), size(col("sh")).as("sz"),
          explode(col("sh")).as("s")),
      batchId, indexDir)
  }

  /** Start the resident filter over a streaming (asset_id, media) frame. */
  def start(assets: DataFrame, corpusDir: String, indexDir: String,
            checkpointDir: String, n: Int = 2, minJaccard: Double = 0.5,
            maxDf: Long = 1000L): StreamingQuery =
    Resident.start(assets, checkpointDir)(
      dedupBatch(_, _, corpusDir, indexDir, n, minJaccard, maxDf))

  /** Read the admitted corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)
}
