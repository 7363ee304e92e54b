package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Dedup

/** Streaming near-duplicate filter: the ingest-side MinHash gate a
  * training-data pipeline runs BEFORE documents ever land in the corpus.
  * Each micro-batch is (1) deduped within itself, (2) deduped against the
  * persisted index of everything previously admitted, and (3) its
  * survivors appended — text to the corpus, LSH rows to the index. The
  * reference has no analog (its stream is event fanout, pipeline/app.py);
  * this composes the batch pieces (Dedup.minhashIndex /
  * incrementalDuplicates) into the resident form.
  *
  * Scale design — per-batch cost is O(|batch| + matching index buckets),
  * never a corpus rescan: the cross-corpus step is an equi-join on banded
  * LSH keys against a parquet index that carries signatures, so admitted
  * TEXT is never re-read or re-shingled. At 100 TB the index is ~1% of
  * corpus bytes and the join shuffles only the batch side plus touched
  * postings.
  *
  * Exactly-once despite replays — both outputs are partitioned by
  * `_batch` and written with dynamic partition overwrite, so a replayed
  * micro-batch rewrites its own partition instead of appending twice.
  * The index read excludes partitions `_batch >= batchId` (partition
  * pruning, no data read): a replay of batch N sees exactly the index
  * state batches 0..N-1 produced, making the survivor set deterministic
  * — without the filter, a replayed batch would find ITS OWN rows in the
  * index and drop every document as a self-duplicate.
  */
object StreamNearDedup {

  /** One micro-batch of the filter; exposed for direct testing. */
  def dedupBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                 indexDir: String, tau: Double = 0.7, bands: Int = 8,
                 rowsPerBand: Int = 4, n: Int = 3,
                 maxBucket: Int = 1000): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(true) // pin: read multiple times below
    val local = Dedup.minhashSurvivors(b, tau)
    // Existence-checked, not exception-guessed: a catch-all here would
    // also swallow transient storage/permission/corrupt-footer errors and
    // silently admit the batch WITHOUT cross-corpus dedup (round-6
    // advice). Only the legitimate first-batch missing-directory case may
    // fall back to an empty index; everything else must surface.
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val index =
      if (fs.exists(indexPath))
        spark.read.parquet(indexDir).where(col("_batch") < batchId)
      else // first batch: no index yet
        Dedup.minhashIndex(b.limit(0), bands, rowsPerBand, n)
          .withColumn("_batch", lit(0L))
    val hits = Dedup.incrementalDuplicates(local, index, tau, bands,
      rowsPerBand, n, maxBucket)
    val dropIds = hits.select(col("new_id").as("doc_id")).distinct()
    val survivors = local.join(dropIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // materialize before touching output dirs
    Ledger.write(survivors, batchId, corpusDir)
    Ledger.write(Dedup.minhashIndex(survivors, bands, rowsPerBand, n),
      batchId, indexDir)
  }

  /** Start the resident filter over a streaming (doc_id, text) frame. */
  def start(docs: DataFrame, corpusDir: String, indexDir: String,
            checkpointDir: String, tau: Double = 0.7, bands: Int = 8,
            rowsPerBand: Int = 4, n: Int = 3,
            maxBucket: Int = 1000): StreamingQuery =
    Resident.start(docs, checkpointDir)(
      dedupBatch(_, _, corpusDir, indexDir, tau, bands, rowsPerBand, n,
        maxBucket))

  /** Read the admitted corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** Compact the index's per-batch partitions: batches 0..upTo rewrite
    * into ONE partition labeled `_batch=0`, then the stale directories
    * are dropped. Long-running filters need this — one partition (often
    * one small file) per micro-batch is the small-file failure mode of
    * every streaming-maintained table, and at a 5 s trigger that is
    * 17k directories a day.
    *
    * Correctness under the `_batch < batchId` replay contract: label 0
    * keeps every compacted row visible to all FUTURE batches (0 < k),
    * and only batches at or below the last CHECKPOINT-COMMITTED id may
    * be compacted (pass upTo accordingly) — those can never replay, so
    * no reader ever filters them out. A crash between the rewrite and
    * the cleanup leaves rows duplicated across partitions; the search
    * path tolerates that (candidate pairs are de-duplicated, survivors
    * derive from distinct ids) and the next compaction heals it. */
  def compactIndex(spark: SparkSession, indexDir: String, upTo: Long,
                   numFiles: Int = 4): Unit = {
    require(upTo >= 1, "compacting batch 0 alone is a no-op")
    val compacted = spark.read.parquet(indexDir)
      .where(col("_batch") <= upTo).drop("_batch")
      .repartition(numFiles)
      .localCheckpoint(true) // materialize BEFORE overwriting source files
    Ledger.write(compacted, 0L, indexDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    Ledger.labels(spark, indexDir).filter(l => l > 0 && l <= upTo)
      .foreach(l => fs.delete(
        new org.apache.hadoop.fs.Path(indexDir, s"_batch=$l"), true))
  }
}
