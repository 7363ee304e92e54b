package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Similarity

/** Streaming vector ingest into the persisted IVF index —
  * [[Similarity.appendToIvfIndex]] as a resident query, the
  * [[StreamVectorIngest]] twin for the IVF family: embedding rows
  * arrive on a stream and each micro-batch assigns to its nearest
  * frozen centroid and APPENDS into the index built once by
  * [[Similarity.buildIvfIndex]].
  *
  * Semantics, stated plainly (the StreamVectorIngest contract, which
  * this family inherits verbatim):
  *   - Per-batch cost is the batch alone — assignment reads the tiny
  *     centroid sidecar, the write touches only the batch's list
  *     partitions, and NOTHING rereads the corpus.
  *   - Append is not replay-idempotent at the storage layer; a
  *     re-delivered batch lands its rows twice. Search folds one
  *     survivor per (qid, nid) ([[Similarity.searchIvfIndex]]), so
  *     top-k results are replay-invariant — spec-pinned.
  *   - `compactEvery` > 0 runs [[Similarity.compactIvfIndex]] after
  *     every N-th micro-batch (by batchId, restart-stable): folds the
  *     replay duplicates and resets per-list file counts to one file
  *     per list, bounding the file-count drift a 5 s trigger would
  *     otherwise accumulate (~17k append waves/day). foreachBatch is
  *     the sole writer, so the in-line compaction is serialized.
  *   - The quantizer stays frozen (standard until drift warrants a
  *     retrain — rebuild with [[Similarity.buildIvfIndex]] when
  *     assignment distances creep).
  */
object StreamIvfIngest {

  /** One micro-batch: assign-and-append into the index at `indexPath`. */
  def ingestBatch(batch: DataFrame, indexPath: String,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    if (batch.isEmpty) return
    Similarity.appendToIvfIndex(batch.sparkSession, indexPath, batch,
      idCol, vecCol)
  }

  /** [[StreamVectorIngest.DefaultCompactEvery]]'s IVF twin — same
    * rationale, same crash-atomic epoch foundation. */
  val DefaultCompactEvery = 64

  /** Start the resident ingester over a streaming embedding frame.
    * Pass `compactEvery = 0` explicitly for append-only ingest with
    * offline compaction. */
  def start(vectors: DataFrame, indexPath: String, checkpointDir: String,
            idCol: String = "vec_id",
            vecCol: String = "embedding",
            compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    Resident.start(vectors, checkpointDir) { (batch, batchId) =>
      ingestBatch(batch, indexPath, idCol, vecCol)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        Similarity.compactIvfIndex(batch.sparkSession, indexPath)
    }

  /** Search the live index (any prefix of the stream is searchable). */
  def search(spark: SparkSession, indexPath: String, queries: DataFrame,
             k: Int = 5, nprobe: Int = 2): DataFrame =
    Similarity.searchIvfIndex(spark, indexPath, queries, k, nprobe)
}
