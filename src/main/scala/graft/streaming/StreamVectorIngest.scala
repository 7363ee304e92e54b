package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.GraphAnn

/** Streaming vector ingest into the persisted graph-ANN index —
  * [[GraphAnn.appendToGraphIndex]] as a resident query: embedding rows
  * arrive on a stream and each micro-batch LSM-appends into the index
  * built once by [[GraphAnn.buildGraphIndex]] (the
  * [[graft.ops.Similarity.appendToIvfIndex]] ingest path carried to
  * the graph family).
  *
  * Semantics and their limits, stated plainly:
  *   - Append is NOT replay-idempotent at the storage layer: a batch
  *     re-delivered after a checkpoint rollback appends its vector and
  *     edge files twice. Duplicate (src, dst) edges are harmless —
  *     [[GraphAnn.beamSearch]] dedupes every frontier — and duplicate
  *     vector rows of the SAME (id, vector) only widen scoring joins;
  *     they never change a top-k (equal sims tie-break to the same
  *     nid). Exact-once storage would need the `_batch`
  *     dynamic-overwrite ledger, which conflicts with the index's
  *     directory layout; the spec pins the search-result invariance
  *     instead.
  *   - Stream == batch by construction: appendToGraphIndex is a pure
  *     function of (index state, batch), so N micro-batches land the
  *     same edges as the same rows appended in N driver-side calls —
  *     the spec asserts identical search results, not file layouts.
  *   - Effective degree drifts up per append until a rebuild compacts
  *     (the LSM discipline documented on appendToGraphIndex).
  */
object StreamVectorIngest {

  /** One micro-batch: LSM-append into the index at `indexPath`. */
  def ingestBatch(batch: DataFrame, indexPath: String,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    if (batch.isEmpty) return
    GraphAnn.appendToGraphIndex(batch.sparkSession, indexPath, batch,
      idCol, vecCol)
  }

  /** Default compaction cadence: every 64th micro-batch. Nonzero ON
    * PURPOSE (r17 verdict item 7): a resident ingester at a 5 s
    * trigger is exactly the caller that must not be able to forget
    * compaction — append-only forever means unbounded file-count and
    * effective-degree drift. Defaulting it became safe once
    * compaction moved to crash-atomic epoch states: a crash
    * mid-compaction leaves the old epoch intact, and a concurrent
    * reader keeps a complete state for a full cycle. */
  val DefaultCompactEvery = 64

  /** Start the resident ingester over a streaming embedding frame.
    *
    * `compactEvery` > 0 runs [[GraphAnn.compactGraphIndex]] after every
    * N-th micro-batch (by batchId, so the cadence survives restarts) —
    * the [[StreamGk]] ledger discipline carried to the index: without
    * it a 5 s trigger appends ~17k edge/vector file waves a day and
    * effective degree drifts unboundedly between manual compactions.
    * foreachBatch is the index's sole writer, so the in-line compaction
    * is writer-serialized; a batch REPLAYED after a crash re-runs its
    * compaction, which is harmless (a deterministic fold of whatever
    * state it reads, committed as a fresh epoch). Pass 0 explicitly
    * for append-only ingest with offline compaction. */
  def start(vectors: DataFrame, indexPath: String, checkpointDir: String,
            idCol: String = "vec_id",
            vecCol: String = "embedding",
            compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    Resident.start(vectors, checkpointDir) { (batch, batchId) =>
      ingestBatch(batch, indexPath, idCol, vecCol)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        GraphAnn.compactGraphIndex(batch.sparkSession, indexPath)
    }

  /** Search the live index (any prefix of the stream is searchable). */
  def search(spark: SparkSession, indexPath: String, queries: DataFrame,
             k: Int = 5, beam: Int = 16, hops: Int = 2): DataFrame =
    GraphAnn.searchGraphIndex(spark, indexPath, queries, k, beam, hops)
}
