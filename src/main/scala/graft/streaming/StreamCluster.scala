package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Similarity

/** Streaming embedding-cluster gate — [[Similarity.kmeansAssignFromIndex]]
  * as a resident query against a PERSISTED k-means index (cluster once,
  * assign forever — the saveLm/IVF discipline): vectors arrive on a
  * stream, each micro-batch assigns to its nearest training centroid,
  * and the batch splits:
  *
  *  - in-distribution vectors (dist² within the cluster's TRAINING
  *    radius) land in the corpus with their (cluster, dist2) coordinates
  *    — the cluster-balanced-sampling input;
  *  - OUTLIERS (beyond any training radius, or unassignable) go to
  *    quarantine: an embedding the training corpus never came near is
  *    exactly what a drift/poisoning review wants to see first.
  *
  * Assignment is per-vector against bounded broadcast state, so the gate
  * is STATELESS across batches; exactly-once comes from the `_batch`
  * dynamic-overwrite ledger discipline ([[StreamChat]] contract). */
object StreamCluster {

  /** One micro-batch against a LOADED index (the resident path — the
    * index is immutable while the query runs, so it is read once in
    * [[start]], never per batch). The assignment is NOT pinned: it is a
    * zero-shuffle scan of the already-pinned batch against broadcast
    * centroids, so each side re-deriving it costs less than one more
    * checkpoint job per batch. */
  def gateBatchWith(batch: DataFrame, batchId: Long,
                    idx: Similarity.KmeansIndex, corpusDir: String,
                    quarantineDir: String, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val assigned = Similarity.assignAgainstIndex(b, idx, idCol, vecCol)
      (assigned.where(!col("outlier")).drop("outlier"),
        assigned.where(col("outlier")).drop("outlier"))
    }

  /** One-shot form for batch/replay callers: loads the index first. */
  def gateBatch(batch: DataFrame, batchId: Long, indexPath: String,
                corpusDir: String, quarantineDir: String,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): Unit =
    gateBatchWith(batch, batchId,
      Similarity.loadKmeansIndex(batch.sparkSession, indexPath),
      corpusDir, quarantineDir, idCol, vecCol)

  /** Start the resident gate over a streaming embedding frame. The
    * index loads ONCE here and every micro-batch closes over it. */
  def start(vecs: DataFrame, indexPath: String, corpusDir: String,
            quarantineDir: String, checkpointDir: String,
            idCol: String = "vec_id",
            vecCol: String = "embedding"): StreamingQuery = {
    val idx = Similarity.loadKmeansIndex(vecs.sparkSession, indexPath)
    Resident.start(vecs, checkpointDir)(
      gateBatchWith(_, _, idx, corpusDir, quarantineDir, idCol, vecCol))
  }

  /** Admitted vectors with their cluster coordinates. */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The outlier quarantine. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
