package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Similarity

/** Streaming semantic-contamination gate —
  * [[graft.ops.Similarity.semanticContamination]] (q189: corpus
  * vectors vs a broadcast benchmark probe set, 3dp-rounded cosine
  * threshold) as a resident query, the [[StreamChat]]/[[StreamPref]]
  * intake pattern applied to the embedding leg: vector batches arrive
  * on a stream, each micro-batch scores against the FIXED benchmark
  * set, and the batch splits into the clean corpus (vectors no probe
  * matched) and the quarantine drop list (matched vectors with their
  * hit count and strongest cosine — the triage columns an eval-leak
  * owner reads first).
  *
  * The benchmark frame is static for the life of the query (eval sets
  * version slowly; restart the gate to rotate them — same contract as
  * [[StreamNearDedup]]'s threshold), so the gate is STATELESS across
  * batches: scoring is per-batch against a broadcast side, no index,
  * no cross-batch state. Exactly-once comes entirely from the ledger
  * discipline ([[StreamKmv]] contract): both outputs land in `_batch`
  * partitions via dynamic overwrite, so a replayed batch rewrites its
  * own partitions with identical content. Caller contract: benchmark
  * ids must not collide with corpus ids (remap probes, the q189
  * +1e6 convention) — the self-pair guard keys on id equality.
  *
  * Shape at scale: each micro-batch is one scan-side broadcast join +
  * map-side-combined groupBy (the q189 census: no window, vectors
  * never shuffle); batch cost is |batch|·|bench| dot products,
  * independent of corpus history. */
object StreamContam {

  /** One micro-batch: score against the bench set, split, land both
    * sides. */
  def gateBatch(batch: DataFrame, batchId: Long, bench: DataFrame,
                corpusDir: String, quarantineDir: String,
                minCos: Double = 0.6, idCol: String = "vec_id",
                vecCol: String = "embedding"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val hits = Similarity.semanticContamination(b, bench, minCos,
        idCol, vecCol).localCheckpoint(true)
      (b.join(hits.select(col("nid").as(idCol)), Seq(idCol), "left_anti"),
        hits)
    }

  /** Start the resident gate over a streaming vector frame (idCol,
    * vecCol: array<float>). */
  def start(vectors: DataFrame, bench: DataFrame, corpusDir: String,
            quarantineDir: String, checkpointDir: String,
            minCos: Double = 0.6, idCol: String = "vec_id",
            vecCol: String = "embedding"): StreamingQuery =
    Resident.start(vectors, checkpointDir)(gateBatch(_, _, bench, corpusDir,
      quarantineDir, minCos, idCol, vecCol))

  /** The admitted clean vectors (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine drop list: (nid, n_probes_hit, max_cos3). */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
