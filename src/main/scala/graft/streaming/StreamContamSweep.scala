package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Pipeline

/** Streaming COMPOSED decontamination gate —
  * [[graft.ops.Pipeline.contaminationGate]] (the q243 sweep's
  * per-batch form) as a resident query, the [[StreamContam]] intake
  * pattern widened from one leg to all three: document batches
  * (id, text, embedding) arrive on a stream, each micro-batch takes
  * the reason-coded verdict against the FIXED references — the bench
  * text set (lexical grams), the probe matrix (semantic cosine), and
  * a [[graft.ops.Retrieval.bm25Frozen]] scoring table (BM25 triage by
  * threshold; rank-based top-k is a corpus-global statement a
  * per-batch resident cannot make) — and splits into the admitted
  * corpus and the quarantine list carrying the verdict columns.
  *
  * All three references are static for the life of the query (eval
  * sets and reference snapshots version slowly; restart to rotate —
  * the [[StreamContam]]/[[StreamNearDedup]] contract), so the gate is
  * STATELESS across batches and stream == batch holds exactly on any
  * prefix: every leg is per-doc against a fixed broadcast side.
  * Exactly-once comes entirely from the `_batch` ledger discipline
  * ([[StreamKmv]] contract): both outputs land in `_batch` partitions
  * via dynamic overwrite, so a replayed batch rewrites its own
  * partitions with identical content.
  *
  * Shape at scale: per batch, the lexical leg winnows grams scan-side
  * against the broadcast bench gram set, the BM25 leg is one
  * map-side-combined postings agg against the broadcast frozen table,
  * the semantic leg is a broadcast dot-product census — no window, no
  * cross-batch state, text and vectors never shuffle. */
object StreamContamSweep {

  /** One micro-batch: verdict against the fixed references, split,
    * land both sides. */
  def gateBatch(batch: DataFrame, batchId: Long, bench: DataFrame,
                benchVecs: DataFrame, frozen: DataFrame,
                corpusDir: String, quarantineDir: String,
                minScoreFx: Long, minCos: Double = 0.6,
                n: Int = 5, minOverlapPct: Long = 20L,
                idCol: String = "doc_id", textCol: String = "text",
                vecCol: String = "embedding"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val v = Pipeline.contaminationGate(b, bench, benchVecs, frozen,
        minScoreFx, n, minOverlapPct, minCos,
        idCol = idCol, textCol = textCol, vecCol = vecCol)
        .localCheckpoint(true)
      (b.join(v.where(col("kept")).select(col(idCol)), Seq(idCol), "left_semi"),
        v.where(!col("kept")))
    }

  /** Start the resident gate over a streaming (idCol, textCol, vecCol)
    * document frame. */
  def start(docs: DataFrame, bench: DataFrame, benchVecs: DataFrame,
            frozen: DataFrame, corpusDir: String, quarantineDir: String,
            checkpointDir: String, minScoreFx: Long,
            minCos: Double = 0.6, n: Int = 5, minOverlapPct: Long = 20L,
            idCol: String = "doc_id", textCol: String = "text",
            vecCol: String = "embedding"): StreamingQuery =
    Resident.start(docs, checkpointDir)(gateBatch(_, _, bench, benchVecs, frozen,
      corpusDir, quarantineDir, minScoreFx, minCos, n, minOverlapPct,
      idCol, textCol, vecCol))

  /** The admitted clean documents (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine list: the gate's verdict columns for every
    * non-clean doc. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
