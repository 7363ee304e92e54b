package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Web

/** Streaming per-domain opt-out governance gate — [[Web.domainOptOut]]
  * as a resident query, the ingest twin of q216/q217: crawl records
  * arrive on a stream, each micro-batch's canonical hosts are checked
  * against the opt-out registry (suffix semantics, longest match), and
  * the batch splits:
  *
  *  - governed documents (a registry domain matched) go to the DROPPED
  *    store with their longest-match attribution — the per-domain audit
  *    trail a takedown/opt-out process must produce;
  *  - unmatched documents land in the corpus.
  *
  * The registry loads ONCE in [[start]] and every micro-batch closes
  * over it (the [[StreamCluster]] discipline — a per-batch re-read
  * would rescan the registry store every few seconds AND make replays
  * depend on when the registry grew). Registry updates take effect by
  * restarting the stream — the standard deploy model for broadcast-side
  * reference data, and what keeps replay idempotency unconditional:
  * the verdict is a pure function of (batch, loaded registry), so both
  * outputs land in `_batch` partitions via dynamic overwrite and a
  * replayed batch rewrites its own partitions with identical content.
  * The per-batch gate itself is STATELESS (the [[StreamPii]]
  * discipline): no index, no cross-batch joins. */
object StreamOptOut {

  /** One micro-batch against an already-loaded registry. */
  def gateBatchWith(batch: DataFrame, batchId: Long, registry: DataFrame,
                    corpusDir: String, droppedDir: String,
                    urlCol: String = "url",
                    idCol: String = "doc_id"): Unit =
    Gate.batch(batch, batchId, corpusDir, droppedDir) { b =>
      val verdict = Web.domainOptOut(b, registry, urlCol, idCol)
        .localCheckpoint(true)
      (b.join(verdict.where(col("kept")).select(col(idCol)), Seq(idCol)),
        b.join(verdict.where(!col("kept"))
          .select(col(idCol), col("host"), col("optout_domain")), Seq(idCol)))
    }

  /** Start the resident gate over a streaming crawl frame. `registryDir`
    * is a parquet store with a `domain` column; it loads ONCE here. */
  def start(docs: DataFrame, registryDir: String, corpusDir: String,
            droppedDir: String, checkpointDir: String,
            urlCol: String = "url", idCol: String = "doc_id"): StreamingQuery = {
    val registry = docs.sparkSession.read.parquet(registryDir)
      .select(col("domain")).localCheckpoint(true)
    Resident.start(docs, checkpointDir)(
      gateBatchWith(_, _, registry, corpusDir, droppedDir, urlCol, idCol))
  }

  /** The admitted corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The dropped store: governed docs with host + matched domain. */
  def dropped(spark: SparkSession, droppedDir: String): DataFrame =
    Ledger.read(spark, droppedDir)

  /** The registry-side audit over the lifetime dropped store (the q217
    * shape — zero-hit entries surface). */
  def audit(spark: SparkSession, droppedDir: String,
            registryDir: String): DataFrame = {
    val reg = spark.read.parquet(registryDir).select(col("domain"))
    val counts = dropped(spark, droppedDir)
      .groupBy(col("optout_domain")).agg(count(lit(1)).as("_n"))
    reg.join(broadcast(counts), col("domain") === col("optout_domain"), "left")
      .select(col("domain"), coalesce(col("_n"), lit(0L)).as("n_dropped"))
  }
}
