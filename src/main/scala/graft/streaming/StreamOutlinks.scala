package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.LinkGraph

/** Streaming outlink harvest — [[LinkGraph.outlinks]] (q251) as a
  * resident query: crawled pages arrive on a stream (the
  * [[graft.sources.Warc.streamWet]] intake shape), each micro-batch's
  * hrefs are extracted, RFC 3986-resolved, canonicalized, and landed
  * as the per-link edge ledger the periodic host-graph/PageRank job
  * ([[LinkGraph.hostGraph]]/[[LinkGraph.hostRank]]) folds from.
  *
  * Extraction is a pure function of each page, so the harvest is
  * STATELESS across batches (the [[StreamPii]]/[[StreamReadability]]
  * discipline): replay idempotency is unconditional, and exactly-once
  * comes from the `_batch` dynamic-overwrite ledger. The GRAPH is
  * deliberately NOT maintained incrementally here: PageRank is a
  * whole-graph iteration, so the resident keeps the edge ledger
  * additive and the rank job reads any prefix of it — the same
  * ledger-then-batch split as [[StreamDatasheet]]'s dup-exposure leg. */
object StreamOutlinks {

  /** One micro-batch: extract and land the edge rows. */
  def harvestBatch(batch: DataFrame, batchId: Long, linksDir: String,
                   idCol: String = "doc_id", urlCol: String = "url",
                   htmlCol: String = "html"): Unit = {
    if (batch.isEmpty) return
    Ledger.write(LinkGraph.outlinks(batch, idCol, urlCol, htmlCol), batchId,
      linksDir)
  }

  /** Start the resident harvester over a streaming page frame. */
  def start(pages: DataFrame, linksDir: String, checkpointDir: String,
            idCol: String = "doc_id", urlCol: String = "url",
            htmlCol: String = "html"): StreamingQuery =
    Resident.start(pages, checkpointDir)(
      harvestBatch(_, _, linksDir, idCol, urlCol, htmlCol))

  /** The accumulated edge ledger (any prefix is a valid graph). */
  def links(spark: SparkSession, linksDir: String): DataFrame =
    Ledger.read(spark, linksDir)

  /** Fold the ledger to the current host-quality prior. */
  def hostRank(spark: SparkSession, linksDir: String,
               iters: Int = 3): DataFrame =
    LinkGraph.hostRank(links(spark, linksDir), iters)
}
