package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Curate

/** Streaming per-domain admission cap: the ingest-side form of
  * [[graft.ops.Curate.capPerDomain]] — admit at most `k` documents per
  * domain ACROSS THE LIFETIME of the stream, so a mega-domain crawl burst
  * can't flood the corpus no matter how many micro-batches it spans.
  *
  * State is not an executor-memory map but a tiny parquet ledger of
  * (domain, admitted-count, _batch): each micro-batch reads the ledger
  * (domains × batches rows — KBs at crawl scale), broadcast-joins the
  * remaining budget onto the batch, admits the batch's md5-ranked first
  * `remaining` docs per domain (rank via [[Curate.capPerDomain]], so the
  * within-batch selection is deterministic and skew-bounded), and appends
  * its own ledger partition. Per-batch cost is O(|batch| + |ledger|);
  * the corpus is never re-read.
  *
  * Exactly-once despite replays — the same discipline as
  * [[StreamNearDedup]]: both outputs are partitioned by `_batch` with
  * dynamic partition overwrite (a replayed batch rewrites its own
  * partition), and the ledger read excludes `_batch >= batchId`
  * (partition-pruned), so a replay of batch N sees exactly the budget
  * state batches 0..N-1 left behind and re-derives the identical
  * admitted set.
  */
object StreamDomainCap {

  /** One micro-batch of the admission gate; exposed for direct testing.
    * `salt` keys the within-batch md5 rank (passed through to
    * [[Curate.capPerDomain]]) so composed pipelines — StreamCurate —
    * can match their batch twin's selection exactly. */
  def capBatch(batch: DataFrame, batchId: Long, outDir: String,
               ledgerDir: String, domainCol: String, idCol: String,
               k: Int, salt: String = "graft"): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(true) // pin: rank + write below
    val ledgerPath = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = ledgerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // prior admitted counts; existence-checked, never exception-guessed
    // (the StreamNearDedup round-6 lesson: a catch-all would treat any
    // storage error as "no ledger" and over-admit past the cap)
    // Ledger.live (not a bare `_batch < batchId` filter): after a
    // compaction, liveness must resolve through the watermark rule or a
    // crash-leftover positive partition at/below the watermark would be
    // double-counted into the budget; live() also REJECTS a replay of a
    // batch at or below the watermark loudly (such a batch was
    // committed, so the contract says it can never replay — silence
    // there would mean budget corruption)
    val admitted =
      if (fs.exists(ledgerPath))
        Ledger.live(spark, ledgerDir, batchId - 1)
          .groupBy(col(domainCol))
          .agg(sum(col("admitted")).as("_prior"))
      else
        b.select(col(domainCol)).limit(0)
          .withColumn("_prior", lit(0L))
    // rank within the batch (k is an upper bound on any batch's
    // admissions, so capPerDomain's two-level rank needs no more), then
    // keep rank <= remaining lifetime budget
    val survivors = Curate.capPerDomain(b, domainCol, idCol, k, salt)
      .join(broadcast(admitted), Seq(domainCol), "left")
      .where(col("rk") <= lit(k.toLong) - coalesce(col("_prior"), lit(0L)))
      .drop("rk", "_prior")
      .localCheckpoint(true) // materialize before touching output dirs
    Ledger.write(survivors, batchId, outDir)
    Ledger.write(
      survivors.groupBy(col(domainCol)).agg(count(lit(1)).as("admitted")),
      batchId, ledgerDir)
  }

  /** Start the resident admission gate over a streaming doc frame.
    * `compactEvery` > 0 folds the budget ledger on the
    * [[Ledger.compactThrough]] schedule. */
  def start(docs: DataFrame, outDir: String, ledgerDir: String,
            checkpointDir: String, domainCol: String = "source",
            idCol: String = "doc_id", k: Int = 1000,
            compactEvery: Int = 0): StreamingQuery =
    Resident.start(docs, checkpointDir) { (batch, batchId) =>
      capBatch(batch, batchId, outDir, ledgerDir, domainCol, idCol, k)
      Ledger.compactThrough(compactEvery, batchId)
        .foreach(compact(batch.sparkSession, ledgerDir, _, domainCol))
    }

  /** Collapse committed ledger batches ≤ `upTo` into one per-domain
    * count partition (the [[Ledger]] negative-watermark discipline).
    * Exact: admitted counts are additive, so every future batch's
    * budget read folds the summed partition identically — and the
    * reader-side watermark rule keeps a crashed cleanup from ever
    * double-counting a batch into the lifetime budget. */
  def compact(spark: SparkSession, ledgerDir: String, upTo: Long,
              domainCol: String = "source"): Unit = {
    if (Ledger.labels(spark, ledgerDir).isEmpty) return // nothing landed yet
    Ledger.writeCompacted(spark, ledgerDir, upTo,
      Ledger.live(spark, ledgerDir, upTo)
        .groupBy(col(domainCol)).agg(sum(col("admitted")).as("admitted")))
  }

  /** Read the admitted stream (internal batch column dropped). */
  def admitted(spark: SparkSession, outDir: String): DataFrame =
    Ledger.read(spark, outDir)
}
