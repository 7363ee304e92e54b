package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Gk

/** Streaming quantile tracking via the mergeable GK summary (q163) —
  * "what is the p50/p99 of everything this stream has EVER carried" as
  * a resident query with bounded state: per-value streaming aggregation
  * state grows with distinct values, while a GK summary is
  * O((1/ε)·log(εn)) tuples forever.
  *
  * Ledger discipline (the [[StreamKmv]] contract): each micro-batch
  * reduces ITS OWN values to one summary (the mergeable Aggregator —
  * values never leave their tasks) and lands the summary's tuples in a
  * `_batch` partition with dynamic overwrite — never a read-modify-write
  * of global state. GK merge is associative with absolutely-additive
  * rank uncertainty (the Gk object doc), so the lifetime summary is
  * re-derived on read by folding the per-batch summaries in batch
  * order — deterministic, replay-stable (a replayed batch rewrites its
  * partition with identical content), and nothing corrupts on partial
  * failure. The per-batch partitions double as a time series: folding
  * partitions ≤ b answers "the quantiles as of batch b", and adjacent
  * windows difference into per-window drift input.
  */
object StreamGk {

  /** One micro-batch: summarize the batch's column, land the tuples. */
  def summaryBatch(batch: DataFrame, batchId: Long, colName: String,
                   eps: Double, ledgerDir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    import spark.implicits._
    val rows = batch
      .where(col(colName).isNotNull)
      .select(col(colName).cast("double").as("x")).as[Double]
      .groupByKey(_ => 0) // one summary; partials merge map-side
      .agg(new Gk.GkSummaryAgg(eps).toColumn.name("t"))
      .flatMap(_._2)
      .toDF("tuple_idx", "v", "g", "d")
    Ledger.write(rows, batchId, ledgerDir)
  }

  /** Start the resident tracker over a streaming frame.
    * `compactEvery` > 0 folds the ledger every that-many batches on the
    * [[Ledger.compactThrough]] schedule (a replay of a batch just re-runs
    * the same idempotent compaction). 0 leaves compaction to the caller. */
  def start(stream: DataFrame, colName: String, eps: Double,
            ledgerDir: String, checkpointDir: String,
            compactEvery: Int = 0): StreamingQuery =
    Resident.start(stream, checkpointDir) { (batch, batchId) =>
      summaryBatch(batch, batchId, colName, eps, ledgerDir)
      Ledger.compactThrough(compactEvery, batchId)
        .foreach(compact(batch.sparkSession, ledgerDir, _, eps))
    }

  /** Lifetime summary: live per-batch summaries folded in batch order
    * (a compacted partition sorts first — it IS the fold prefix).
    * BOUNDED collect — #live batches × O((1/ε)·log(εn)) tuple rows,
    * never data values. Before any batch lands the summary is empty
    * (NaN quantiles), not an error. */
  def lifetimeSummary(spark: SparkSession, ledgerDir: String,
                      eps: Double): Gk.Summary =
    foldThrough(spark, ledgerDir, eps, Long.MaxValue)

  private def foldThrough(spark: SparkSession, ledgerDir: String,
                          eps: Double, upTo: Long): Gk.Summary = {
    val path = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return new Gk.Summary(eps)
    val rows = Ledger.live(spark, ledgerDir, upTo)
      .select(col("_batch"), col("tuple_idx").cast("int"),
        col("v"), col("g"), col("d"))
      .collect() // bounded: ledger tuples, never data (see doc)
    val byBatch = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    byBatch.foldLeft(new Gk.Summary(eps)) { case (acc, (_, rs)) =>
      acc.mergeWith(Gk.fromTuples(eps,
        rs.sortBy(_.getInt(1)).map(r => (r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq))
    }
  }

  /** Collapse committed batches ≤ `upTo` into ONE summary partition
    * (the [[Ledger]] negative-watermark discipline). Value-exact: the
    * compacted summary is the same left fold [[lifetimeSummary]] would
    * compute over those batches, and GK's compress is idempotent at
    * fixed n, so re-merging the compacted summary into an empty one
    * reproduces it tuple-for-tuple — the post-compaction lifetime fold
    * equals the pre-compaction one value for value (spec-pinned). Only
    * checkpoint-committed batch ids may be passed (the replay rule in
    * the Ledger doc). */
  def compact(spark: SparkSession, ledgerDir: String, upTo: Long,
              eps: Double): Unit = {
    import spark.implicits._
    val s = foldThrough(spark, ledgerDir, eps, upTo)
    s.flush()
    val tuples = (0 until s.size).map(i => (i, s.vs(i), s.gs(i), s.ds(i)))
    Ledger.writeCompacted(spark, ledgerDir, upTo,
      tuples.toDF("tuple_idx", "v", "g", "d"))
  }

  /** Lifetime quantiles as (p, q) rows. */
  def quantiles(spark: SparkSession, ledgerDir: String, eps: Double,
                ps: Seq[Double]): DataFrame = {
    import spark.implicits._
    val s = lifetimeSummary(spark, ledgerDir, eps)
    ps.map(p => (p, s.query(p))).toDF("p", "q")
  }
}
