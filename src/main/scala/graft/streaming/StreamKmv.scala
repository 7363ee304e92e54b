package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Kmv

/** Streaming distinct-cardinality tracking via the KMV sketch (q154) —
  * "how many distinct users/documents/keys has this stream EVER seen"
  * as a resident query, without unbounded state: per-key streaming
  * `dropDuplicates` state grows with the true cardinality, while the
  * sketch is ≤ k longs per micro-batch forever.
  *
  * Ledger discipline (the [[StreamMediaDedup]] contract): each
  * micro-batch writes ITS OWN sketch to a `_batch` partition with
  * dynamic overwrite — never a read-modify-write of one global file.
  * KMV union is idempotent and commutative (set union + trim), so the
  * lifetime sketch is re-derived on read by merging all partitions
  * (#batches · k longs — tiny), a replayed batch rewrites its partition
  * with identical content, and no batch's write depends on reading
  * earlier state (nothing to corrupt on partial failure). The per-batch
  * partitions double as a time series: merging partitions `<= b` gives
  * the distinct count as of batch b.
  */
object StreamKmv {

  /** One micro-batch: sketch the batch's column, land it in the ledger. */
  def sketchBatch(batch: DataFrame, batchId: Long, colName: String,
                  k: Int, sketchDir: String): Unit = {
    if (batch.isEmpty) return
    val sk = Kmv.sketch(batch, colName, k)
    Ledger.write(sk, batchId, sketchDir)
  }

  /** Start the resident tracker over a streaming frame. `compactEvery`
    * > 0 folds the ledger on the [[Ledger.compactThrough]] schedule. */
  def start(stream: DataFrame, colName: String, k: Int, sketchDir: String,
            checkpointDir: String, compactEvery: Int = 0): StreamingQuery =
    Resident.start(stream, checkpointDir) { (batch, batchId) =>
      sketchBatch(batch, batchId, colName, k, sketchDir)
      Ledger.compactThrough(compactEvery, batchId)
        .foreach(compact(batch.sparkSession, sketchDir, _, k))
    }

  /** Lifetime sketch: all per-batch partitions merged (≤ #batches·k
    * longs through one distinct + sort-limit). Before any non-empty
    * batch has landed (sketchBatch skips empty ones, so the directory
    * may not exist yet) the sketch is empty, not an error — a monitor
    * polling [[estimate]] during warm-up reads n_kept 0 / est 0. */
  def lifetimeSketch(spark: SparkSession, sketchDir: String,
                     k: Int): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(sketchDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all =
      if (fs.exists(path)) Ledger.live(spark, sketchDir)
      else {
        import spark.implicits._
        Seq.empty[Long].toDF("v")
      }
    all.select(col("v")).distinct().orderBy(col("v")).limit(k)
  }

  /** Collapse committed batches ≤ `upTo` into one k-minima partition
    * (the [[Ledger]] negative-watermark discipline). Exact: a value
    * dropped here is above the k-th minimum of the compacted subset, so
    * k values below it survive into every future union — it could never
    * have been among the lifetime k minima. Only checkpoint-committed
    * batch ids may be passed (the replay rule in the Ledger doc). */
  def compact(spark: SparkSession, sketchDir: String, upTo: Long,
              k: Int): Unit = {
    if (Ledger.labels(spark, sketchDir).isEmpty) return // nothing landed yet
    Ledger.writeCompacted(spark, sketchDir, upTo,
      Ledger.live(spark, sketchDir, upTo)
        .select(col("v")).distinct().orderBy(col("v")).limit(k))
  }

  /** Lifetime estimate: one row of the q154 fields. */
  def estimate(spark: SparkSession, sketchDir: String, k: Int): DataFrame =
    Kmv.estimate(lifetimeSketch(spark, sketchDir, k), k)
}
