package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Cdc

/** Continuously-maintained SCD2 history: the streaming twin of
  * Cdc.scd2/scd2Merge (q95/q101), with the same bucket-pruned parquet
  * layout as [[CdcImage]] — per micro-batch the change slice folds into
  * the history table, touching only the key-hash buckets it mentions:
  *   1. the batch's bucket set is computed (tiny distinct);
  *   2. existing history is read with a partition filter on those buckets
  *      (untouched buckets are never read — closed versions elsewhere are
  *      immutable by construction);
  *   3. Cdc.scd2Merge closes the open versions of touched keys and chains
  *      the batch's own versions;
  *   4. dynamic partition overwrite replaces only those bucket dirs.
  * Per-batch cost ∝ touched-bucket volume, not history size. The ordered-
  * log contract (each key's new sequences exceed its stored ones) is
  * exactly what a checkpointed CDC source delivers. Stream == batch is
  * asserted by the spec: after N arbitrary micro-batch splits, the stored
  * history equals Cdc.scd2 over the concatenated log. */
object Scd2Image {

  def mergeBatch(batch: DataFrame, historyDir: String, keyCols: Seq[String],
                 seqCol: String, nBuckets: Int): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val kb = pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets)).cast("int")
    val b = batch.withColumn("_kb", kb).localCheckpoint(true)
    val touched = b.select(col("_kb")).distinct()
      .collect().map(_.getInt(0)).toSeq // <= nBuckets ints: driver-safe
    // first batch from the listing, never exception-guessed (the
    // [[CdcImage]] rule: a swallowed read error would overwrite the
    // touched buckets' history with this batch alone)
    val existing =
      if (Ledger.partitions(spark, historyDir, "_kb").isEmpty)
        Cdc.scd2(b.limit(0), keyCols, seqCol)
      else spark.read.parquet(historyDir).where(col("_kb").isin(touched: _*))
    val merged = Cdc.scd2Merge(existing, b, keyCols, seqCol)
      .localCheckpoint(true) // materialize BEFORE overwriting source files
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("_kb").parquet(historyDir)
  }

  /** Start the resident history-maintenance query. */
  def start(changes: DataFrame, historyDir: String, checkpointDir: String,
            keyCols: Seq[String], seqCol: String,
            nBuckets: Int = 64): StreamingQuery =
    Resident.start(changes, checkpointDir)((batch, _) =>
      mergeBatch(batch, historyDir, keyCols, seqCol, nBuckets))

  /** Read the history table (internal bucket column dropped). */
  def read(spark: SparkSession, historyDir: String): DataFrame =
    spark.read.parquet(historyDir).drop("_kb")
}
