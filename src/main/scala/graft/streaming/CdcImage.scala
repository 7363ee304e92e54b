package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Cdc

/** Continuously-maintained CDC image: the streaming twin of
  * Cdc.latestImage (q51). A keyed change stream folds, per micro-batch,
  * into a queryable latest-image parquet table — upsert-mode MERGE
  * semantics on a plain parquet lake, no table format required.
  *
  * Scale design — the image is hash-bucketed on the key
  * (`_kb = pmod(xxhash64(key), nBuckets)` partition column) and each
  * batch rewrites ONLY the buckets it touches:
  *   1. the batch's bucket set is computed (tiny distinct);
  *   2. the existing image is read WITH a partition filter on those
  *      buckets (partition pruning — untouched buckets are never read);
  *   3. latestImage merges existing ∪ batch for those buckets;
  *   4. dynamic partition overwrite replaces only those bucket
  *      directories (`partitionOverwriteMode=dynamic`).
  * Per-batch cost is proportional to touched-bucket volume, not image
  * size — the same incremental-MERGE shape lakehouse formats schedule,
  * expressed with stock parquet. localCheckpoint truncates lineage
  * before the overwrite so the job never reads a path it is replacing.
  */
object CdcImage {

  def mergeBatch(batch: DataFrame, imageDir: String,
                 keyCols: Seq[String], versionCols: Seq[String],
                 nBuckets: Int): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val kb = pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets)).cast("int")
    val b = batch.withColumn("_kb", kb).localCheckpoint(true)
    val touched = b.select(col("_kb")).distinct()
      .collect().map(_.getInt(0)).toSeq // <= nBuckets ints: driver-safe
    // first batch decided from the listing, never exception-guessed: a
    // catch-all would read a storage or footer error as "no image yet",
    // and the overwrite below would then replace every touched bucket
    // with this batch's rows alone, silently dropping the history
    val existing =
      if (Ledger.partitions(spark, imageDir, "_kb").isEmpty) b.limit(0)
      else spark.read.parquet(imageDir).where(col("_kb").isin(touched: _*))
    // latestVersions (NOT latestImage): tombstones are stored so a bucket
    // emptied by deletes still appears in the output — dynamic overwrite
    // only rewrites partitions PRESENT in the new data, so a rowless
    // bucket would otherwise keep its stale files (found by CdcImageSpec)
    val merged = Cdc.latestVersions(existing.unionByName(b), keyCols, versionCols)
      .localCheckpoint(true) // materialize BEFORE overwriting source files
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("_kb").parquet(imageDir)
  }

  /** Start the resident image-maintenance query. */
  def start(changes: DataFrame, imageDir: String, checkpointDir: String,
            keyCols: Seq[String], versionCols: Seq[String],
            nBuckets: Int = 64): StreamingQuery =
    Resident.start(changes, checkpointDir)((batch, _) =>
      mergeBatch(batch, imageDir, keyCols, versionCols, nBuckets))

  /** Read the current image: tombstones filtered, internal bucket column
    * dropped. (Compaction = rewrite buckets with tombstones removed once
    * no replayable offsets can resurrect them.) */
  def read(spark: SparkSession, imageDir: String,
           opCol: String = "op", deleteOp: String = "d"): DataFrame =
    spark.read.parquet(imageDir).where(col(opCol) =!= deleteOp).drop("_kb")
}
