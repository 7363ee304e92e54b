package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `_batch` ledger discipline: every resident output lands through
  * [[write]] (one partition per micro-batch, replay-safe) and plain
  * outputs read back through [[read]].
  *
  * Compaction for `_batch`-partitioned streaming ledgers (StreamGk /
  * StreamKmv / StreamDrift). The ledgers are bounded per BATCH but not
  * in batch COUNT: at a 5 s trigger a resident monitor lands ~17k
  * partitions a day, and every read folds all of them. Compaction
  * collapses committed batches into one summary partition —
  * [[StreamNearDedup.compactIndex]] is the precedent, but these ledgers
  * need a STRONGER contract: near-dup index rows may be duplicated
  * harmlessly across a crash window (candidate pairs dedupe), while a
  * duplicated COUNT or sketch-tuple row corrupts the additive fold.
  *
  * Crash-safe labeling: the compacted summary of batches 0..u is
  * written as partition `_batch = -u` (negative labels = compacted,
  * positive labels = per-micro-batch), and readers resolve liveness
  * WITHOUT trusting cleanup: the newest compacted partition is the most
  * negative label m (watermark u = -m), and the live rows are exactly
  * that partition plus positive partitions ABOVE u. Stale partitions a
  * crashed cleanup left behind — positives ≤ u, older negatives — are
  * invisible to every reader and removed by the next compaction, so a
  * crash between the summary write and the cleanup never double-counts
  * (the partition write itself is the usual job-commit atomicity).
  *
  * Replay contract: per-batch writes are dynamic-overwrite keyed by the
  * batch id, so a replayed batch b > u rewrites its own positive
  * partition exactly as before. Only CHECKPOINT-COMMITTED batches may be
  * compacted (pass `upTo` accordingly, exactly the compactIndex rule):
  * a committed batch can never replay, so no write ever targets a
  * label at or below the watermark. A resident applies the rule through
  * [[compactThrough]].
  */
object Ledger {

  /** Land `rows` (WITHOUT a `_batch` column) as partition
    * `_batch=label` of `dir` — the one `_batch` writer. Dynamic
    * partition overwrite, so a replayed batch rewrites its own
    * partition and no other. The overwrite mode rides the write as an
    * option, never the session conf: residents sharing a session would
    * race on a conf set around each write. */
  def write(rows: DataFrame, label: Long, dir: String): Unit =
    rows.withColumn("_batch", lit(label)).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch")
      .parquet(dir)

  /** Every row of a `_batch` ledger, internal batch column dropped — the
    * one reader for outputs that are never compacted (corpus,
    * quarantine, admitted stores). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("_batch")

  /** Values of partition column `key` present under `dir`, from
    * directory names alone — no data read. Empty when the directory does
    * not exist (or a first write crashed: dynamic overwrite moves
    * partition directories in only at job commit). */
  private[streaming] def partitions(spark: SparkSession, dir: String,
                                    key: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$key="))
      .map(_.stripPrefix(s"$key="))
  }

  /** The `_batch` labels present under `dir`. */
  private[streaming] def labels(spark: SparkSession, dir: String): Seq[Long] =
    partitions(spark, dir, "_batch").map(_.toLong)

  /** The compaction watermark: batches ≤ this are folded into the
    * newest compacted partition. 0 when never compacted. */
  def watermark(spark: SparkSession, dir: String): Long =
    labels(spark, dir).filter(_ < 0).minOption.map(-_).getOrElse(0L)

  /** The ledger's LIVE rows (with `_batch` retained): the newest
    * compacted partition plus positive partitions in (watermark, upTo].
    * Stale crash-window partitions are filtered out here — this is the
    * one read path every consumer must use. The directory must exist
    * (callers own the warm-up empty case). */
  def live(spark: SparkSession, dir: String,
           upTo: Long = Long.MaxValue): DataFrame = {
    val ls = labels(spark, dir)
    val df = spark.read.parquet(dir)
      .withColumn("_batch", col("_batch").cast("long"))
    ls.filter(_ < 0).minOption match {
      case Some(m) =>
        val u = -m
        require(u <= upTo,
          s"compaction watermark $u already covers batches above bound $upTo")
        df.where(col("_batch") === m ||
          (col("_batch") > u && col("_batch") <= upTo))
      case None =>
        df.where(col("_batch") >= 0 && col("_batch") <= upTo)
    }
  }

  /** The in-stream compaction schedule: while processing batch
    * `batchId`, every `every` batches, compact through `batchId` − 1 —
    * committed before `batchId` starts, so the replay rule holds, and
    * at least 1 (batches 0 and 1 never trigger). `every` = 0 never
    * compacts. */
  def compactThrough(every: Int, batchId: Long): Option[Long] =
    if (every > 0 && batchId >= 2 && batchId % every == 0) Some(batchId - 1)
    else None

  /** Land `rows` (WITHOUT a `_batch` column) as the compacted summary of
    * batches ≤ `upTo`, then drop every partition it supersedes. The
    * rows are materialized BEFORE the write touches the directory (they
    * derive from the partitions being replaced). */
  def writeCompacted(spark: SparkSession, dir: String, upTo: Long,
                     rows: DataFrame, numFiles: Int = 1): Unit = {
    require(upTo >= 1, s"nothing to compact at upTo=$upTo")
    val compacted = rows
      .repartition(numFiles)
      .localCheckpoint(true) // materialize before overwriting source dirs
    write(compacted, -upTo, dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    labels(spark, dir)
      .filter(l => l > -upTo && l <= upTo) // stale positives AND older negatives
      .foreach(l => fs.delete(
        new org.apache.hadoop.fs.Path(dir, s"_batch=$l"), true))
  }
}
