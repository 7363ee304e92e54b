package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Columnar analytics sink — the Spark-native analog of the reference's
  * ClickHouse table (clickhouse/init.sql:20-22: MergeTree PARTITION BY
  * toYYYYMM(event_ts), ORDER BY (content_id, event_ts)):
  *
  *   - parquet, partitioned by `event_month` (yyyy-MM of event_ts) — the
  *     monthly partition pruning readers get for free;
  *   - rows sorted within files by (content_id, event_ts) — min/max
  *     page/row-group skipping on the clustering key, like the MergeTree
  *     ORDER BY. The sort leads with `event_month`: a partitioned write
  *     needs its rows ordered by the partition column, and when the plan's
  *     order does not start with it Spark adds its own `Sort(event_month)`,
  *     which replaces (not refines) an earlier within-partition sort;
  *   - an append-time `processed_ts` audit column (init.sql:18).
  *
  * A batch produces one file per month it touches instead of
  * (#partitions x #months) small files — at 100 TB the file count, not the
  * bytes, is what kills the downstream metastore/scan planning. The write
  * gets there with `coalesce(1)`, not a shuffle by month: one task sorts
  * the batch by month and the partitioned writer rolls to a new file at
  * each month boundary. A shuffle by month also writes each month from
  * one task, so the files are the same, but it costs an exchange, its
  * shuffle stage and, under adaptive execution, a job to materialize it.
  *
  * `coalesce(1)` also pulls everything upstream of it into that one
  * task, so [[write]] expects a MATERIALIZED frame: a persisted batch
  * whose cache was already filled by a parallel job, as
  * [[graft.streaming.Fanout.processBatch]] does. Over an unmaterialized
  * plan it is correct but computes the whole plan on one core. */
object ParquetSink {

  def write(batch: DataFrame, dir: String, tsCol: String = "event_ts"): Unit =
    batch
      .withColumn("event_month", date_format(col(tsCol), "yyyy-MM"))
      .withColumn("processed_ts", current_timestamp())
      .coalesce(1)
      .sortWithinPartitions(col("event_month"), col("content_id"), col(tsCol))
      .write
      .mode("append")
      .partitionBy("event_month")
      .parquet(dir)

  /** Compaction: streaming appends leave one file per (micro-batch, month)
    * — after a day of 5 s triggers that is ~17k files/month, and file
    * COUNT (listing, footers, task scheduling) is what degrades first at
    * scale, not bytes. Rewrites each month into `filesPerMonth` files,
    * restoring the (content_id, ts) sort order that makes min/max skipping
    * work. Dynamic partition overwrite: only months present in the data
    * are replaced; run it on recent months, not the whole table. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              filesPerMonth: Int = 1, tsCol: String = "event_ts"): Unit =
    // localCheckpoint: materializes the read and cuts the file-source
    // lineage so overwriting the same path is legal. At petabyte scale
    // compact month-by-month into a temp prefix + atomic rename instead
    // of holding a month in block storage.
    spark.read.parquet(dir).localCheckpoint()
      .repartition(col("event_month"),
        pmod(xxhash64(col("content_id"), col(tsCol)), lit(filesPerMonth.toLong)))
      .sortWithinPartitions(col("event_month"), col("content_id"), col(tsCol))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_month")
      .parquet(dir)
}
