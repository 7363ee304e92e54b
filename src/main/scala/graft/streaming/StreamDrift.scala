package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Quality

/** Streaming per-source distribution-drift monitor — `quantileDrift`
  * (q166) as a resident query. Edges are FIT ONCE on a reference
  * corpus and persisted (the fitCurationModel discipline: a stream
  * cannot see a global distribution, and per-batch edges would make
  * bucket membership depend on batch boundaries); each micro-batch
  * then reduces to per-(source, bucket) COUNTS — the additive state
  * drift needs — landed in a `_batch` ledger partition with dynamic
  * overwrite (the [[StreamKmv]] discipline: no read-modify-write,
  * replay rewrites identical content). The report folds the ledger by
  * plain summation, so stream == batch EXACTLY: the report over
  * batches 0..b equals [[Quality.quantileDriftWithEdges]] over the
  * union of those batches with the same edges (spec-pinned, value for
  * value) — counts are associative, unlike any sketch. Ledger volume:
  * #batches × sources × (edges+1) rows, never data. */
object StreamDrift {

  /** Fit the bucket edges on a reference frame and persist them. Exact
    * in-plan percentile here (one reference pass at fit time);
    * production can pass GK-sketch edges through `saveEdges` instead —
    * the monitor only needs SOME fixed, shared edge vector. */
  def fitEdges(reference: DataFrame, valueCol: String, edgesDir: String,
               ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): Unit = {
    val edges = reference
      .where(col(valueCol).isNotNull)
      .agg(percentile(col(valueCol).cast("double"),
        array(ps.map(lit): _*)).as("es"))
      .select(posexplode(col("es")).as(Seq("i", "edge")))
    edges.coalesce(1).write.mode("overwrite").parquet(edgesDir)
  }

  /** Persist caller-computed edges (e.g. from `Gk.groupedQuantiles`). */
  def saveEdges(spark: SparkSession, edges: Seq[Double],
                edgesDir: String): Unit = {
    import spark.implicits._
    edges.zipWithIndex.map { case (e, i) => (i, e) }.toDF("i", "edge")
      .coalesce(1).write.mode("overwrite").parquet(edgesDir)
  }

  private def loadEdges(spark: SparkSession, edgesDir: String): Seq[Double] =
    spark.read.parquet(edgesDir).orderBy(col("i"))
      .collect().map(_.getDouble(1)).toSeq // bounded: the edge vector

  /** One micro-batch: bucket against the fixed edges, land the counts. */
  def countBatch(batch: DataFrame, batchId: Long, groupCol: String,
                 valueCol: String, edgesDir: String,
                 ledgerDir: String): Unit = {
    if (batch.isEmpty) return
    val edges = loadEdges(batch.sparkSession, edgesDir)
    val base = batch
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("x"))
    val counts = Quality.bucketCounts(base, edges)
    Ledger.write(counts, batchId, ledgerDir)
  }

  /** Start the resident monitor over a streaming frame. `compactEvery`
    * > 0 folds the ledger on the [[Ledger.compactThrough]] schedule. */
  def start(stream: DataFrame, groupCol: String, valueCol: String,
            edgesDir: String, ledgerDir: String,
            checkpointDir: String, compactEvery: Int = 0): StreamingQuery =
    Resident.start(stream, checkpointDir) { (batch, batchId) =>
      countBatch(batch, batchId, groupCol, valueCol, edgesDir, ledgerDir)
      Ledger.compactThrough(compactEvery, batchId)
        .foreach(compact(batch.sparkSession, ledgerDir, _))
    }

  /** The lifetime drift report: ledger counts summed (associative — the
    * exact stream==batch property), then the q166 report tail. Empty
    * before any batch lands. */
  def report(spark: SparkSession, ledgerDir: String, groupCol: String,
             driftPpm: Long = 100000L): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val counts =
      if (fs.exists(path))
        Ledger.live(spark, ledgerDir)
          .groupBy(col("g"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      else {
        import spark.implicits._
        Seq.empty[(String, Long, Long)].toDF("g", "bucket", "cnt")
      }
    Quality.driftFromCounts(counts, driftPpm, groupCol)
  }

  /** Collapse committed batches ≤ `upTo` into one per-(source, bucket)
    * count partition (the [[Ledger]] negative-watermark discipline).
    * Exact: counts are associative, so the summed partition folds into
    * every future report identically — and a duplicated partition would
    * double-count, which is exactly what the Ledger's reader-side
    * watermark rule prevents across a crashed cleanup. Only
    * checkpoint-committed batch ids may be passed. */
  def compact(spark: SparkSession, ledgerDir: String, upTo: Long): Unit = {
    if (Ledger.labels(spark, ledgerDir).isEmpty) return // nothing landed yet
    Ledger.writeCompacted(spark, ledgerDir, upTo,
      Ledger.live(spark, ledgerDir, upTo)
        .groupBy(col("g"), col("bucket")).agg(sum(col("cnt")).as("cnt")))
  }
}
