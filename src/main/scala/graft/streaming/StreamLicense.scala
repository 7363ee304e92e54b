package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Quality

/** Streaming license-compliance gate — [[Quality.licenseCensus]] as a
  * resident query (The Stack/BigCode run exactly this census before
  * anything else touches a code/web crawl): documents arrive on a
  * stream, each micro-batch is censused, and the batch splits by the
  * q213 verdict:
  *
  *  - `permissive` documents land in the corpus;
  *  - everything else — `copyleft`, `other-spdx` (declared but not
  *    recognizably permissive: the conservative read a compliance gate
  *    must take), and `none` (unlicensed) — goes to QUARANTINE for
  *    review, carrying its census columns (spdx_id, the phrase-hit
  *    flags, license_class) so the reviewer sees WHY without re-running
  *    the regexes.
  *
  * The census is per-document, so the gate is STATELESS across batches
  * (the [[StreamPii]] discipline): no index, no cross-batch joins.
  * Exactly-once comes from the ledger discipline — both outputs land in
  * `_batch` partitions via dynamic overwrite, so a replayed batch
  * rewrites its own partitions with identical content. */
object StreamLicense {

  /** One micro-batch: census, split by verdict, land both sides. */
  def gateBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                quarantineDir: String, idCol: String = "doc_id",
                textCol: String = "text"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val census = Quality.licenseCensus(b, idCol, textCol)
        .localCheckpoint(true) // feeds both splits
      val withCensus = b.join(census, Seq(idCol))
      (withCensus.where(col("license_class") === "permissive"),
        withCensus.where(col("license_class") =!= "permissive"))
    }

  /** Start the resident gate over a streaming document frame. */
  def start(docs: DataFrame, corpusDir: String, quarantineDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text"): StreamingQuery =
    Resident.start(docs, checkpointDir)(
      gateBatch(_, _, corpusDir, quarantineDir, idCol, textCol))

  /** The admitted, permissively-licensed corpus. */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine: copyleft/unlicensed docs with their census
    * columns. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
