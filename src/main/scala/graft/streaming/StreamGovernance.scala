package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Pipeline

/** Streaming governance sweep — [[Pipeline.governanceSweep]] (q238/
  * q242) as a resident query, the ingest twin of the composed
  * compliance pipeline: crawl records arrive on a stream, every
  * micro-batch runs the full precedence chain (opted_out >
  * robots_blocked when a robots corpus is given > license > pii >
  * unreadable > keep), and the batch splits:
  *
  *  - `keep` documents land in the corpus with their verdict columns;
  *  - everything else goes to QUARANTINE carrying the reason code and
  *    every gate's evidence (host, matched opt-out domain, license
  *    class, fre_milli, pii flag) — the reviewer sees WHY without
  *    re-running any gate.
  *
  * The opt-out registry — and, when given, the robots corpus (host,
  * text), parsed through [[graft.ops.Web.robotsRules]] — loads ONCE in
  * [[start]] (the [[StreamOptOut]] discipline — per-batch re-reads
  * would rescan the stores every few seconds and make replays depend
  * on when they grew); all
  * other gates are per-document functions, so the sweep is STATELESS
  * across batches and replay idempotency is unconditional: the verdict
  * is a pure function of (batch, loaded registry). Exactly-once from
  * the ledger discipline — both outputs land in `_batch` partitions
  * via dynamic overwrite. */
object StreamGovernance {

  /** One micro-batch against an already-loaded registry. */
  def gateBatchWith(batch: DataFrame, batchId: Long, registry: DataFrame,
                    corpusDir: String, quarantineDir: String,
                    minFreMilli: Long = 30000L,
                    idCol: String = "doc_id", urlCol: String = "url",
                    textCol: String = "text",
                    robotsRules: Option[DataFrame] = None,
                    bot: String = "graftbot"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val verdict = Pipeline.governanceSweep(b, registry, minFreMilli,
        idCol, urlCol, textCol, robotsRules, bot).localCheckpoint(true)
      val joined = b.join(verdict, Seq(idCol))
      (joined.where(col("kept")), joined.where(!col("kept")))
    }

  /** Start the resident sweep over a streaming crawl frame.
    * `registryDir` is a parquet store with a `domain` column;
    * `robotsDir`, when given, a parquet store of (host, text) robots
    * documents parsed once here for the URL-level RFC 9309 gate. */
  def start(docs: DataFrame, registryDir: String, corpusDir: String,
            quarantineDir: String, checkpointDir: String,
            minFreMilli: Long = 30000L,
            idCol: String = "doc_id", urlCol: String = "url",
            textCol: String = "text",
            robotsDir: Option[String] = None,
            bot: String = "graftbot"): StreamingQuery = {
    val registry = docs.sparkSession.read.parquet(registryDir)
      .select(col("domain")).localCheckpoint(true)
    val robots = robotsDir.map(d => graft.ops.Web.robotsRules(
      docs.sparkSession.read.parquet(d)).localCheckpoint(true))
    Resident.start(docs, checkpointDir)(gateBatchWith(_, _, registry, corpusDir,
      quarantineDir, minFreMilli, idCol, urlCol, textCol, robots, bot))
  }

  /** The admitted corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine: reason-coded rejects with every gate's evidence. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
