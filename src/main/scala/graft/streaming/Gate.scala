package graft.streaming

import org.apache.spark.sql.DataFrame

/** The quarantine-gate combinator under every intake resident
  * ([[StreamChat]], [[StreamCluster]], [[StreamContam]],
  * [[StreamContamSweep]], [[StreamGovernance]], [[StreamLicense]],
  * [[StreamPii]], [[StreamPref]], [[StreamReadability]],
  * [[StreamOptOut]]). A gate is its scorer and its split; everything
  * else is shared and lives here once:
  *
  *  - the empty-batch guard;
  *  - the input `localCheckpoint` (every split reads its batch more than
  *    once — score, then join back or filter — and a streaming source
  *    must not be re-read);
  *  - both outputs landed through [[Ledger.write]] as `_batch`
  *    partitions with dynamic overwrite, so a replayed batch rewrites
  *    its own partitions with identical content (exactly-once without
  *    cross-batch state — the [[StreamKmv]] ledger contract).
  *
  * Each gate starts through [[Resident.start]]; outputs read back with
  * [[Ledger.read]]. The checkpoint (scorer included), corpus and
  * quarantine jobs carry job descriptions `gate: checkpoint` /
  * `gate: corpus` / `gate: quarantine`. */
private[streaming] object Gate {

  /** One micro-batch: pin it, `split` it into (admitted, quarantined),
    * land both sides under `_batch = batchId`. */
  def batch(batch: DataFrame, batchId: Long, corpusDir: String,
            quarantineDir: String)
           (split: DataFrame => (DataFrame, DataFrame)): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val (admitted, quarantined) = JobLabel(spark, "gate: checkpoint") {
      split(batch.localCheckpoint(true))
    }
    JobLabel(spark, "gate: corpus")(Ledger.write(admitted, batchId, corpusDir))
    JobLabel(spark, "gate: quarantine") {
      Ledger.write(quarantined, batchId, quarantineDir)
    }
  }
}
