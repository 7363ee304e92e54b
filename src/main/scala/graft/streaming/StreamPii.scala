package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Curate

/** Streaming PII compliance gate — [[Curate.luhnAudit]] +
  * [[Curate.redactPii]] as a resident query: documents arrive on a
  * stream, each micro-batch is audited for checksum-VALID payment-card
  * numbers (a Luhn pass separates real cards from invoice numbers and
  * timestamps — the q204 contract), and the batch splits:
  *
  *  - documents carrying a valid card go to QUARANTINE for review —
  *    pattern-redaction is not enough for confirmed card data; the
  *    quarantined text has every card-length digit run replaced by
  *    `[CARD]` AND the ordinary email/phone scrub applied (the
  *    quarantine table is long-lived — it must not be the one place
  *    unredacted pattern-PII survives), and carries the count plus
  *    the last-4 masks, so the reviewer sees the evidence without the
  *    quarantine table itself re-publishing the numbers;
  *  - clean documents land in the corpus with the ordinary email/phone
  *    scrub ([[Curate.redactPii]]) applied on the way in.
  *
  * The audit is per-document, so the gate is STATELESS across batches
  * (the [[StreamChat]] discipline): no index, no cross-batch joins.
  * Exactly-once comes from the ledger discipline — both outputs land in
  * `_batch` partitions via dynamic overwrite, so a replayed batch
  * rewrites its own partitions with identical content. */
object StreamPii {

  /** One micro-batch: audit, split, land both sides. */
  def gateBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                quarantineDir: String, idCol: String = "doc_id",
                textCol: String = "text"): Unit =
    Gate.batch(batch, batchId, corpusDir, quarantineDir) { b =>
      val flagged = Curate.luhnAudit(b, idCol, textCol)
        .where(col("luhn_valid"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_valid_cards"),
          array_sort(collect_list(col("masked"))).as("masked_cards"))
        .localCheckpoint(true) // feeds the quarantine AND the anti-join
      // quarantine gets the FULL scrub too (card runs -> [CARD] plus the
      // email/phone redaction): the quarantine table is long-lived and
      // must not be the one place unredacted pattern-PII survives
      val quarantined = Curate.redactPii(b.join(flagged, Seq(idCol))
        .withColumn(textCol,
          regexp_replace(col(textCol), Curate.cardRunPattern, "[CARD]")),
        textCol)
      val clean = Curate.redactPii(
        b.join(flagged.select(col(idCol)), Seq(idCol), "left_anti"), textCol)
      (clean, quarantined)
    }

  /** Start the resident gate over a streaming document frame. */
  def start(docs: DataFrame, corpusDir: String, quarantineDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text"): StreamingQuery =
    Resident.start(docs, checkpointDir)(
      gateBatch(_, _, corpusDir, quarantineDir, idCol, textCol))

  /** The admitted, scrubbed corpus (internal batch column dropped). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    Ledger.read(spark, corpusDir)

  /** The quarantine: card-bearing docs with counts and last-4 masks. */
  def quarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    Ledger.read(spark, quarantineDir)
}
