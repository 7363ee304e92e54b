package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming per-source DATASHEET census —
  * [[graft.ops.Quality.datasheet]] (q195: volume, exact-dup exposure,
  * modal language per source) as a resident with an ADDITIVE `_batch`
  * ledger (the [[StreamDrift]] shape). The datasheet's sufficient
  * statistics all fold by plain summation, so the report over batches
  * 0..b equals the batch datasheet over their union EXACTLY
  * (spec-pinned, value for value):
  *
  *  - `vol` ledger: per (source, lang) doc and char counts — volume
  *    AND the modal-language census in one audit-sized frame
  *    (#batches × sources × langs rows);
  *  - `hash` ledger: per (source, md5(text)) doc counts — the one
  *    statistic that is genuinely corpus-keyed, because dup exposure
  *    quantifies over GLOBAL hash frequency (a doc's twin may arrive
  *    batches later in another source). Rows are (string, 32-hex,
  *    long) — never text — and compaction folds replicates away, so
  *    the steady state is one row per distinct (source, hash): the
  *    [[StreamNearDedup]] index argument at a fraction of its width.
  *
  * NULL folding matches the batch op exactly (source/lang to '',
  * NULL text to a per-doc surrogate hash so it can never look
  * duplicated). Replay idempotency is the [[StreamKmv]] dynamic-
  * overwrite discipline; compaction is the [[Ledger]]
  * negative-watermark contract on BOTH ledgers — only
  * checkpoint-committed batches may be folded. */
object StreamDatasheet {

  /** The q195 base projection: one narrow row per doc, text reduced to
    * its md5 scan-side (text never lands in any ledger). */
  private def base(batch: DataFrame, sourceCol: String, langCol: String,
                   idCol: String, textCol: String): DataFrame =
    batch.select(
      coalesce(col(sourceCol), lit("")).as("source"),
      coalesce(col(langCol), lit("")).as("_lang"),
      coalesce(length(col(textCol)).cast("long"), lit(0L)).as("_nc"),
      coalesce(md5(col(textCol).cast("binary")),
        concat(lit("n:"), col(idCol).cast("string")),
        // NULL text AND NULL id: a per-row unique surrogate, so such
        // rows can never read as mutual exact-duplicates in the ledger
        // (r14 advice — concat(NULL) collapsed them into one group)
        concat(lit("u:"), expr("uuid()"))).as("_h"))

  /** One micro-batch: land both partial-count partitions. */
  def countBatch(batch: DataFrame, batchId: Long, volDir: String,
                 hashDir: String, sourceCol: String = "source",
                 langCol: String = "lang", idCol: String = "doc_id",
                 textCol: String = "text"): Unit = {
    if (batch.isEmpty) return
    val b = base(batch, sourceCol, langCol, idCol, textCol)
      .localCheckpoint(true) // two rollups below
    Ledger.write(b.groupBy(col("source"), col("_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nc")).as("n_chars")),
      batchId, volDir)
    Ledger.write(b.groupBy(col("source"), col("_h")).agg(count(lit(1)).as("cnt")),
      batchId, hashDir)
  }

  /** Start the resident census. `compactEvery` > 0 folds both ledgers
    * on the [[Ledger.compactThrough]] schedule. */
  def start(docs: DataFrame, volDir: String, hashDir: String,
            checkpointDir: String, compactEvery: Int = 0,
            sourceCol: String = "source", langCol: String = "lang",
            idCol: String = "doc_id",
            textCol: String = "text"): StreamingQuery =
    Resident.start(docs, checkpointDir) { (batch, batchId) =>
      countBatch(batch, batchId, volDir, hashDir, sourceCol, langCol, idCol,
        textCol)
      Ledger.compactThrough(compactEvery, batchId)
        .foreach(compact(batch.sparkSession, volDir, hashDir, _))
    }

  /** The lifetime datasheet: both ledgers folded by summation, then
    * the exact q195 tail — same rounding, same modal-language
    * tie-break (count desc, lang asc). Empty before any batch lands. */
  def report(spark: SparkSession, volDir: String,
             hashDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!exists(volDir) || !exists(hashDir)) {
      import spark.implicits._
      return Seq.empty[(String, Long, Long, Long, Long, String, Long)]
        .toDF("source", "n_docs", "n_chars", "mean_chars",
          "exact_dup_ppm", "top_lang", "top_lang_ppm")
    }
    val lc = Ledger.live(spark, volDir)
      .groupBy(col("source"), col("_lang"))
      .agg(sum(col("n_docs")).as("_lc"), sum(col("n_chars")).as("_lnc"))
    val vol = lc.groupBy(col("source"))
      .agg(sum(col("_lc")).as("n_docs"), sum(col("_lnc")).as("n_chars"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("_lc").desc, col("_lang").asc)
    val top = lc.withColumn("_rn", row_number().over(wTop))
      .where(col("_rn") === 1)
      .select(col("source"), col("_lang").as("top_lang"),
        col("_lc").as("_tc"))
    val hs = Ledger.live(spark, hashDir)
      .groupBy(col("source"), col("_h")).agg(sum(col("cnt")).as("_c"))
    val df = hs.groupBy(col("_h")).agg(sum(col("_c")).as("_df"))
    val dd = hs.join(df, Seq("_h"))
      .groupBy(col("source"))
      .agg(sum(when(col("_df") >= 2, col("_c")).otherwise(0L)).as("_dd"))
    vol.join(top, Seq("source")).join(dd, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        expr("n_chars div n_docs").as("mean_chars"),
        expr("cast((1000000 * cast(_dd as decimal(38,0))) div n_docs as bigint)")
          .as("exact_dup_ppm"),
        col("top_lang"),
        expr("cast((1000000 * cast(_tc as decimal(38,0))) div n_docs as bigint)")
          .as("top_lang_ppm"))
  }

  /** Fold committed batches ≤ `upTo` of BOTH ledgers (the [[Ledger]]
    * negative-watermark discipline; counts are associative so the
    * summed partitions read back identically). */
  def compact(spark: SparkSession, volDir: String, hashDir: String,
              upTo: Long): Unit = {
    if (Ledger.labels(spark, volDir).nonEmpty)
      Ledger.writeCompacted(spark, volDir, upTo,
        Ledger.live(spark, volDir, upTo)
          .groupBy(col("source"), col("_lang"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("n_chars")).as("n_chars")))
    if (Ledger.labels(spark, hashDir).nonEmpty)
      Ledger.writeCompacted(spark, hashDir, upTo,
        Ledger.live(spark, hashDir, upTo)
          .groupBy(col("source"), col("_h"))
          .agg(sum(col("cnt")).as("cnt")))
  }
}
