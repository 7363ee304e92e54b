package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sample-trained BPE tokenizer — the missing third of the BPE surface:
  * q34 counts pre-tokens, q73 is one pair-counting round, this TRAINS the
  * merge table and APPLIES it corpus-wide.
  *
  * Training follows the bounded-sample discipline every sketch/quantizer
  * here uses (Similarity.fitCentroids, FAISS's max_points_per_centroid):
  * merge quality saturates on a few hundred documents, so the trainer
  * collects a deterministic md5-ordered sample and runs classic
  * Sennrich-style BPE locally — zero Spark jobs per merge round. (The
  * all-corpus alternative is q73's shape once per merge: a 100 TB scan
  * PER ROUND. Real pipelines train on samples for exactly this reason.)
  * Ties break lexicographically, so the merge table is deterministic.
  *
  * Application is embarrassingly parallel: the merge table broadcasts
  * (it IS the tokenizer artifact), each executor encodes words with the
  * standard lowest-rank-first loop plus a per-partition word memo (real
  * tokenizers memoize — corpus word frequency is Zipfian, so the cache
  * hit rate is enormous). Per-doc outputs carry the invariants any BPE
  * must satisfy — token concat reassembles the word exactly (lossless),
  * n_words <= n_tokens <= n_units — as booleans the DuckDB oracle gates
  * (q97), same certification discipline as q25/q90; exact token counts
  * are pinned by the spec on hand-computed examples. */
object Bpe {

  /** Per-document char cap applied scan-side when collecting a training
    * sample: bounds driver bytes at sampleDocs * maxTrainChars regardless
    * of corpus pathology (shared by [[Wordpiece.trainVocab]] and
    * [[Unigram.trainVocab]]; mirrored in the unigram oracle CTE). */
  val maxTrainChars = 262144

  /** Pre-tokenize to merge units exactly like [[TextAnalysis.bpeTokens]]
    * (same regex, proven cross-engine by q34's oracle). */
  private[graft] val wordRe = TextAnalysis.bpePattern.r

  /** Classic BPE training over an in-memory text sample: count adjacent
    * unit pairs across the (word, freq) table, merge the most frequent
    * pair everywhere, repeat. Deterministic: ties on count break to the
    * lexicographically smallest pair. */
  private[graft] def trainLocal(texts: Seq[String], nMerges: Int): Seq[(String, String)] = {
    val words = mutable.Map.empty[Vector[String], Long]
    texts.foreach(t => wordRe.findAllIn(t).foreach { w =>
      val u = w.map(_.toString).toVector
      words(u) = words.getOrElse(u, 0L) + 1L
    })
    trainFromWords(words.toVector, nMerges)
  }

  /** The Sennrich merge loop over an already-unitized (units, freq)
    * table — shared with [[ByteBpe]], whose initial units are mapped
    * BYTES rather than chars. */
  private[graft] def trainFromWords(words: Vector[(Vector[String], Long)],
                                    nMerges: Int): Seq[(String, String)] = {
    var cur = words
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val pc = mutable.Map.empty[(String, String), Long]
      cur.foreach { case (units, c) =>
        var i = 0
        while (i + 1 < units.length) {
          val p = (units(i), units(i + 1))
          pc(p) = pc.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val best = pc.toVector.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        cur = cur.map { case (units, c) => (mergeOnce(units, best), c) }
        round += 1
      }
    }
    merges.result()
  }

  private[graft] def mergeOnce(units: Vector[String], p: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < units.length) {
      if (i + 1 < units.length && units(i) == p._1 && units(i + 1) == p._2) {
        out += units(i) + units(i + 1); i += 2
      } else { out += units(i); i += 1 }
    }
    out.result()
  }

  /** Train on a deterministic md5-ordered sample of `sampleDocs` docs —
    * bounded driver traffic at any corpus size. Each sampled text is
    * capped at [[Bpe.maxTrainChars]] chars AT COLLECT TIME (r14 verdict:
    * 256 docs bounds rows, not bytes — one pathological document must
    * not balloon the driver). */
  def trainMerges(documents: DataFrame, nMerges: Int, sampleDocs: Int = 256,
                  salt: String = "bpe"): Seq[(String, String)] = {
    val texts = documents
      .select(substring(col("text"), 1, Bpe.maxTrainChars).as("text"),
        md5(concat(col("doc_id").cast("string"), lit(salt))).as("_o"))
      .orderBy(col("_o"))
      .limit(sampleDocs)
      .select("text").collect().map(_.getString(0)).toSeq
    trainLocal(texts, nMerges)
  }

  /** Standard BPE encode of one word under a rank table: repeatedly merge
    * the adjacent pair with the LOWEST merge rank until none applies. */
  private[graft] def encodeWord(word: String, rank: Map[(String, String), Int]): Vector[String] = {
    var units = word.map(_.toString).toVector
    var done = units.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i + 1 < units.length) {
        val r = rank.getOrElse((units(i), units(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = i }
        i += 1
      }
      if (bestAt < 0) done = true
      else {
        units = units.take(bestAt) :+ (units(bestAt) + units(bestAt + 1)) :++ units.drop(bestAt + 2)
        if (units.length < 2) done = true
      }
    }
    units
  }

  /** Subword token count as a COLUMN function — the measure
    * [[Chat.packSpansSubword]] threads through the SFT packing path so
    * context budgets are true subword counts, not pre-token counts:
    * pre-tokenize with the q34 regex, encode each pre-token with the
    * broadcast rank table, sum the lengths. Per-token-boundary
    * additivity (the property the packing arithmetic relies on) holds
    * by construction: merges apply WITHIN one pre-token, so
    * ntok(a ++ "\n" ++ b) = ntok(a) + ntok(b) — '\n' never joins a
    * pre-token and contributes zero tokens. NULL-safe (0). The
    * [[applyMerges]] corpus pass keeps its per-partition Zipf memo;
    * this column form keeps a per-thread, capped one ([[NtokMemo]]). */
  def ntokCol(documents: DataFrame, merges: Seq[(String, String)]): Column => Column = {
    val rankB = documents.sparkSession.sparkContext
      .broadcast(merges.zipWithIndex.toMap)
    // Zipf memo after all (r19; the [[applyMerges]] device — "marginal"
    // was wrong where the measure runs 3 UDF calls per turn over
    // template-heavy segments: role headers and common words repeat
    // constantly, and encodeWord is O(len²) rank scans per MISS).
    val memo = new NtokMemo
    val f = udf { (s: String) =>
      if (s == null) 0L
      else {
        val rank = rankB.value
        var n = 0L
        wordRe.findAllIn(s).foreach(w =>
          n += memo(w)(encodeWord(w, rank).length.toLong))
        n
      }
    }
    (c: Column) => f(c)
  }

  /** Words [[ntokCol]]'s memo keeps per thread; past it, misses just
    * recompute. */
  private[graft] val NtokMemoCap = 1 << 14

  /** [[ntokCol]]'s word -> token count memo: per thread and capped. Each
    * task deserializes its own copy of the UDF closure, but a UDF
    * `ConvertToLocalRelation` folds on the driver runs the ONE captured
    * instance, from every thread that plans a query over it. */
  private final class NtokMemo extends Serializable {
    @transient private lazy val local =
      ThreadLocal.withInitial[mutable.HashMap[String, Long]](() => mutable.HashMap.empty)
    def apply(w: String)(count: => Long): Long = {
      val m = local.get
      m.getOrElse(w, {
        val n = count
        if (m.size < NtokMemoCap) m.update(w, n)
        n
      })
    }
  }

  /** Apply a trained merge table corpus-wide. Output per doc: the
    * oracle-recomputable pre-token stats plus the BPE invariants as
    * booleans; exact `n_tokens` stays available to callers and specs. */
  def applyMerges(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    val rankB = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_words", LongType, nullable = false),
      StructField("n_units", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("lossless_ok", BooleanType, nullable = false),
      StructField("bounded_ok", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    documents.select(col("doc_id").cast("long"), col("text"))
      .mapPartitions { it: Iterator[Row] =>
        val rank = rankB.value
        val memo = mutable.Map.empty[String, Vector[String]] // Zipf cache
        it.map { r =>
          val id = r.getLong(0)
          val text = r.getString(1)
          var nWords = 0L; var nUnits = 0L; var nTokens = 0L
          var lossless = true
          wordRe.findAllIn(text).foreach { w =>
            val toks = memo.getOrElseUpdate(w, encodeWord(w, rank))
            nWords += 1; nUnits += w.length; nTokens += toks.length
            if (toks.mkString != w) lossless = false
          }
          Row(id, nWords, nUnits, nTokens, lossless,
            nWords <= nTokens && nTokens <= nUnits)
        }
      }(enc)
  }
}
