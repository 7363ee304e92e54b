package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Inverted-index keyword retrieval with BM25 ranking (Robertson et al.,
  * Okapi TREC-3) — the lexical search half every curation stack needs
  * next to the ANN family (contamination probes, dedup triage, targeted
  * corpus slicing all start from "find the documents matching these
  * terms").
  *
  * Scoring is the standard BM25 shape with k1 = 1.2, b = 0.75, but in
  * EXACT FIXED-POINT INTEGERS so any engine replays it bit-for-bit (the
  * repo-wide oracle discipline; a floating Σ over terms is
  * addition-order-dependent across engines, so per-term scores are
  * floored to integers FIRST and only then summed):
  *
  *   idf_fx  = ((2N - 2·df + 1) · 10^6) div (2·df + 1)
  *             — (N - df + 0.5)/(df + 0.5) in millionths, the raw
  *             Robertson idf ratio. NO logarithm: floor-log2 (the only
  *             exact-integer log available, see Perplexity.ilog2) would
  *             collapse idf to ~30 distinct values and wreck ranking,
  *             and the q53 TF-IDF battery already established the
  *             ratio-idf precedent. Monotone in df, which is all
  *             ranking needs.
  *   avg_fx  = (Σ dl · 1000) div N          — mean doc length, milli.
  *   tfw_fx  = (22 · tf · avg_fx · 1000)
  *             div (10·avg_fx·tf + 3·avg_fx + 9000·dl)
  *             — tf·(k1+1) / (tf + k1·(1 - b + b·dl/avg)) in
  *             thousandths (≤ 2200), derived by multiplying through by
  *             20·avg_fx/2 so every constant is integral.
  *   term_fx = (idf_fx · tfw_fx) div 1000
  *   score   = Σ term_fx over distinct query terms (set semantics: a
  *             term repeated in a query scores once).
  *
  * Bounds: idf_fx ≤ 2N·10^6 and term_fx multiplies it by ≤ 2200, so the
  * arithmetic stays inside int64 for N up to ~2·10^9 docs per index —
  * shard the index (and merge top-k lists, which BM25 scores support:
  * df/N/avg must just be computed globally first) beyond that. A second,
  * independent bound lives in the tfw_fx NUMERATOR 22·tf·avg_fx·1000:
  * it overflows int64 when tf·avg_dl approaches ~4·10^11 (e.g. a
  * million-token term inside a corpus of million-token documents) —
  * chunk documents (the q47/q128 content-chunk pass) or cap tf at
  * ingest before that regime; tf beyond a few thousand is saturated by
  * BM25's k1 anyway (tfw_fx is within 1‰ of its 2200 asymptote), so a
  * cap loses nothing measurable.
  *
  * Scale shape: the postings build is the one token shuffle (groupBy
  * (doc, token) with map-side combine); queries are SMALL and broadcast
  * — the postings side is filtered to query terms BEFORE df/score work,
  * so a search touches only the matched postings lists, never the
  * corpus. No text moves after the index build.
  */
object Retrieval {

  private val ws = "\\s+"

  private def toks(text: Column): Column =
    filter(split(lower(text), ws), t => length(t) > 0)

  /** Inverted-index postings: one row per (token, doc) with the term
    * frequency and the doc's token count (dl). Docs with zero tokens
    * have no postings and are invisible to retrieval (nothing to match).
    * That uniqueness is [[bm25Search]]'s input contract: a union of
    * index shards must be re-aggregated to one row per (t, doc_id)
    * (summing tf) before it is searched. */
  def bm25Postings(documents: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    documents
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("_tk"))
      .select(col("doc_id"), size(col("_tk")).as("dl"), explode(col("_tk")).as("t"))
      .groupBy(col("t"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Top-`k` BM25 hits per query over a postings frame. `queries` is a
    * small (query_id, text) frame — its distinct terms broadcast into
    * the postings join, so cost is proportional to the matched postings
    * lists only. Output: (query_id, rank, doc_id, score_fx), rank 1..k
    * by score_fx DESC then doc_id ASC (total order — ties are real
    * under integer scores and must break deterministically).
    *
    * `postings` must hold ONE row per (t, doc_id), as [[bm25Postings]]
    * returns it: document frequency is a plain row count per term, so a
    * duplicated (t, doc) row — say, from unioned shards not
    * re-aggregated — silently inflates df. */
  def bm25Search(postings: DataFrame, queries: DataFrame, k: Int = 5,
                 queryIdCol: String = "query_id",
                 textCol: String = "text"): DataFrame = {
    // a caller who cached `postings` (build once, search many) owns that
    // cache: it is neither re-persisted nor released here
    val owned = postings.storageLevel == StorageLevel.NONE
    val (out, p) = bm25SearchPlan(postings, queries, k, queryIdCol, textCol)
    if (owned) Dedup.materializeAndRelease(out, p)
    else Dedup.materializeAndRelease(out)
  }

  /** The un-materialized search plan plus the cached postings
    * intermediate (the caller's own cache when `postings` already has
    * one) — split out so tests can inspect the join strategy
    * ([[bm25Search]] localCheckpoints, which truncates lineage). */
  private[graft] def bm25SearchPlan(postings: DataFrame, queries: DataFrame,
                                    k: Int, queryIdCol: String,
                                    textCol: String): (DataFrame, DataFrame) = {
    // Persist the POSTINGS, not the matched frame (r19, guide §2.4):
    // the corpus stats (doc-length distinct) and the matched build BOTH
    // consume the full postings frame — persisting only matched left
    // the stats leg re-running the whole corpus token shuffle, a second
    // postings evaluation per search call. This path's callers are the
    // contamination benches (document-sized query sets whose terms
    // cover most of the vocabulary), so matched ≈ postings anyway and
    // re-filtering it from the cache per consumer (a broadcast-hash
    // semi-filter over cached rows) is cheaper than materializing both.
    val p =
      if (postings.storageLevel == StorageLevel.NONE) postings.persist()
      else postings
    // global corpus stats: one tiny two-agg pass over the doc-length view
    val docLens = p.select(col("doc_id"), col("dl")).distinct()
    // `div` (not `/`): Column./ on longs is DOUBLE division, which loses
    // exactness past 2^53 — the whole point of fixed-point scoring
    val stats = docLens.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .select(col("n_docs"),
        expr("(total_len * 1000) div n_docs").as("avg_fx"))
    val qterms = queries
      .select(col(queryIdCol).as("query_id"), explode(array_distinct(toks(col(textCol)))).as("t"))
    // filter postings to query terms FIRST; df computed on the filtered
    // side is still the GLOBAL df (the filter is by term)
    val matched = p.join(broadcast(qterms.select(col("t")).distinct()), Seq("t"))
    (scoreTopK(matched, stats, qterms, k, dfViaWindow = false), p)
  }

  /** The scoring + ranking stage shared by the index path
    * ([[bm25SearchPlan]]) and the fused corpus path ([[bm25]]):
    * `matched` is the postings frame already restricted to query terms
    * (t, doc_id, dl, tf), `stats` the one-row (n_docs, avg_fx) frame,
    * `qterms` the exploded (query_id, t) pairs.
    *
    * `dfViaWindow` picks how the global df per term reaches the score:
    * the index path keeps the broadcast-aggregate form (matched derives
    * from the persisted postings there, so every read is a filtered
    * cache hit); the fused
    * path computes df as `count(*) over (partition by t)` — matched is
    * one row per (t, doc), so the window count IS df — because a
    * broadcast df subtree would re-derive matched from the scan with a
    * narrower projection (different Exchange, no AQE reuse) and the
    * un-persisted corpus leg would be computed twice (r18 measured:
    * that recompute is what kept q149/q243 slow). One term-keyed
    * exchange of the already-tiny matched frame replaces a second
    * corpus pass.
    *
    * Skew bound of the window form, documented (r18 advice): the
    * window partitions by the term alone, so a stopword-ish query term
    * that matches a large corpus fraction lands its whole postings
    * list in one partition. Fine when queries are genuinely
    * query-sized (the fused one-shot path's contract); callers whose
    * term sets approach the corpus vocabulary belong on the index path
    * (dfViaWindow = false — a broadcast groupBy(t) aggregate, exactly
    * how [[bm25SearchPlan]] computes df), which is also the documented
    * choice of the contamination callers. */
  private def scoreTopK(matched: DataFrame, stats: DataFrame,
                        qterms: DataFrame, k: Int,
                        dfViaWindow: Boolean): DataFrame = {
    val withDf =
      if (dfViaWindow)
        matched.withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("t"))))
      else {
        // matched is one row per (t, doc) BY CONSTRUCTION (bm25Postings
        // ends in groupBy(t, doc, dl) and dl is functionally dependent
        // on the doc), so df is a plain row count per term — the old
        // (t, doc) distinct was a redundant corpus-sized shuffle before
        // the same count (r19; the window path already counts rows).
        val df = matched.groupBy(col("t")).agg(count(lit(1)).as("df"))
        matched.join(broadcast(df), Seq("t"))
      }
    // term_fx depends on (t, doc) ONLY — never on the query — so it
    // computes BEFORE the qterms join (r19, guide §1.2 per-task work):
    // one division chain per matched posting instead of one per
    // (query, term, doc) triple. For document-sized query sets (the
    // contamination benches: every term shared by many bench items)
    // the exploded stream then carries one precomputed long instead of
    // re-running the fixed-point arithmetic per fan-out row. Same
    // integers, same rows — the join key and the aggregation are
    // untouched.
    val termScores = withDf
      .crossJoin(broadcast(stats))
      .select(col("t"), col("doc_id"),
        expr("((2*n_docs - 2*df + 1) * 1000000) div (2*df + 1)").as("idf_fx"),
        expr("(22 * tf * avg_fx * 1000) div " +
          "(10*avg_fx*tf + 3*avg_fx + 9000*dl)").as("tfw_fx"))
      .select(col("t"), col("doc_id"),
        expr("(idf_fx * tfw_fx) div 1000").as("term_fx"))
    val scored = termScores
      .join(broadcast(qterms), Seq("t"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_fx")).as("score_fx"))
    // salted two-level top-k (the q42/capPerDomain discipline): a
    // stopword-ish query can match a large fraction of the corpus, and a
    // single-partition per-query sort would be the scale bottleneck —
    // level 1 keeps k per (query, salt) in parallel, level 2 ranks the
    // surviving k·salts rows
    val salts = 32
    // salt on hash(id), not id mod n: string/UUID doc ids cast to NULL
    // under pmod and would collapse every hit into one salt partition —
    // exactly the single-sort bottleneck the salting exists to prevent
    val w1 = Window.partitionBy(col("query_id"),
        pmod(abs(hash(col("doc_id"))), lit(salts)))
      .orderBy(col("score_fx").desc, col("doc_id").asc)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fx").desc, col("doc_id").asc)
    scored
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_fx"))
  }

  /** FROZEN BM25 scoring table — the streaming-gate side of BM25: per
    * (query_id, t) the exact fixed-point idf from a REFERENCE corpus
    * snapshot, plus the snapshot's avg_fx. A resident gate cannot make
    * the corpus-global statements live BM25 needs (df, avgdl, top-k
    * rank all quantify over the whole corpus), so it freezes them the
    * way [[Perplexity.lmScoreFromIndex]] freezes an LM: derive once
    * from a snapshot, broadcast to every batch, refresh by restarting
    * the gate. Query terms ABSENT from the snapshot keep df=0 (maximal
    * idf — an unseen term is maximally surprising). Output is
    * |query terms| rows: broadcast-sized by construction. Same
    * unique-doc-id input contract as [[bm25]] (df here counts one row
    * per doc via array_distinct — duplicated ids would double-count
    * vs the index path's (t, doc) distinct). */
  def bm25Frozen(documents: DataFrame, queries: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 queryIdCol: String = "query_id"): DataFrame = {
    // FUSED (r18, guide §2.3): the frozen table needs only the QUERY
    // terms' df — per-doc distinct terms come from array_distinct
    // before the explode (no (t, doc) distinct shuffle), the stream is
    // filtered by the broadcast term set before the one small count
    // agg, and corpus stats are a tokenize-only scan-side aggregate.
    // The old full bm25Postings build (corpus-wide token shuffle +
    // doc-length distinct) never reaches any output column here.
    val stats = documents
      .select(size(toks(col(textCol))).as("_dl")).where(col("_dl") > 0)
      .agg(count(lit(1)).as("n_docs"), sum(col("_dl")).as("total_len"))
      .select(col("n_docs"), expr("(total_len * 1000) div n_docs").as("avg_fx"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(toks(col(textCol)))).as("t"))
    val df = documents
      .select(explode(array_distinct(toks(col(textCol)))).as("t"))
      .join(broadcast(qterms.select(col("t")).distinct()), Seq("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    qterms.join(df, Seq("t"), "left")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("t"),
        expr("((2*n_docs - 2*coalesce(df, 0L) + 1) * 1000000)" +
          " div (2*coalesce(df, 0L) + 1)").as("idf_fx"),
        col("avg_fx"))
  }

  /** Score docs against a [[bm25Frozen]] table: (idCol, query_id,
    * score_fx), one row per doc×query with at least one term match.
    * Pure scan-side work plus ONE map-side-combined keyed agg — no
    * corpus-global pass, so a micro-batch costs only its own postings. */
  def bm25ScoreFrozen(docs: DataFrame, frozen: DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol), toks(col(textCol)).as("_tk"))
      .select(col(idCol), size(col("_tk")).as("dl"),
        explode(col("_tk")).as("t"))
      .groupBy(col(idCol), col("t"), col("dl")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(frozen), Seq("t"))
      .select(col(idCol), col("query_id"),
        expr("(idf_fx * ((22 * tf * avg_fx * 1000) div" +
          " (10*avg_fx*tf + 3*avg_fx + 9000*dl))) div 1000").as("term_fx"))
      .groupBy(col(idCol), col("query_id"))
      .agg(sum(col("term_fx")).as("score_fx"))
  }

  /** Index-and-search in one call (the q143 shape; production callers
    * build [[bm25Postings]] once and search many times).
    *
    * FUSED (r18, guide §2.3/§2.4): a one-shot search has no reason to
    * aggregate the corpus's full (token, doc) matrix the way the
    * persisted index must — the exploded token stream is filtered by
    * the BROADCAST query-term set BEFORE the postings groupBy, so the
    * only token shuffle carries matched terms (bounded by the query
    * vocabulary), never the corpus vocabulary. Corpus stats (n_docs,
    * avg dl) come from a tokenize-only scan-side aggregate — no
    * explode, ZERO shuffle — replacing the full-postings distinct.
    * tf/df/dl computed on the term-filtered stream are identical to
    * the index path's (the filter key is the grouping key), so output
    * is bit-identical (oracle-gated on q143/q147/q149/q179/q220/q236/
    * q237/q243). The old plan's full-token exchange + persist +
    * eager-checkpoint barrier are gone: the fused form is one lazy
    * plan — matched's single small exchange is shared by df and the
    * scoring join through AQE exchange reuse.
    *
    * Input contracts, documented (r18 advice): (1) `documents` must
    * carry ONE row per doc id — the index path's postings groupBy
    * collapses exact-duplicate (doc, dl) rows, while the fused stats/
    * window-df count rows as docs, so duplicated ids diverge from the
    * index path (and from sane corpus semantics — dedup upstream).
    * (2) `queries` is a literal (query_id, text) frame; `idCol`/
    * `textCol` rename DOCUMENT columns only (the [[bm25Search]]
    * convention — thread queryIdCol through that entry point when the
    * query frame is shaped differently). */
  def bm25(documents: DataFrame, queries: DataFrame, k: Int = 5,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(toks(col("text")))).as("t"))
    val matched = documents
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("_tk"))
      .select(col("doc_id"), size(col("_tk")).as("dl"), explode(col("_tk")).as("t"))
      .join(broadcast(qterms.select(col("t")).distinct()), Seq("t"))
      .groupBy(col("t"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    // same n_docs/total_len as bm25Postings' doc-length view: docs with
    // zero tokens have no postings there and fail dl > 0 here
    val stats = documents
      .select(size(toks(col(textCol))).as("_dl")).where(col("_dl") > 0)
      .agg(count(lit(1)).as("n_docs"), sum(col("_dl")).as("total_len"))
      .select(col("n_docs"),
        expr("(total_len * 1000) div n_docs").as("avg_fx"))
    scoreTopK(matched, stats, qterms, k, dfViaWindow = true)
  }

  /** Hard-negative mining for retrieval/embedding training data — the
    * contrastive-training staple (DPR, Karpukhin et al. 2020; ICT's
    * self-supervised form when the positive IS the query's source
    * doc): per query, the top-k BM25 candidates EXCLUDING its positive
    * are exactly the lexically-confusable negatives a bi-encoder must
    * learn to push away. Fetches k+1 candidates (removing the positive
    * from a top-k may leave k−1), drops the positive, re-ranks, and
    * flags `above_positive` — a mined negative that STRICTLY outscores
    * the gold document is the classic false-negative risk a training
    * set should audit (an exact fixed-point tie is not an outscore —
    * round-11 advice pinned the comparison to `>`; flag computable
    * only when the positive itself reached the candidate list; absent
    * ⇒ false, the conservative read).
    *
    * Scale shape: all heavy lifting is [[bm25Search]]'s (df-filtered
    * postings, broadcast stats, salted two-level top-k); everything
    * here operates on the ≤ (k+1)·|queries| candidate rows, and the
    * re-rank window holds ≤ k+1 rows per query. `positives` is one
    * (queryIdCol, posIdCol) row per query. */
  def hardNegatives(documents: DataFrame, queries: DataFrame,
                    positives: DataFrame, k: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text",
                    queryIdCol: String = "query_id",
                    posIdCol: String = "pos_id"): DataFrame = {
    // the candidate list is read twice (positive-score extraction + the
    // re-rank) — materialize the ≤ (k+1)·|queries| rows once so the
    // corpus-scanning BM25 leg is not executed per consumer (r18; the
    // fused bm25 is lazy, unlike the old checkpointing bm25Search)
    val cands = bm25(documents, queries, k + 1, idCol, textCol)
      .select(col("query_id"), col("doc_id"), col("score_fx"))
      .transform(graft.plans.CheckpointAudit.local)
    val pos = positives.select(col(queryIdCol).as("query_id"),
      col(posIdCol).as("_pos_id"))
    val c = cands.join(pos, Seq("query_id"), "left")
    val posScore = c.where(col("doc_id") === col("_pos_id"))
      .select(col("query_id"), col("score_fx").as("_pos_fx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fx").desc, col("doc_id").asc)
    c.where(col("_pos_id").isNull || col("doc_id") =!= col("_pos_id"))
      .join(posScore, Seq("query_id"), "left")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_fx"),
        coalesce(col("score_fx") > col("_pos_fx"), lit(false))
          .as("above_positive"))
  }

  /** Two-stage eval-contamination triage: BM25 shortlist, then exact
    * n-gram verification of ONLY the shortlisted pairs. The corpus-wide
    * gram pass of [[Curate.overlapReport]] (q132) is the ground-truth
    * report; at 100 TB you cannot afford it per benchmark refresh — here
    * the corpus is touched only through the postings index (each bench
    * item's terms fetch their matched lists), and gram sets are built
    * for at most k·|bench| candidate documents, so the verification
    * join is bounded by the benchmark size, not the corpus.
    *
    * Output: one row per BM25 hit (bench_id, rank, doc_id, score_fx,
    * bench_grams, n_shared, contaminated) — bench items with no lexical
    * hit at all produce no rows (nothing to triage; the practical
    * suspects-only shape). `contaminated` uses the q132 rule: shared
    * n-grams ≥ `minOverlapPct`% of the bench item's grams, by exact
    * integer cross-multiplication. */
  def contaminationTriage(corpus: DataFrame, bench: DataFrame, k: Int = 3,
                          n: Int = 5, minOverlapPct: Long = 20L,
                          idCol: String = "doc_id", textCol: String = "text",
                          benchIdCol: String = "bench_id"): DataFrame = {
    // the INDEX path deliberately, not the fused [[bm25]] (r18 probe):
    // a contamination bench is document-sized text, so its term set
    // covers most of the corpus vocabulary — the fused term-filter
    // saves nothing here, and the persisted matched frame is what keeps
    // the heavily-exploding (term × bench-item) scoring stage fast
    // (measured 3.9 s vs 6.4+ s lazy at sf0.1). bm25Search's eager
    // checkpoint also means `hits` is materialized once for its two
    // consumers below. At 100 TB this is the documented design anyway:
    // triage touches the corpus only through the postings index.
    val hits = bm25Search(bm25Postings(corpus, idCol, textCol),
      bench.select(col(benchIdCol).as("query_id"), col(textCol)), k)
      .select(col("query_id").as(benchIdCol), col("rank"), col("doc_id"),
        col("score_fx"))
    val candIds = hits.select(col("doc_id")).distinct()
    val candGrams = corpus
      .join(broadcast(candIds.withColumnRenamed("doc_id", idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
    val benchSh = bench.select(col(benchIdCol),
      array_distinct(Dedup.shingles(col(textCol), n)).as("_g"))
    val benchSizes = benchSh.select(col(benchIdCol), size(col("_g")).cast("long").as("bench_grams"))
    val benchGrams = benchSh.select(col(benchIdCol), explode(col("_g")).as("g"))
    val pairShared = benchGrams.join(candGrams, Seq("g"))
      .groupBy(col(benchIdCol), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    hits
      .join(broadcast(benchSizes), Seq(benchIdCol))
      .join(pairShared, Seq(benchIdCol, "doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated",
        col("n_shared") * 100L >= col("bench_grams") * minOverlapPct &&
          col("bench_grams") > 0L)
      .select(col(benchIdCol), col("rank"), col("doc_id"), col("score_fx"),
        col("bench_grams"), col("n_shared"), col("contaminated"))
  }

  /** Reciprocal-rank fusion (Cormack et al. '09) of ranked lists — the
    * standard hybrid-retrieval combiner (lexical BM25 + vector ANN see
    * different things; RRF needs only the RANKS, so it fuses integer
    * positions instead of incommensurable scores):
    *
    *   rrf_fx = Σ over sources  10^6 div (rrfK + rank)
    *
    * in exact fixed-point (ranks are small positive integers, so the
    * division is engine-agnostic), with absent-from-a-source
    * contributing zero. Each input frame is (queryCol, idCol, rankCol)
    * — the shape [[bm25Search]] and Similarity.bruteForceKnn/bqKnn
    * already emit.
    *
    * Scale shape: inputs are top-k lists, so the candidate set per
    * query is bounded by Σ k_i of the sources (not corpus size) — a
    * plain per-query window is safe here, unlike the raw score stage
    * in [[bm25Search]]. Output: (query_id, rank, doc_id, rrf_fx),
    * rank 1..k by rrf_fx DESC then doc_id ASC. */
  def rrfFuse(ranked: Seq[DataFrame], k: Int = 10, rrfK: Int = 60,
              queryCol: String = "query_id", idCol: String = "doc_id",
              rankCol: String = "rank"): DataFrame = {
    require(ranked.nonEmpty, "need at least one ranked list")
    val contribs = ranked.map(df => df.select(
        col(queryCol).as("query_id"), col(idCol).as("doc_id"),
        expr(s"1000000 div ($rrfK + $rankCol)").as("_c")))
      .reduce(_ unionByName _)
    val fused = contribs.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_c")).as("rrf_fx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fx").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_fx"))
  }

  /** Ranked-retrieval evaluation — the measurement leg the three
    * retrieval tiers ([[bm25Search]], dense cosine, [[maxSim]]) feed:
    * per query, hits@k / recall@k / precision@k and the reciprocal
    * rank, against a relevance table (qrels, TREC's name for exactly
    * this shape). All metrics are exact integer ppm — counts divide
    * counts, and RR is `10⁶ div first_relevant_rank` (MRR's summand);
    * no floats, so engines agree bit-for-bit:
    *
    *   recall_ppm    = 10⁶·hits div n_rel
    *   precision_ppm = 10⁶·hits div k
    *   rr_ppm        = 10⁶ div (min rank of a relevant doc), 0 if none
    *
    * Every query in qrels surfaces — a query whose ranked list missed
    * every relevant doc (or returned nothing at all) reads zeros, not
    * an absent row: silently dropping failed queries is how retrieval
    * evals overreport. Macro averages are one trivial rollup away and
    * deliberately NOT baked in (micro vs macro is the caller's call).
    *
    * Scale shape: ranked lists are top-k (bounded per query), qrels is
    * the audit-sized judgment table — one broadcast-joinable equi-join
    * plus two map-side-combined rollups. */
  def rankEval(ranked: DataFrame, qrels: DataFrame, k: Int,
               queryCol: String = "query_id", idCol: String = "doc_id",
               rankCol: String = "rank"): DataFrame = {
    require(k >= 1)
    val nrel = qrels.groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    val hits = ranked.where(col(rankCol) <= k)
      .join(qrels.select(col(queryCol), col(idCol)), Seq(queryCol, idCol))
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("_h"), min(col(rankCol)).as("_fr"))
    nrel.join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel"),
        coalesce(col("_h"), lit(0L)).as("hits_at_k"),
        expr(s"(1000000 * coalesce(_h, 0)) div n_rel").as("recall_ppm"),
        expr(s"(1000000 * coalesce(_h, 0)) div $k").as("precision_ppm"),
        coalesce(expr("1000000 div _fr"), lit(0L)).as("rr_ppm"))
  }

  /** The pinned nDCG discount table: w_i = round(10⁹ / log2(i+1)) for
    * ranks 1..k. Computed ONCE from this formula and embedded as
    * literals on BOTH engines (the op builds a literal frame; the
    * oracle embeds the same numbers via [[ndcgWeightsSqlValues]]), so
    * no cross-engine float log is ever evaluated at query time — the
    * quantized-discount deviation production rankers make, documented. */
  def ndcgWeights(k: Int): Seq[(Long, Long)] =
    (1 to k).map(i =>
      (i.toLong, math.round(1e9 / (math.log(i + 1.0) / math.log(2.0)))))

  /** The same table as a SQL VALUES list, for oracle replay. */
  def ndcgWeightsSqlValues(k: Int): String =
    ndcgWeights(k).map { case (i, w) => s"($i, $w)" }.mkString(", ")

  /** nDCG@k with graded relevance (Järvelin & Kekäläinen '02) — the
    * position-discounted metric [[rankEval]]'s recall/precision/MRR
    * triple lacks: a hit at rank 1 must count more than one at rank k.
    *
    *   DCG  = Σ over retrieved judged docs  gain · w_rank
    *   IDCG = Σ over the query's top-k gains (desc, doc-id-asc ties
    *          pinned)  gain · w_position
    *   ndcg_ppm = 10⁶ · DCG div IDCG
    *
    * with the [[ndcgWeights]] integer discount table — all arithmetic
    * exact integers, products through decimal(38,0) at the final
    * division. A judged query retrieved without any hit reads ndcg 0
    * (the rankEval zero rule: dropped failures overreport); a query
    * whose judgments carry no positive gain reads NULL (no ideal
    * ranking exists to normalize by). Gains are used linearly — pass
    * 2^rel − 1 values for the exponential variant.
    *
    * Scale shape: the discount table broadcasts (k rows), the hit join
    * is the rankEval equi-join, and the ideal ranking windows over the
    * audit-sized qrels only — never over the corpus. */
  def ndcgAtK(ranked: DataFrame, qrels: DataFrame, k: Int,
              queryCol: String = "query_id", idCol: String = "doc_id",
              rankCol: String = "rank", gainCol: String = "gain"): DataFrame = {
    require(k >= 1 && k <= 64, "k must be in [1, 64]")
    val spark = qrels.sparkSession
    import spark.implicits._
    val wDf = broadcast(ndcgWeights(k).toDF("_pos", "_w"))
    val qg = qrels.select(col(queryCol), col(idCol),
      col(gainCol).cast("long").as("_g"))
    val nrel = qg.groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    val hits = ranked.where(col(rankCol) <= k)
      .join(qg, Seq(queryCol, idCol))
      .join(wDf, col(rankCol) === col("_pos"))
      .groupBy(col(queryCol))
      .agg(sum(col("_g") * col("_w")).as("_dcg"))
    val win = Window.partitionBy(col(queryCol))
      .orderBy(col("_g").desc, col(idCol).asc)
    val ideal = qg.withColumn("_rn", row_number().over(win))
      .where(col("_rn") <= k && col("_g") > 0L)
      .join(wDf, col("_rn") === col("_pos"))
      .groupBy(col(queryCol))
      .agg(sum(col("_g") * col("_w")).as("_idcg"))
    nrel.join(ideal, Seq(queryCol), "left").join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel"),
        coalesce(col("_dcg"), lit(0L)).as("dcg_fx"),
        coalesce(col("_idcg"), lit(0L)).as("idcg_fx"))
      .withColumn("ndcg_ppm", expr(
        """case when idcg_fx > 0 then
          |  cast((1000000 * cast(dcg_fx as decimal(38,0))) div idcg_fx
          |    as bigint) end""".stripMargin))
  }

  /** Average precision at k — the MAP building block next to
    * [[rankEval]] and [[ndcgAtK]]: mean over the query's RELEVANT
    * documents of precision at each hit's rank,
    *
    *   AP = (Σ over hits at rank r of  hits_through_r / r) / n_rel
    *
    * in exact ppm with a DOCUMENTED per-term truncation: each
    * precision term floors independently — (10⁶ · hits_through_r)
    * div r — before the final div by n_rel, so both engines truncate
    * at the same two points (the sum of true rationals has no common
    * denominator an integer engine can carry; per-term ppm flooring is
    * the deterministic quantization, biasing AP down by < k/10⁶).
    * Relevant docs never retrieved contribute zero terms but stay in
    * the n_rel denominator (the rankEval zero rule); a judged query
    * with no hits reads AP 0, not absent.
    *
    * Scale shape: identical to rankEval — one equi-join of the top-k
    * run against the audit-sized qrels, one window over each query's
    * ≤ k hits, two bounded rollups. */
  def averagePrecision(ranked: DataFrame, qrels: DataFrame, k: Int,
                       queryCol: String = "query_id",
                       idCol: String = "doc_id",
                       rankCol: String = "rank"): DataFrame = {
    require(k >= 1)
    val nrel = qrels.groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    val win = Window.partitionBy(col(queryCol)).orderBy(col(rankCol))
    val hits = ranked.where(col(rankCol) <= k)
      .join(qrels.select(col(queryCol), col(idCol)), Seq(queryCol, idCol))
      .withColumn("_h", count(lit(1)).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("hits_at_k"),
        sum(expr(s"(1000000 * _h) div $rankCol")).as("_psum"))
    nrel.join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        expr("coalesce(_psum, 0) div n_rel").as("ap_ppm"))
  }

  /** Late-interaction (MaxSim) retrieval — the third tier next to BM25
    * ([[bm25Search]]) and single-vector dense cosine (Similarity
    * .bruteForceKnn): ColBERT's scoring rule (Khattab & Zaharia '20),
    *
    *   score(q, d) = Σ over query tokens i  max over doc chunks j
    *                 cos(q_i, d_j)
    *
    * over multi-vector docs — chunk vectors from the Curate.chunks
    * machinery, one embedding per chunk. Cosines quantize to
    * MILLI-units FIRST (floor(c·1000 + 0.5), the q189 flag-stability
    * device), so the max, the sum, and every rank comparison are pure
    * integer arithmetic — a last-ulp float drift can't flip a
    * candidate gate or a tie.
    *
    * Two-stage, suspects-only (the [[contaminationTriage]] / q105
    * discipline — exact MaxSim against every corpus doc would be an
    * all-pairs |Q|·|chunks| aggregation no one runs):
    *
    *  1. RECALL: the broadcast query-token set sweeps the chunk scan
    *     once; a doc becomes a candidate when ANY (token, chunk) pair
    *     reads >= `minCosMilli` (how PLAID prunes — a doc none of
    *     whose chunks resemble any query token cannot win MaxSim).
    *     Map-side-combined distinct to the bounded (qid, doc) set.
    *  2. SCORE: candidate docs' chunks come back via a broadcast
    *     semi-join, the per-(token, doc) max and per-doc sum are
    *     map-side-combined aggregations, and the per-query top-k
    *     window runs over the bounded candidate frame only (the
    *     rrfFuse safety argument).
    *
    * A candidate's score uses ALL its chunks and ALL query tokens —
    * including pairs below the recall gate (max is over the full chunk
    * set; the gate bounds WHICH docs score, never HOW they score).
    * Recall misses docs where no single pair passes the gate — the
    * documented shortlist trade-off every two-stage retriever makes.
    * Output: (qid, rank, doc_id, maxsim_milli), rank 1..k by score
    * desc then doc_id asc. */
  def maxSim(chunkVecs: DataFrame, queryVecs: DataFrame, k: Int = 5,
             minCosMilli: Long = 600L,
             docCol: String = "doc_id", qidCol: String = "qid",
             qtokCol: String = "qtok",
             vecCol: String = "embedding"): DataFrame = {
    val qv = broadcast(queryVecs.select(col(qidCol), col(qtokCol),
      col(vecCol).as("_qv")))
    def cm(c: Column): Column =
      floor(Similarity.cosine(col("_qv"), c) * 1000 + 0.5).cast("long")
    val cand = chunkVecs.select(col(docCol), col(vecCol).as("_cv"))
      .join(qv)
      .where(cm(col("_cv")) >= minCosMilli)
      .select(col(qidCol), col(docCol)).distinct()
    val scored = chunkVecs.select(col(docCol), col(vecCol).as("_cv"))
      .join(broadcast(cand), Seq(docCol))
      .join(qv, Seq(qidCol))
      .select(col(qidCol), col(docCol), col(qtokCol), cm(col("_cv")).as("_cm"))
      .groupBy(col(qidCol), col(docCol), col(qtokCol))
      .agg(max(col("_cm")).as("_mx"))
      .groupBy(col(qidCol), col(docCol))
      .agg(sum(col("_mx")).as("maxsim_milli"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("maxsim_milli").desc, col(docCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(docCol), col("maxsim_milli"))
  }
}
