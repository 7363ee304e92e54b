package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps between "100 TB of raw crawl" and
  * "a training set": reproducible sampling, document chunking, PII
  * scrubbing, and duplicate-cluster resolution. Everything here is either a
  * pure column expression (scan-speed, codegen'd) or an equi-keyed
  * join/aggregation, so the plans scale unchanged to a cluster; nothing
  * touches the driver.
  *
  * Cross-engine discipline: deterministic everywhere. Sampling is keyed on
  * md5 (identical in every engine) rather than rand(); chunk boundaries are
  * arithmetic on token positions; the PII patterns are RE2-and-Java-regex
  * portable. Every operator has a DuckDB oracle (q46-q50).
  */
object Curate {

  // ------------------------------------------------------------- sampling

  /** Deterministic hash-sampling predicate: keep a row iff the first 8 hex
    * chars of md5(key || salt) fall below rate * 2^32. Unlike
    * rand()/TABLESAMPLE this is (a) reproducible across runs, retries, and
    * engines — a re-run of a failed 100 TB stage keeps the SAME sample, so
    * downstream incremental state stays valid; (b) stable under
    * repartitioning (rand() draws per-task); (c) stratifiable by changing
    * the salt per stratum. Pure filter: no shuffle, pushed to the scan's
    * residual, and the comparison is on a fixed-width lowercase-hex prefix
    * so it is engine-portable (DuckDB compares the same strings). */
  def hashSampleThreshold(rate: Double): String =
    f"${math.min((rate * 4294967296.0).toLong, 4294967295L)}%08x"

  /** Column form of [[hashSampleThreshold]] — same conversion, for rates
    * computed IN-PLAN (see [[mixtureBalance]]). Kept next to the static
    * form so the rate→8-hex-chars rule has one definition per shape. */
  def hashSampleThresholdCol(rate: Column): Column =
    lower(lpad(hex(least(floor(rate * 4294967296.0).cast("long"),
      lit(4294967295L))), 8, "0"))

  /** Lowercase 8-hex md5 prefix of (key ‖ salt) — the single comparand
    * every deterministic sampler here tests against its threshold. */
  private[ops] def md5Prefix(key: Column, salt: String): Column =
    substring(md5(concat(key.cast("string"), lit(salt)).cast("binary")), 1, 8)

  def hashSamplePredicate(key: Column, rate: Double, salt: String): Column =
    md5Prefix(key, salt) < lit(hashSampleThreshold(rate))

  /** Sample `rate` of rows, keyed on `idCol` — see [[hashSamplePredicate]]. */
  def hashSample(df: DataFrame, idCol: String, rate: Double,
                 salt: String = "graft"): DataFrame =
    df.where(hashSamplePredicate(col(idCol), rate, salt))

  /** Weighted (Poisson) deterministic sampling: each row kept with
    * inclusion probability proportional to its weight — pᵢ = min(1,
    * wᵢ·target/Σw) — so the expected kept count is ~`targetRows` and
    * heavy rows (long documents, big customers) are preferentially
    * retained. The importance-sampling step a mixture pipeline runs when
    * "sample 1M documents weighted by length" must stay reproducible
    * across retries: the coin is the same md5 predicate as [[hashSample]]
    * (per-row threshold = rate→8-hex conversion of pᵢ), never rand().
    *
    * Σw is a one-row aggregate broadcast back onto the scan, so the plan
    * is two scans of (id, weight) and zero wide shuffles. Integer weights
    * keep Σw exact; the single (w·target)/Σw division is one IEEE op per
    * row — bit-identical in the DuckDB oracle (q88). Rows with NULL or
    * non-positive weight are dropped (rate 0). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     targetRows: Double, salt: String = "graft"): DataFrame = {
    // Σw over the SAMPLED population only: rows with NULL/non-positive
    // weight get rate 0 below, so including them in the denominator would
    // skew every kept row's pᵢ (negative weights would inflate it past
    // target). Internal column name is chosen to miss the caller's schema.
    val swCol = Iterator.from(0).map(i => s"_graft_sw$i")
      .find(c => !df.columns.contains(c)).get
    val sw = df.agg(
      sum(when(col(weightCol) > 0, col(weightCol))).cast("double").as(swCol))
    val rate = least(lit(1.0),
      col(weightCol).cast("double") * targetRows / col(swCol))
    df.crossJoin(broadcast(sw))
      .where(col(weightCol) > 0 &&
        md5Prefix(col(idCol), salt) < hashSampleThresholdCol(rate))
      .drop(swCol)
  }

  /** Deterministic three-way split: disjoint and exhaustive by
    * construction — the md5 coin lands in exactly one of the
    * [0, train), [train, train+val), [train+val, 1) bands, so every row
    * gets one split label, reproducibly across runs/retries/engines (the
    * property that keeps a re-run from leaking val rows into train).
    * Pure scan-side CASE, no shuffle. */
  def trainValTestSplit(df: DataFrame, idCol: String, trainFrac: Double = 0.8,
                        valFrac: Double = 0.1, salt: String = "graft"): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      s"invalid split fractions ($trainFrac, $valFrac)")
    val h = md5Prefix(col(idCol), salt)
    df.withColumn("split",
      when(h < lit(hashSampleThreshold(trainFrac)), "train")
        .when(h < lit(hashSampleThreshold(trainFrac + valFrac)), "val")
        .otherwise("test"))
  }

  /** Leakage-safe train/val/test split: near-duplicates of a document
    * must land in the SAME split — an eval doc whose near-twin sits in
    * train is contamination the doc-keyed [[trainValTestSplit]] cannot
    * prevent (the split hash sees two different ids). The split key is
    * therefore the near-dup CLUSTER label ([[dupClusters]] over the
    * verified pair graph; singletons key by their own id), pushed
    * through the same deterministic md5 three-way rule, so whole
    * clusters move together and the split stays reproducible and
    * incremental (a new near-dup of an existing doc inherits its
    * cluster's split).
    *
    * Shape at scale: the cluster frame holds one row per CLUSTERED doc
    * — small when dup rates are low, but a heavily-duplicated crawl can
    * cluster half its corpus, so the join is left to the optimizer (AQE
    * broadcasts it when it fits, shuffles on the id key when it does
    * not) rather than force-broadcast; everything else is the scan-side
    * hash rule. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id", trainFrac: Double = 0.8,
                       valFrac: Double = 0.1,
                       salt: String = "graft"): DataFrame = {
    val cl = dupClusters(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    val keyed = docs.select(col(idCol))
      .join(cl, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col(idCol)))
    trainValTestSplit(keyed, "split_key", trainFrac, valFrac, salt)
      .select(col(idCol), col("split_key"), col("split"))
  }

  /** Stratified deterministic sampling: a different rate per stratum value
    * (the `sampleBy` of a mixture-weighted training pipeline — e.g. keep
    * 100% of rare languages, 10% of English). Same md5 keying as
    * [[hashSample]], so per-stratum samples are reproducible and nested;
    * the per-row threshold is a CASE over the stratum column — still one
    * scan-side predicate, no shuffle. Strata absent from `rates` are
    * dropped (rate 0). */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double],
                       salt: String = "graft"): DataFrame = {
    val thr = rates.foldLeft(lit("00000000")) { case (acc, (stratum, rate)) =>
      when(col(strataCol) === stratum, lit(hashSampleThreshold(rate))).otherwise(acc)
    }
    df.where(md5Prefix(col(idCol), salt) < thr)
  }

  /** Deterministic per-domain cap: keep at most `k` documents per domain,
    * chosen by md5 rank (so the kept set is reproducible across runs,
    * retries, and engines — never `rand()`), with the md5 tie broken by
    * id. The mixture-shaping step a web corpus runs so that a handful of
    * mega-domains (forums, wikis, link farms) can't dominate training
    * data: semantically `row_number() OVER (PARTITION BY domain ORDER BY
    * md5(id), id) <= k`.
    *
    * A direct window puts an entire domain in one task — the largest
    * domain in a 100 TB crawl is exactly the partition that won't fit, and
    * a window's sort can't be AQE-split. So the rank runs in two levels:
    * rows are salted into `buckets` sub-partitions, ranked within
    * (domain, bucket) keeping `k` per bucket, and the ≤ buckets·k
    * survivors per domain are re-ranked exactly. Level 1 bounds every
    * sort at ~|domain|/buckets rows; level 2 sorts ≤ buckets·k rows per
    * domain — both sides bounded regardless of skew. The result is
    * IDENTICAL to the direct window (the global top-k by a total order is
    * contained in the union of per-bucket top-k; dropped rows can never
    * rank ≤ k globally), which is what the DuckDB oracle (q115) asserts.
    *
    * Output: all input columns plus `rk` (1-based rank within the domain,
    * ≤ k), filtered to the kept rows. */
  def capPerDomain(df: DataFrame, domainCol: String, idCol: String, k: Int,
                   salt: String = "graft", buckets: Int = 16): DataFrame = {
    require(k > 0 && buckets > 0, "k and buckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = md5Prefix(col(idCol), salt)
    val bucket = pmod(xxhash64(col(idCol)), lit(buckets.toLong))
    val lvl1 = Window.partitionBy(col(domainCol), col("_b"))
      .orderBy(col("_h").asc, col(idCol).asc)
    val lvl2 = Window.partitionBy(col(domainCol))
      .orderBy(col("_h").asc, col(idCol).asc)
    df.withColumn("_h", h).withColumn("_b", bucket)
      .withColumn("_rk1", row_number().over(lvl1))
      .where(col("_rk1") <= k)
      .withColumn("rk", row_number().over(lvl2))
      .where(col("rk") <= k)
      .drop("_h", "_b", "_rk1")
  }

  /** Deterministic per-group BUDGET sampling: keep documents in md5 order
    * until each group's cumulative `costCol` (token/char count) reaches
    * `budget` — the mixture-shaping primitive when the contract is "at
    * most B tokens per source", which doc-count caps ([[capPerDomain]])
    * can't express. A row survives iff its md5-ordered running total
    * (inclusive) is ≤ budget; same md5 keying as every sampler here, so
    * the kept set is retry/engine-stable.
    *
    * Skew: the group-wide cumsum decomposes across RANGE-ALIGNED
    * buckets — the bucket is a monotone function of the md5 order
    * key's leading 16 bits, so bucket order == key order within each
    * group and `cum = (per-bucket running sum) + (sum of earlier
    * buckets' totals)`, exactly. Each (group, bucket) sort holds
    * ~|group|/buckets rows (md5 is uniform); the offset frame is
    * |groups|·buckets rows — census-sized, broadcast back. Nothing is
    * filtered until the exact cum exists, so the result is
    * row-identical to the plain per-group window by CONSTRUCTION (the
    * q119 oracle asserts it). The earlier hash-bucketed form filtered
    * over-budget rows between two windows, which silently removed
    * their cost from later rows' running totals — a row past the true
    * budget horizon could sneak back under it (caught by the q256
    * planted fixture: small budget, fat docs; row 352's true cum 274
    * read 195 after a 79-cost predecessor was dropped). Rows with
    * NULL/non-positive cost are dropped (they'd make the running total
    * ambiguous across engines).
    *
    * Output: kept rows + `cum` (the inclusive running total, ≤ budget). */
  def budgetPerGroup(df: DataFrame, groupCol: String, idCol: String,
                     costCol: String, budget: Long, salt: String = "graft",
                     buckets: Int = 16): DataFrame = {
    require(budget > 0 && buckets > 0 && buckets <= 65536,
      "budget must be positive and buckets in [1, 65536]")
    import org.apache.spark.sql.expressions.Window
    val h = md5Prefix(col(idCol), salt)
    // leading 16 bits of the hex key, scaled to [0, buckets): monotone
    // in _h (65536 is a power of two, so the double division is exact)
    val bucket = floor(conv(substring(col("_h"), 1, 4), 16, 10)
      .cast("long") * buckets / lit(65536.0)).cast("int")
    val w1 = Window.partitionBy(col(groupCol), col("_b"))
      .orderBy(col("_h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withC1 = df.where(col(costCol) > 0)
      .withColumn("_h", h).withColumn("_b", bucket)
      .withColumn("_c1", sum(col(costCol)).over(w1))
    val offs = withC1.groupBy(col(groupCol), col("_b"))
      .agg(max(col("_c1")).as("_bt"))
      .withColumn("_off", coalesce(sum(col("_bt")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("_b").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol), col("_b"), col("_off"))
    withC1.join(broadcast(offs), Seq(groupCol, "_b"))
      .withColumn("cum", (col("_off") + col("_c1")).cast("long"))
      .where(col("cum") <= budget)
      // the USING join moved the keys to the front — restore the
      // caller's column order (consumers pattern-match positionally)
      .select((df.columns.map(col) :+ col("cum")).toIndexedSeq: _*)
  }

  /** Two-phase anneal mixture — the modern mid-training recipe (MiniCPM,
    * Hu et al. '24 §4: the WSD decay phase mixes in high-quality data;
    * the Llama 3 report and OLMo 2 both anneal on upweighted curated
    * sources): split a corpus into the `stable` (phase-1) pool and a
    * budgeted `anneal` (phase-2) pool drawn from quality-gated
    * candidates, with no source allowed to dominate the anneal mix.
    *
    * Admission is a TWO-STAGE deterministic greedy, each stage the
    * [[budgetPerGroup]] md5-order running-cost rule:
    *   1. per-source cap: eligible docs survive while their source's
    *      running cost stays within `annealBudget·maxSourcePermille/1000`
    *      (no source exceeds that share of the budget);
    *   2. global budget: stage-1 survivors survive while the GLOBAL
    *      running cost (same md5 order) stays within `annealBudget`.
    * The stages compose rather than solve the joint constraint (a
    * joint greedy is inherently sequential — admission would depend on
    * every earlier admission across caps); two independent prefix-sum
    * rules keep each stage a window the oracle replays row-for-row,
    * and the result still satisfies BOTH invariants: per-source cost ≤
    * cap AND total anneal cost ≤ budget.
    *
    * Every input row survives with a phase label (`anneal` admitted,
    * `stable` otherwise — including NULL-eligibility and NULL/
    * non-positive-cost rows, which can never be admitted); `cum` is
    * the admitted row's inclusive global running cost, NULL on stable
    * rows. Shape at scale: candidates are one filter; both stages are
    * the two-level skew-bounded windows of [[budgetPerGroup]] (the
    * global stage's frame is already budget-bounded by stage 1:
    * ≤ sources·cap/min-cost rows); the final phase label is one
    * id-keyed left join. */
  def annealMix(df: DataFrame, idCol: String, sourceCol: String,
                costCol: String, eligibleCol: String, annealBudget: Long,
                maxSourcePermille: Int = 300, salt: String = "anneal",
                buckets: Int = 16): DataFrame = {
    require(annealBudget > 0, "annealBudget must be positive")
    require(maxSourcePermille >= 1 && maxSourcePermille <= 1000,
      s"maxSourcePermille must be in [1, 1000], got $maxSourcePermille")
    val srcCap = annealBudget * maxSourcePermille / 1000
    require(srcCap > 0, "per-source cap rounds to zero; raise maxSourcePermille")
    val cand = df.where(coalesce(col(eligibleCol), lit(false)))
      .select(col(idCol), col(sourceCol), col(costCol))
    val stage1 = budgetPerGroup(cand, sourceCol, idCol, costCol,
      srcCap, salt, buckets).drop("cum")
    val admitted = budgetPerGroup(stage1.withColumn("_all", lit(0)),
      "_all", idCol, costCol, annealBudget, salt, buckets)
      .select(col(idCol), col("cum"))
    df.select(col(idCol), col(sourceCol), col(costCol))
      .join(admitted, Seq(idCol), "left")
      .withColumn("phase",
        when(col("cum").isNotNull, lit("anneal")).otherwise(lit("stable")))
  }

  // ------------------------------------------------------------- chunking

  /** Split documents into fixed-size overlapping token windows — the unit a
    * training pipeline feeds a tokenizer. One row per (doc, window): chunk
    * starts step by `stride` (< `chunkLen` gives overlap), the final chunk
    * is the partial tail. Pure per-row explode: tokens are computed once
    * per document, chunks are array slices of that one array, no shuffle,
    * and output size is ~n_tokens/stride rows per doc — linear in corpus
    * size regardless of document length skew. */
  def chunks(documents: DataFrame, chunkLen: Int = 50, stride: Int = 40): DataFrame = {
    require(chunkLen > 0 && stride > 0, "chunkLen and stride must be positive")
    documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .where(col("n") > 0)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        size(slice(col("tk"), col("start") + 1, lit(chunkLen))).cast("long").as("n_chunk_tokens"),
        array_join(slice(col("tk"), col("start") + 1, lit(chunkLen)), " ").as("chunk_text"))
  }

  /** Content-defined chunking (Rabin-style rolling-hash boundaries — the
    * storage-dedup primitive of LBFS/Muthitacharoen et al. '01, applied
    * at token granularity): a chunk boundary closes after any position
    * whose last-`w`-token polynomial hash is ≡ 0 mod `divisor`, so chunk
    * boundaries are a function of LOCAL content only. Unlike
    * [[chunks]]' fixed windows, inserting or deleting one token shifts
    * only the chunks touching the edit — everything after the next
    * boundary re-synchronizes, which is what makes chunk-level dedup
    * robust to small edits. Expected chunk length ≈ `divisor` tokens.
    *
    * Deviation from FastCDC: no min/max chunk clamps — they make each
    * boundary depend on the previous one (a sequential chain), where the
    * pure Rabin rule stays embarrassingly parallel per position; at the
    * tail a pathological hash streak can make a long chunk, which
    * chunk-level dedup tolerates.
    *
    * Token hash is [[graft.ops.TextAnalysis.fingerprint]]'s engine-
    * neutral per-token term; the `w`-gram hash is the base-31 fold of
    * the window (the q110/q123 gram rule), built from `w−1` window LAGs
    * over the doc sort the chunk-id prefix count needs anyway — no HOF
    * lambdas at all (an array-slice fold would re-tokenize the document
    * per position, the exact quadratic trap LambdaCostAudit pins), and
    * the lag NULLs at pos < w−1 make the head boundary-free for free.
    * Shape: one posexplode + ONE doc-keyed window (lags, then prefix
    * count, sharing the sort) + the [[dedupLines]] reassembly agg —
    * [[graft.ops.TextAnalysis.spanCorrupt]]'s exact 1-shuffle shape. */
  def contentChunks(documents: DataFrame, w: Int = 4, divisor: Int = 64,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w > 0 && divisor > 0, "w and divisor must be positive")
    val P = 1000000007L
    val wd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    def tvAt(j: Int): Column =
      if (j == 0) col("tv") else lag(col("tv"), j).over(wd)
    // base-31 fold over tv[pos-w+1 .. pos]; any NULL lag (pos < w-1)
    // nulls the whole hash, which coalesces to "no boundary"
    val gh = (w - 1 to 0 by -1).foldLeft(lit(0L): Column)(
      (acc, j) => (acc * 31L + tvAt(j)) % P)
    documents
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "tok")))
      .withColumn("tv", (length(col("tok")).cast("long") * 131L +
        ascii(substring(col("tok"), 1, 1)).cast("long")) % P)
      // a boundary at pos closes the chunk AT pos: chunk id = boundaries
      // strictly before this position
      .withColumn("b", coalesce(gh % divisor === 0, lit(false)))
      .withColumn("chunk_id",
        sum(when(col("b"), 1L).otherwise(0L)).over(wd) -
          when(col("b"), 1L).otherwise(0L))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok").as("v")))),
        s => s.getField("v")), " ").as("chunk_text"),
        count(lit(1)).as("n_chunk_tokens"))
  }

  // ----------------------------------------------------------- PII scrub

  /** Engine-portable PII patterns (no lookaround — valid in both Java
    * regex and RE2, so the same pattern strings run in the DuckDB oracle). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  /** Redact emails/phone numbers and count what was removed. Pure
    * regexp_replace/extract_all column expressions: scan-speed, no UDF.
    * The synthetic corpus contains no PII, so the query form (q48) first
    * splices a deterministic email+phone into each document — the operator
    * is thereby proven to fire on every row, and the redacted output plus
    * counts are exactly reproducible by the oracle. */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails",
        size(regexp_extract_all(t, lit(emailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(t, lit(phonePattern), lit(0))).cast("long"))
      .withColumn(textCol,
        regexp_replace(regexp_replace(t, emailPattern, "[EMAIL]"),
          phonePattern, "[PHONE]"))
  }

  /** q48's deterministic PII injection: splice `contact user<id>@example.com
    * or call 555-867-5309` into the middle of each document. Identical
    * concat semantics in DuckDB (concat_ws skips NULLs, keeps empties). */
  def injectPii(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      concat_ws(" ",
        substring(col("text"), 1, 40),
        concat(lit("contact user"), col("doc_id"), lit("@example.com or call 555-867-5309 now")),
        substring(col("text"), 41, 1000000)).as("text"))

  /** Digit runs with optional single space/dash separators, 13–19 digits —
    * the payment-card length window (ISO/IEC 7812). No lookaround, so the
    * same pattern string runs in Java regex and DuckDB's RE2. */
  val cardRunPattern = "[0-9](?:[- ]?[0-9]){12,18}"

  /** Checksum-validated payment-card audit (Luhn mod-10, ISO/IEC 7812-1)
    * — the verification pass [[redactPii]]'s pattern scrub deliberately
    * lacks: a bare digit-run regex flags every invoice number and
    * timestamp as a "card", so real PII compliance pipelines gate the
    * match on the Luhn checksum before escalating. Reference scope note:
    * the reference pipeline (pipeline/app.py) has no PII surface at all;
    * this extends the mandated training-data compliance leg (q48, q145).
    *
    * Shape: one scan-side pass — `regexp_extract_all` pulls the runs
    * (regex runs ONCE per row, outside any lambda), separator stripping
    * is the only per-element HOF (the regex pattern itself enforces the
    * 13–19 digit window — one digit per repetition), and
    * the checksum folds `aggregate(sequence(1, len), …)` over ≤19 cheap
    * substring/ascii terms. Zero shuffles; raw digits are DROPPED from
    * the output (only a last-4 mask leaves the row — an audit that
    * re-publishes the card number would itself be a leak).
    *
    * Per-candidate row: (id, cand_idx, n_digits, masked, luhn_valid).
    * Documents with no candidate emit nothing (the no-evidence drop rule;
    * q204 injects candidates so every doc provably exercises the fold). */
  def luhnAudit(df: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // the regex itself enforces the 13–19 digit window (one digit per
    // repetition of the {12,18} group), so separator stripping is the
    // only per-candidate transform — no redundant length re-filter
    val runs = regexp_extract_all(col(textCol), lit(cardRunPattern), lit(0))
    val cands = transform(runs, r => translate(r, " -", ""))
    // Luhn from the right: with i counting 1..len from the LEFT, the
    // doubled positions are those with (len - i) odd — substring indexes
    // from the left on BOTH engines (negative starts diverge: Spark
    // counts from the end, DuckDB/Postgres do not).
    val d = col("digits")
    val digit = (i: Column) =>
      (ascii(d.substr(i, lit(1))) - lit(48)).cast("long")
    val luhnSum = aggregate(
      sequence(lit(1), length(d)),
      lit(0L),
      (acc, i) => {
        val c = digit(i)
        val doubled = when(c * 2 > 9, c * 2 - 9).otherwise(c * 2)
        acc + when((length(d) - i) % 2 === 1, doubled).otherwise(c)
      })
    df.select(col(idCol), posexplode(cands).as(Seq("cand_idx", "digits")))
      .select(col(idCol),
        col("cand_idx").cast("long").as("cand_idx"),
        length(d).cast("long").as("n_digits"),
        concat(repeat(lit("*"), length(d) - 4),
          d.substr(length(d) - 3, lit(4))).as("masked"),
        (luhnSum % 10 === 0).as("luhn_valid"))
  }

  /** q204's deterministic candidate injection: a known-valid spaced Visa
    * test number, a known-invalid 16-digit twin (last digit bumped), a
    * doc-varying 18-digit dashed run whose Luhn verdict genuinely depends
    * on doc_id (~10% valid — both checksum branches exercised across the
    * corpus), and a 5-digit ZIP the pattern's length floor must reject. */
  def injectCards(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      concat_ws(" ",
        substring(col("text"), 1, 30),
        lit("card 4111 1111 1111 1111 and 4111111111111112 ref"),
        concat(lit("55-"), lpad((col("doc_id") % 100000000L).cast("string"), 8, "0"),
          lit("-"), lpad(((col("doc_id") * 7L) % 100000000L).cast("string"), 8, "0")),
        lit("zip 12345"),
        substring(col("text"), 31, 1000000)).as("text"))

  // ------------------------------------------------- phrase blocklist

  /** Word-boundary phrase-blocklist report — the bad-word/spam-phrase
    * pass [[c4Filter]] deliberately leaves to site policy (C4 §2.2
    * drops any page containing a blocklisted word; RefinedWeb and
    * FineWeb run the same rule with curated lists). Matching is
    * case-blind over whitespace-normalized text, and a phrase counts
    * only at WORD boundaries (the character before and after the match
    * is not `[a-z0-9]`): "assassin" must not fire a blocklist entry
    * "ass". Per doc: how many DISTINCT blocklist phrases appear, and
    * the drop verdict.
    *
    * This form unrolls one codegen'd `rlike` per phrase — exact,
    * oracle-replayable (RE2-and-Java-portable pattern, no lookaround),
    * and the right shape for the tens-of-phrases policy lists the
    * paper rules use. For thousand-phrase lists the scan cost of N
    * regex passes compounds; [[blocklistReportAC]] is the same report
    * from ONE Aho-Corasick pass and is spec-pinned equal. */
  def blocklistReport(df: DataFrame, phrases: Seq[String],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.trim.nonEmpty),
      "blocklist must be non-empty phrases")
    val norm = normalizeForBlocklist(col(textCol))
    val hit = phrases.map { p =>
      val quoted = java.util.regex.Pattern.quote(normalizePhrase(p))
      when(norm.rlike(s"(^|[^a-z0-9])$quoted([^a-z0-9]|$$)"), 1L)
        .otherwise(0L)
    }
    // balanced Add tree, not reduce(_ + _): a thousand-phrase list
    // left-folds into a 1000-deep expression that overflows the
    // analyzer's stack (and defeats codegen splitting); log-depth is
    // also the honest signal that past policy-list size you want the
    // AC twin below
    def bal(cs: Seq[Column]): Column =
      if (cs.length == 1) cs.head
      else bal(cs.grouped(2).map(_.reduce(_ + _)).toSeq)
    df.select(col(idCol), bal(hit).as("n_hits"))
      .withColumn("blocked", col("n_hits") > 0L)
  }

  private def normalizeForBlocklist(t: Column): Column =
    regexp_replace(lower(t), "\\s+", " ")
  private def normalizePhrase(p: String): String =
    p.toLowerCase(java.util.Locale.ROOT).trim.replaceAll("\\s+", " ")

  /** [[blocklistReport]] from ONE text pass — the 100 TB shape for
    * real blocklists (thousands of phrases): a broadcast Aho-Corasick
    * automaton (goto/failure/output links over the phrase set) scans
    * each normalized document once, O(len + matches), applying the
    * same word-boundary rule by checking the characters flanking each
    * automaton hit. Distinct-phrase counting dedupes via a per-doc
    * bitset over phrase ids. Spec-pinned value-equal to the unrolled
    * form on overlapping/nested/boundary-adversarial fixtures. */
  def blocklistReportAC(df: DataFrame, phrases: Seq[String],
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.trim.nonEmpty),
      "blocklist must be non-empty phrases")
    val spark = df.sparkSession
    val normPhrases = phrases.map(normalizePhrase).toArray
    val acB = spark.sparkContext.broadcast(AhoCorasick.build(normPhrases))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        df.schema(idCol).dataType, nullable = true),
      org.apache.spark.sql.types.StructField("n_hits",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("blocked",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(idCol), normalizeForBlocklist(col(textCol)).as("_t"))
      .mapPartitions { it =>
        val ac = acB.value
        it.map { r =>
          val n = if (r.isNullAt(1)) 0L else ac.distinctHits(r.getString(1))
          org.apache.spark.sql.Row(r.get(0), n, n > 0L)
        }
      }(enc)
  }

  /** Minimal Aho-Corasick automaton over a fixed phrase set: goto
    * trie + BFS failure links + merged output sets. Built once on the
    * driver, broadcast, immutable thereafter. `distinctHits` applies
    * the blocklist word-boundary rule (flanking chars not [a-z0-9])
    * and counts DISTINCT phrases matched. */
  private[graft] object AhoCorasick {
    final class Automaton(val next: Array[scala.collection.immutable.Map[Char, Int]],
                          val fail: Array[Int],
                          val outs: Array[Array[Int]],
                          val phraseLens: Array[Int]) extends Serializable {
      def distinctHits(text: String): Long = {
        if (text == null) return 0L
        val seen = new java.util.BitSet(phraseLens.length)
        var s = 0
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          var cur = s
          while (cur != 0 && !next(cur).contains(c)) cur = fail(cur)
          s = next(cur).getOrElse(c, 0)
          val os = outs(s)
          var j = 0
          while (j < os.length) {
            val pid = os(j)
            val start = i - phraseLens(pid) + 1
            val okL = start == 0 || !isWord(text.charAt(start - 1))
            val okR = i == text.length - 1 || !isWord(text.charAt(i + 1))
            if (okL && okR) seen.set(pid)
            j += 1
          }
          i += 1
        }
        seen.cardinality().toLong
      }
      private def isWord(c: Char): Boolean =
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
    }

    def build(phrases: Array[String]): Automaton = {
      val next = scala.collection.mutable.ArrayBuffer(
        scala.collection.immutable.Map.empty[Char, Int])
      val out = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      phrases.zipWithIndex.foreach { case (p, pid) =>
        var s = 0
        p.foreach { c =>
          next(s).get(c) match {
            case Some(t) => s = t
            case None =>
              next += scala.collection.immutable.Map.empty
              out += scala.collection.mutable.ArrayBuffer.empty[Int]
              next(s) = next(s) + (c -> (next.length - 1))
              s = next.length - 1
          }
        }
        out(s) += pid
      }
      val fail = new Array[Int](next.length)
      val queue = scala.collection.mutable.Queue.empty[Int]
      next(0).values.foreach(queue.enqueue(_))
      while (queue.nonEmpty) {
        val s = queue.dequeue()
        next(s).foreach { case (c, t) =>
          queue.enqueue(t)
          var f = fail(s)
          while (f != 0 && !next(f).contains(c)) f = fail(f)
          fail(t) = next(f).get(c).filter(_ != t).getOrElse(0)
          out(t) ++= out(fail(t))
        }
      }
      new Automaton(next.map(identity).toArray, fail,
        out.map(_.toArray).toArray, phrases.map(_.length))
    }
  }

  // ------------------------------------------ length-grouped batching

  /** Length-grouped batching — the padding-efficiency layout for
    * UNPACKED fine-tuning: documents sorted by token length and cut
    * into fixed-count batches, so each batch pads only to ITS OWN
    * maximum instead of the corpus maximum (random batching wastes
    * ~(max − mean) tokens per row; sorted batching wastes only the
    * within-batch spread). Per doc: its batch index, the batch's pad
    * target, and the tokens of padding it will carry. Token counts are
    * q34 BPE pre-tokens (the budget unit); ties break on id so the
    * layout is deterministic and replayable.
    *
    * Scale shape: the global sort-rank uses the q109/packSpans
    * two-pass partition-offset discipline over the (len, id) pairs
    * alone — 16 B/row, never text; ranks assign per-partition against
    * broadcast base offsets (no single-partition window), and the
    * pad-to window partitions by batch_idx (bounded by `batchSize`
    * rows per group). */
  def lengthGroupedBatches(documents: DataFrame, batchSize: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           parts: Int = 64): DataFrame = {
    require(batchSize > 0)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = documents.sparkSession
    val lens = documents
      .select(col(idCol).cast("long").as(idCol),
        size(regexp_extract_all(col(textCol),
          lit(TextAnalysis.bpePattern), lit(0))).cast("long").as("n_tokens"))
      .repartitionByRange(parts, col("n_tokens"), col(idCol))
      .sortWithinPartitions(col("n_tokens"), col(idCol))
      .transform(graft.plans.CheckpointAudit.local)
    val counts = lens.rdd.mapPartitionsWithIndex { (pid, it) =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single((pid, n))
      }.collect().sortBy(_._1).map(_._2) // bounded: `parts` longs
    val offsets = spark.sparkContext.broadcast(counts.scanLeft(0L)(_ + _))
    val b = batchSize.toLong
    val ranked = lens.rdd.mapPartitionsWithIndex { (pid, it) =>
      var rk = offsets.value(pid)
      it.map { r =>
        // the writeShards id discipline (round-11 advice): a NULL or
        // non-numeric id casts to NULL and Row.getLong would silently
        // read it as 0, colliding ids/ranks — reject loudly instead.
        // Same for a NULL token count (NULL text).
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          "lengthGroupedBatches: NULL id (rank would silently collapse to one key)")
        if (r.isNullAt(1) || r.getLong(1) < 0L)
          throw new IllegalArgumentException(
            s"lengthGroupedBatches: NULL/negative token count for id ${r.getLong(0)} (NULL text)")
        val out = org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), rk / b)
        rk += 1
        out
      }
    }
    val df = spark.createDataFrame(ranked, StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("batch_idx", LongType, nullable = false))))
    val wB = Window.partitionBy(col("batch_idx"))
    df.withColumn("pad_to", max(col("n_tokens")).over(wB))
      .withColumn("pad_tokens", col("pad_to") - col("n_tokens"))
  }

  // --------------------------------------------------- fill-in-middle

  /** Fill-in-middle (FIM) transformation (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle") —
    * the pretraining rewrite that teaches infilling: split each
    * document at two deterministic points and emit PSM order
    * (prefix / suffix / middle behind sentinel tags) so the model
    * learns to generate the middle given both sides. Cut points derive
    * from the q154 48-bit md5 hash of (id ‖ salt) — deterministic,
    * partition-independent, oracle-replayable integer arithmetic; both
    * engines' `substring` is 1-based, so every slice matches
    * character-for-character. Documents under `minChars` pass through
    * unsplit with `fim_ok = false` (splitting a 5-char doc teaches
    * nothing). Pure scan-side column math — zero shuffles. */
  def fimTransform(documents: DataFrame, minChars: Int = 20,
                   idCol: String = "doc_id", textCol: String = "text",
                   salt: String = "fim"): DataFrame = {
    // the cut points are pmod(hash, len - 1): with minChars < 2 a
    // 1-char doc would be "eligible" and divide by zero into NULL
    // fim_text while fim_ok still read true (round-11 advice)
    require(minChars >= 2, s"minChars must be >= 2: $minChars")
    val t = col(textCol)
    val len = length(t).cast("long")
    def cut(sub: String) = lit(1L) + pmod(
      Kmv.hash48(concat(col(idCol).cast("string"), lit(salt + sub))),
      len - 1L)
    val lo = least(cut("a"), cut("b"))
    val hi = greatest(cut("a"), cut("b"))
    val eligible = len >= minChars.toLong
    val prefix = t.substr(lit(1), lo.cast("int"))
    val middle = t.substr((lo + 1L).cast("int"), (hi - lo).cast("int"))
    val suffix = t.substr((hi + 1L).cast("int"), (len - hi).cast("int"))
    documents.select(col(idCol),
      eligible.as("fim_ok"),
      when(eligible, lo).otherwise(len).as("prefix_len"),
      when(eligible, hi - lo).otherwise(0L).as("middle_len"),
      when(eligible, len - hi).otherwise(0L).as("suffix_len"),
      when(eligible, concat(lit("<fim_prefix>"), prefix,
        lit("<fim_suffix>"), suffix, lit("<fim_middle>"), middle))
        .otherwise(t).as("fim_text"))
  }

  // ------------------------------------------------- span corruption

  /** T5-style span-corruption rewrite (Raffel et al. 2020 §3.1.4) —
    * the denoising objective's data prep, completing the objective
    * family next to CLM packing (q109/q152) and FIM (q178): masked
    * stretches of each document are replaced by numbered sentinels in
    * the input, and the target lists sentinel + original content per
    * mask plus a closing sentinel. Deterministic deviation from the
    * paper (which samples random spans): the document splits into
    * `segments` equal character segments and segment k corrupts iff
    * hash48(id ‖ salt ‖ k) lands under `ratePpm` — partition-
    * independent, replayable, and adjacent corrupted segments keep
    * separate sentinels (a documented simplification; the objective's
    * shape — bidirectional context, sentinel-keyed targets — is
    * preserved). Documents shorter than `segments` chars pass through
    * with `corrupt_ok = false`.
    *
    * Shape at scale: one explode to (doc × segments) rows each
    * carrying ONE substring (never the whole doc per segment — the
    * Chat.maskSpans argument), a per-doc cumsum window bounded by
    * `segments`, one ordered per-doc reassembly. */
  def spanCorrupt(documents: DataFrame, segments: Int = 8,
                  ratePpm: Long = 150000L, idCol: String = "doc_id",
                  textCol: String = "text",
                  salt: String = "sc"): DataFrame = {
    require(segments > 0 && ratePpm >= 0)
    import org.apache.spark.sql.expressions.Window
    val base = documents.select(col(idCol), col(textCol).as("_t"),
      length(col(textCol)).cast("long").as("_L"))
    val seg = base.where(col("_L") >= segments.toLong)
      .select(col(idCol), col("_t"), col("_L"),
        explode(sequence(lit(0), lit(segments - 1))).as("k"))
      .withColumn("_b0", expr(s"(_L * k) div $segments"))
      .withColumn("_b1", expr(s"(_L * (k + 1)) div $segments"))
      .withColumn("seg", col("_t").substr((col("_b0") + 1L).cast("int"),
        (col("_b1") - col("_b0")).cast("int")))
      .withColumn("flag", pmod(Kmv.hash48(concat(col(idCol).cast("string"),
        lit(salt), col("k").cast("string"))), lit(1000000L)) < ratePpm)
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pieces = seg
      .withColumn("j", coalesce(
        sum(when(col("flag"), 1L)).over(wPrev), lit(0L)))
      .withColumn("_sent",
        concat(lit("<extra_id_"), col("j").cast("string"), lit(">")))
      .withColumn("_in", when(col("flag"), col("_sent")).otherwise(col("seg")))
      .withColumn("_tgt", when(col("flag"), concat(col("_sent"), col("seg"))))
    def joined(c: String) = array_join(transform(
      array_sort(collect_list(struct(col("k"), col(c).as("v")))),
      s => s.getField("v")), "")
    val agg = pieces.groupBy(col(idCol)).agg(
      sum(when(col("flag"), 1L).otherwise(0L)).as("_nc"),
      joined("_in").as("_input"), joined("_tgt").as("_target"))
    base.join(agg, Seq(idCol), "left")
      .select(col(idCol),
        (col("_L") >= segments.toLong).as("corrupt_ok"),
        coalesce(col("_nc"), lit(0L)).as("n_corrupted"),
        coalesce(col("_input"), col("_t")).as("input_text"),
        when(coalesce(col("_nc"), lit(0L)) > 0L,
          concat(col("_target"), lit("<extra_id_"),
            col("_nc").cast("string"), lit(">")))
          .otherwise(lit("")).as("target_text"))
  }

  // -------------------------------------------------- text normalization

  /** Unicode + whitespace normalization (graft.expr.NormalizeText, one
    * codegen'd pass): canonical normalize, strip C0 controls except
    * tab/newline plus DEL, collapse space/tab runs, trim edge spaces —
    * the cleanup that makes shingle/exact dedup keys robust to encoding
    * variance. Pure per-row projection: scan speed, no shuffle, and the
    * steps replicate exactly in DuckDB (q106's oracle: nfc_normalize +
    * two regexp_replace + trim). */
  def normalizeText(df: DataFrame, textCol: String = "text",
                    form: String = "NFC"): DataFrame =
    df.withColumn(textCol, graft.expr.Exprs.normalizeText(col(textCol), form))

  /** Strip HTML markup from scraped text: tags become single spaces
    * (inline tags must not weld adjacent words), then the five standard
    * entities decode — `&amp;` LAST, so `&amp;lt;` yields the literal
    * `&lt;` instead of double-decoding (the classic order bug). Plain
    * regexp_replace/replace chain: codegen'd, oracle-able verbatim in
    * DuckDB (q107 injects markup deterministically, then both engines
    * strip it). Full entity tables / malformed-markup recovery are a
    * parser's job, deliberately out of scope. */
  def stripHtml(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    ent.foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
  }

  /** q107's deterministic markup injection: wrap each document in tags
    * and entities keyed off doc_id. Identical concat semantics in
    * DuckDB. */
  def injectHtml(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      concat(lit("<p class=\"d\">"), lit("title &amp; id "), col("doc_id"),
        lit("</p><br/>"), col("text"), lit(" <a href=\"/x?a=1&amp;b=2\">link</a>&nbsp;&lt;end&gt;"))
        .as("text"))

  // ------------------------------------------------------ decontamination

  /** Benchmark decontamination: flag corpus documents sharing word
    * n-grams with a held-out benchmark set — the overlap check every
    * serious training pipeline runs before training (a doc containing
    * eval-set text poisons the benchmark). Shape: distinct shingles per
    * doc, benchmark shingle set deduplicated, then ONE left equi-join on
    * the shingle against the (distinct, hence fanout-free) benchmark side
    * carrying a hit marker, and ONE per-doc aggregation counting total
    * rows and non-null markers together. The corpus shingles explode once
    * — the earlier semi-join + separate-total formulation exploded them
    * twice and paid the generate + scan a second time. The benchmark set
    * is typically tiny and broadcasts. Returns every corpus doc with its
    * shingle count, shared count, and a contamination flag at
    * `maxSharedRatio`. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
                    maxSharedRatio: Double = 0.2): DataFrame = {
    val sh = (df: DataFrame) => df.select(col("doc_id"),
      explode(array_distinct(Dedup.shingles(col("text"), n))).as("s"))
    val bench = sh(benchmark).select(col("s")).distinct()
    sh(corpus).join(bench.withColumn("_hit", lit(1)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_shared"))
      .withColumn("contaminated",
        col("n_shared") * 100 > lit((maxSharedRatio * 100).round) * col("n_shingles"))
  }

  /** [[decontaminate]] for a benchmark set too big to broadcast: the same
    * output contract, but corpus shingles meet the benchmark through a
    * BLOOM prefilter instead of a direct join. The exact form's broadcast
    * left-join stops working when the deduplicated benchmark shingle set
    * is 100s of MB (a full eval-suite sweep); the fallback — shuffling
    * EVERY corpus shingle against it — is the dominant cost at 100 TB.
    * Here only the bloom SURVIVORS (true hits + ~fpp false positives)
    * reach the exact verification join, so the wide shuffle carries the
    * overlap, not the corpus:
    *   1. per-doc shingle counts as a pure projection (no Generate);
    *   2. one bloom built over xxhash64(benchmark shingles) — Spark's own
    *      mergeable BloomFilterAggregate, collected once (a few MB,
    *      bounded by numBits regardless of corpus size);
    *   3. corpus shingles filtered by might_contain AT THE SCAN, then an
    *      exact semi-join kills false positives;
    *   4. doc-level hit counts join back on doc_id.
    * False negatives are impossible (bloom guarantee), so the output is
    * EXACTLY [[decontaminate]]'s — q91 runs against q68's oracle SQL.
    * Costs one extra corpus scan vs the exact form; at scale, a scan is
    * cheaper than an all-shingles shuffle. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
                         maxSharedRatio: Double = 0.2,
                         expectedItems: Long = -1L): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val sh = (df: DataFrame) => df.select(col("doc_id"),
      explode(array_distinct(Dedup.shingles(col("text"), n))).as("s"))
    // The deduplicated benchmark shingle set is read three times (sizing
    // count, bloom build, exact verification join) — materialize it ONCE
    // via eager localCheckpoint (GC-managed blocks, no CacheManager leak;
    // same discipline as Dedup.materializeAndRelease).
    val bench = sh(benchmark).select(col("s")).distinct().transform(graft.plans.CheckpointAudit.local)
    // expectedItems <= 0 -> size the bloom from the benchmark itself. The
    // sizing count reads the (small, checkpointed) bench side only; an
    // over-provisioned fixed size is worse: every partial aggregation
    // buffer is numBits wide, so a 4M-item bloom over a 200k-shingle
    // benchmark pays 20x the merge traffic for nothing.
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(1024L, bench.count())
    val bloomBytes = bench
      .select(ColumnBridge.column(new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("s"))), items)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val counts = corpus.select(col("doc_id"),
      size(array_distinct(Dedup.shingles(col("text"), n))).cast("long").as("n_shingles"))
    val maybe =
      if (bloomBytes == null) sh(corpus).limit(0) // empty benchmark: no hits
      else sh(corpus).where(ColumnBridge.column(new BloomFilterMightContain(
        Literal.create(bloomBytes),
        ColumnBridge.expression(xxhash64(col("s"))))))
    val shared = maybe.join(bench, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    counts.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated",
        col("n_shared") * 100 > lit((maxSharedRatio * 100).round) * col("n_shingles"))
  }

  /** Deterministic epoch shuffle with a DENSE global index — the "shuffle
    * the corpus for epoch e, reproducibly, and number the rows 0..n-1"
    * step a training run needs before packing/sharding. The shuffle key
    * is md5(id ‖ epoch): reproducible across runs, retries, engines, and
    * partition counts (rand() is none of these), and each epoch is an
    * independent permutation.
    *
    * The dense index is the distributed-zipWithIndex shape, because both
    * built-in routes fail at scale: monotonically_increasing_id is
    * NON-contiguous (positions must be dense for sharding arithmetic),
    * and row_number() over a global ORDER BY funnels the corpus through
    * ONE partition. Instead: range-repartition by key, sort within
    * partitions, count rows per partition (`parts` longs to the driver —
    * bounded, never data), prefix-sum the offsets, and assign positions
    * partition-locally. Two passes over the shuffled data, one shuffle
    * total; the materialization between the counting and numbering pass
    * is an eager localCheckpoint (GC-managed, same discipline as
    * Dedup.materializeAndRelease). */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   parts: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val keyed = df
      .withColumn("_skey", md5(concat(col(idCol).cast("string"), lit(s"_e$epoch"))))
      .repartitionByRange(parts, col("_skey"))
      .sortWithinPartitions("_skey")
      .transform(graft.plans.CheckpointAudit.local)
    val counts = keyed.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1L }
        Iterator.single((pid, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(counts.scanLeft(0L)(_ + _))
    val out = keyed.rdd.mapPartitionsWithIndex { (pid, it) =>
      var pos = offsets.value(pid)
      it.map { r => val row = Row.fromSeq(r.toSeq :+ pos); pos += 1L; row }
    }
    spark.createDataFrame(out, keyed.schema.add("pos", LongType, nullable = false))
  }

  /** GLOBAL sequence packing — the "concatenate-and-chunk" step that turns
    * a curated corpus into fixed-length training sequences: documents are
    * laid out in a deterministic per-epoch shuffle order ([[epochShuffle]]'s
    * md5 key), their token streams conceptually concatenated, and the
    * stream cut every `budget` tokens. The global-stream complement of
    * [[TextAnalysis.sequencePack]] (which packs per-source streams through
    * an ordinary window cumsum and so parallelizes BY stream): here the
    * whole corpus is ONE stream — the layout an actual epoch of training
    * consumes — and the global prefix-sum that would serialize a window
    * formulation through a single partition is computed scalably instead. Each document gets its absolute
    * token offset (`stream_pos`) plus the first/last pack indices it lands
    * in — a document straddling a cut is split across consecutive packs,
    * exactly like production packing (zero padding waste). Everything is
    * arithmetic on md5 + token counts, so a resumed run, a different
    * engine, or a retried stage re-derives the SAME layout.
    *
    * Scale: the only global state is one exclusive prefix-sum of token
    * counts, computed in two passes over a range-partitioned sort — per-
    * partition sums (`parts` longs to the driver) broadcast back as
    * offsets, the same shape as [[epochShuffle]]'s dense index. No global
    * single-partition window, no driver materialization of rows. Token-
    * empty documents are dropped (they occupy no stream positions). */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Long, epoch: Int, parts: Int = 64): DataFrame =
    packStream(df, idCol, textCol, lit(0L), budget, epoch, parts,
      emitStage = false)

  /** CURRICULUM packing — [[packSequences]] with a stage ordering prefix:
    * documents are laid out stage 0 first (e.g. highest-quality tier),
    * then stage 1, ..., with the deterministic per-epoch shuffle WITHIN
    * each stage — the "easy/clean data first" training schedule as a
    * property of the packed layout itself, still one global stream with
    * zero padding waste and the same two-pass scalable prefix sum. */
  def curriculumPack(df: DataFrame, idCol: String, textCol: String,
                     stageCol: String, budget: Long, epoch: Int,
                     parts: Int = 64): DataFrame =
    packStream(df, idCol, textCol, col(stageCol).cast("long"), budget, epoch,
      parts, emitStage = true)

  private def packStream(df: DataFrame, idCol: String, textCol: String,
                         stage: Column, budget: Long, epoch: Int,
                         parts: Int, emitStage: Boolean): DataFrame = {
    require(budget > 0, s"pack budget must be positive: $budget")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val keyed = df.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        md5(concat(col(idCol).cast("string"), lit(s"_e$epoch"))).as("_skey"),
        stage.as("_stage"))
      .where(col("n_tokens") > 0)
      .repartitionByRange(parts, col("_stage"), col("_skey"), col(idCol))
      .sortWithinPartitions(col("_stage"), col("_skey"), col(idCol))
      .transform(graft.plans.CheckpointAudit.local)
    val sums = keyed.rdd.mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        while (it.hasNext) { s += it.next().getLong(1) }
        Iterator.single((pid, s))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(sums.scanLeft(0L)(_ + _))
    val out = keyed.rdd.mapPartitionsWithIndex { (pid, it) =>
      var pos = offsets.value(pid)
      it.map { r =>
        val n = r.getLong(1)
        val base = Seq(r.get(0), n) ++
          (if (emitStage) Seq(r.getLong(3)) else Nil) ++
          Seq(pos, pos / budget, (pos + n - 1) / budget)
        pos += n
        Row.fromSeq(base)
      }
    }
    var schema = new org.apache.spark.sql.types.StructType()
      .add(keyed.schema.fields(0))
      .add("n_tokens", LongType, nullable = false)
    if (emitStage) schema = schema.add("stage", LongType, nullable = false)
    schema = schema
      .add("stream_pos", LongType, nullable = false)
      .add("pack_first", LongType, nullable = false)
      .add("pack_last", LongType, nullable = false)
    spark.createDataFrame(out, schema)
  }

  /** Mixture balancing: downsample over-represented sources toward a
    * UNIFORM target mixture, with the per-source rates derived IN-PLAN
    * from the corpus's own counts — rate_s = min(1, (N/k)/cnt_s) — and
    * applied through the same deterministic md5 predicate as
    * [[hashSample]] (reproducible across runs/engines/retries). The
    * global sum/count windows run over the k-row per-source AGGREGATE,
    * never the corpus, so nothing funnels through one partition; the
    * k-row rate table broadcasts back onto a two-column scan of the
    * corpus. The rate→threshold conversion ((rate·2³²) as 8 hex chars)
    * happens in columns, so the whole operator — statistics, rates,
    * sample — is one plan with no driver round trip. */
  def mixtureBalance(documents: DataFrame, salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    val counts = documents.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
    val rate = least(lit(1.0),
      (sum(col("cnt")).over(wAll).cast("double")
        / count(lit(1)).over(wAll)) / col("cnt"))
    documents
      .join(broadcast(counts.select(col("source"),
        hashSampleThresholdCol(rate).as("_thr"))), Seq("source"))
      .where(md5Prefix(col("doc_id"), salt) < col("_thr"))
      .select(col("doc_id"), col("source"))
  }

  /** Per-source token-length band filter: keep documents whose token count
    * lies within the [lo, hi] percentile band of their OWN source — the
    * outlier cut (truncated pages, concatenation accidents) a curation
    * pipeline applies per domain, because a 50-token doc is normal in one
    * source and pathological in another. ONE scan and ONE source-keyed
    * window shuffle: the exact percentiles come from aggregate-over-window
    * on the same frame (a groupBy + join-back would scan and re-tokenize
    * the corpus twice). Exact percentile is the oracle-able form; swap in
    * approx_percentile partials at petabyte group sizes. */
  def lengthBandFilter(documents: DataFrame, lo: Double = 0.05,
                       hi: Double = 0.95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
    documents
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("p_lo", percentile(col("n_tokens"), lit(lo)).over(w))
      .withColumn("p_hi", percentile(col("n_tokens"), lit(hi)).over(w))
      .where(col("n_tokens") >= col("p_lo") && col("n_tokens") <= col("p_hi"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  /** Gopher-style repetition score: the fraction of a document's word
    * n-grams that are repeats ((total - distinct) / total). High values
    * mean boilerplate/spam; pipelines drop docs above a threshold. Pure
    * per-row column math — scan speed, no shuffle, no UDF. */
  def repetitionScore(documents: DataFrame, n: Int = 3): DataFrame = {
    val all = Dedup.shingles(col("text"), n)
    val total = greatest(size(all), lit(1))
    documents.select(col("doc_id"),
      size(all).cast("long").as("n_ngrams"),
      size(array_distinct(all)).cast("long").as("n_distinct"),
      ((size(all) - size(array_distinct(all))).cast("double") / total)
        .as("rep_ratio"))
  }

  // -------------------------------------------- duplicate-cluster resolve

  /** Resolve near-duplicate PAIRS into clusters: connected components by
    * iterative min-label propagation. Each round, every node takes the
    * minimum label among itself and its neighbours; convergence in
    * O(component diameter) rounds — near-dup clusters are shallow (a dup
    * of a dup of X is itself near X), so a handful of rounds closes them.
    * Every step is an equi-keyed join/groupBy on node ids (the pair set is
    * tiny relative to the corpus — it survived LSH + verification), and
    * each round's label frame is localCheckpoint'ed so lineage stays flat.
    * For adversarial deep graphs (long chains) use [[dupClustersStar]] —
    * alternating large-star/small-star contracts diameter multiplicatively
    * per round; the propagation loop below is the right tool for
    * dedup-shaped (shallow) graphs.
    *
    * Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id) for every
    * doc appearing in a pair, cluster_id = min doc_id of its component —
    * the canonical representative a dedup pass keeps. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // self-loops fold the "keep own label" term into the SAME join that
    // gathers neighbour labels: one join + one groupBy per round instead
    // of join + groupBy + second join (round-trips dominate — the pair
    // set is tiny post-LSH, job overhead is the cost)
    val und = pairs
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .union(pairs.select(col("doc_b").cast("long").as("a"), col("doc_a").cast("long").as("b")))
    // ONE eager materialization of the edge frame (r19): the lazy
    // persist form evaluated the caller's pair-generation subtree ~6
    // times before the cache warmed — twice deriving the node set for
    // the initial labels, four times materializing the union on first
    // use (for q144 the pair engine costs ~0.7 s per evaluation; the
    // rounds themselves are two 0.3 s jobs). Self-loops come from the
    // undirected endpoints' distinct, and the initial labels read the
    // CHECKPOINTED self-loop rows instead of re-deriving pairs.
    val edges = und
      .union(und.select(col("a"), col("a").as("b"))) // self-loops
      .distinct()
      .transform(graft.plans.CheckpointAudit.local)
    var labels = edges.where(col("a") === col("b"))
      .select(col("a").as("node"), col("a").as("label"))
      .transform(graft.plans.CheckpointAudit.local)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // the self-loop row (a, a) carries a's OWN current label through
      // the same join that gathers neighbour labels, so the round's
      // aggregate emits (new label, previous label) side by side and
      // convergence is a filter over the checkpointed round output —
      // no second shuffle join of next against labels per round (r18;
      // guide §2.4: the check was a full equi-join of two label frames
      // every iteration)
      val next = edges
        .join(labels.select(col("node").as("b"), col("label").as("nbl")), "b")
        .groupBy(col("a"))
        .agg(min(col("nbl")).as("label"),
          min(when(col("b") === col("a"), col("nbl"))).as("_prev"))
        .select(col("a").as("node"), col("label"), col("_prev"))
        .transform(graft.plans.CheckpointAudit.local)
      converged = next.where(col("label") =!= col("_prev")).isEmpty
      labels = next.select(col("node"), col("label"))
      it += 1
    }
    // same safety posture as dupClustersStar: an unconverged exit means
    // wrong labels — fail loudly (min-label needs O(diameter) rounds;
    // hitting maxIter suggests a chain graph — use dupClustersStar)
    require(converged,
      s"dupClusters did not converge in $maxIter rounds — labels would be " +
        s"incorrect; raise maxIter or use dupClustersStar (O(log n) rounds)")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the adversarial-depth fallback to [[dupClusters]]. Min-label
    * propagation converges in O(diameter) rounds, fine for shallow
    * dedup-cluster graphs but slow on a million-node chain; the star
    * operations contract path lengths multiplicatively, converging in
    * O(log n) rounds on any topology. Each half-round is one window-min
    * over the node's neighbor list plus a projection — equi-keyed
    * shuffles only, localCheckpoint'ed so lineage stays flat.
    *
    * Same contract as [[dupClusters]]: pairs in, (doc_id, cluster_id =
    * component min) out. */
  def dupClustersStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("u"))
    // large-star: attach every neighbor LARGER than u to the minimum of
    // u's closed neighborhood — long tails collapse toward small labels
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      sym.withColumn("m", least(min(col("v")).over(w), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: point every edge large->small, then attach u and all its
    // smaller neighbors to the smallest of them
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).distinct()
      val withM = dir.withColumn("m", min(col("v")).over(w))
      withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    // node set from BOTH endpoints (incl. self-pairs) so the output
    // contract matches dupClusters exactly: every doc appearing in a
    // pair gets a label, even docs whose only pair is (d, d)
    val nodes = pairs.select(col("doc_a").cast("long").as("n"))
      .union(pairs.select(col("doc_b").cast("long").as("n"))).distinct()
      .transform(graft.plans.CheckpointAudit.local)
    var edges = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .transform(graft.plans.CheckpointAudit.local)
    var converged = edges.isEmpty
    var it = 0
    var nEdges = edges.count()
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).transform(graft.plans.CheckpointAudit.local)
      // fixpoint = star-shaped: every u keeps exactly its component min.
      // next ⊆ edges (one exceptAll) + equal counts ⇒ set equality —
      // one cheap count instead of the second exceptAll pass
      val nNext = next.count()
      converged = nNext == nEdges && next.exceptAll(edges).isEmpty
      edges = next
      nEdges = nNext
      it += 1
    }
    // an unconverged exit would hand back wrong cluster ids with no
    // signal — fail loudly instead (star-contraction converges in
    // O(log n) rounds, so hitting maxIter=50 means pathological input)
    require(converged,
      s"dupClustersStar did not reach the star fixpoint in $maxIter rounds " +
        s"($nEdges edges remain) — labels would be incorrect; raise maxIter")
    // at the fixpoint every edge is (node -> component min); the roots
    // appear only on the right and label themselves; isolated nodes
    // (self-pair-only docs) appear in no edge and also label themselves
    val labeled = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
    labeled.union(
      nodes.join(labeled.select(col("doc_id").as("n")), Seq("n"), "left_anti")
        .select(col("n").as("doc_id"), col("n").as("cluster_id")))
  }

  /** Cluster-size SPECTRUM with a power-law fit — the dedup health
    * report read off [[dupClusters]] output (or any assignment frame:
    * k-means, image/video dup components): cluster sizes collapse onto
    * octaves (size ∈ [2^k, 2^(k+1)) → octave k — the ilog2 device) and
    * the integer least-squares line over (octave+1, 1000·ilog2
    * n_clusters) estimates the size-distribution exponent as
    * `slope_milli`. A steeply negative slope is the healthy long tail
    * (most docs unique, dup mass in small clusters); a flat or positive
    * slope means mega-components — the boilerplate/mirror pathology a
    * dedup owner must look at before trusting survivor counts. Include
    * singleton clusters (docs untouched by any pair) in the input —
    * octave 0 anchors the fit; a pairs-only spectrum overstates the
    * tail (q233 does exactly that composition).
    *
    * Shape at scale: one map-side-combined size rollup (bounded by the
    * cluster count), one octave rollup (≤ 64 rows), and the lsFit
    * window over that bounded frame. */
  def clusterSpectrum(clusters: DataFrame,
                      clusterCol: String = "cluster_id"): DataFrame = {
    val sz = clusters.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("csize"))
    val oct = sz
      .groupBy((length(bin(col("csize"))).cast("long") - 1L).as("octave"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("csize")).cast("long").as("n_docs"))
    val curve = oct
      .withColumn("y_milli",
        (length(bin(col("n_clusters"))).cast("long") - 1L) * 1000L)
      .withColumn("x", col("octave") + 1L)
    TextAnalysis.lsFitMilli(curve, "x", "y_milli")
      .select(col("octave"), col("n_clusters"), col("n_docs"),
        col("y_milli"), col("slope_milli"), col("intercept_milli"))
  }

  // ------------------------------------------------------- end-to-end

  /** The full curation pipeline in one plan — what a user actually runs:
    * quality gate (token count + stopword ratio, integer-exact comparison)
    * -> language filter -> exact dedup (keep min doc_id per identical
    * text, keyed on (md5, length) so text never shuffles) -> deterministic
    * hash-sample. One window shuffle on the 128-bit content key; every
    * filter is a scan-side predicate BEFORE that shuffle, so the exchange
    * carries only the quality-passing subset. */
  def curate(documents: DataFrame,
             minTokens: Int = 20,
             maxStopPct10: Int = 6, // stop_hits*10 <= maxStopPct10*n_tokens
             langs: Seq[String] = Seq("en", "de", "fr"),
             sampleRate: Double = 0.5,
             salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col("text"))
    val stopHits = size(filter(toks, t => t.isInCollection(TextAnalysis.stopwords)))
    val w = Window
      .partitionBy(md5(col("text").cast("binary")), length(col("text")))
      .orderBy(col("doc_id"))
    documents
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("stop_hits", stopHits)
      .where(col("n_tokens") >= minTokens &&
        col("stop_hits") * 10 <= lit(maxStopPct10) * col("n_tokens") &&
        col("lang").isInCollection(langs))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .where(hashSamplePredicate(col("doc_id"), sampleRate, salt))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
  }

  /** Corpus-level duplicate-LINE removal (the C4 cleaning rule, Raffel et
    * al. 2020 §2.2: "we discarded all but one of any three-sentence span
    * occurring more than once" — here at line granularity): every line
    * keeps only its FIRST occurrence corpus-wide (first = lowest
    * (doc_id, position)), documents are reassembled from their surviving
    * lines in original order, and documents left with no lines disappear.
    * Catches the boilerplate (nav bars, license headers, cookie banners)
    * that document-level dedup can't see.
    *
    * Shape at 100 TB: explode → groupBy(line) taking `min(struct(doc,
    * pos))` — map-side combinable, so a line duplicated 10⁸ times
    * (cookie banner) collapses to one row per map task BEFORE the
    * exchange; the alternative `row_number() OVER (PARTITION BY line)`
    * would sort that line's every occurrence in one task. The first-
    * occurrence frame joins back on the line key (equi-join), and
    * reassembly is one doc-keyed aggregation with an in-memory
    * `array_sort` over that DOC's surviving lines only. */
  def dedupLines(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), sepRe)).as(Seq("_pos", "_line")))
    val firsts = lines.groupBy(col("_line"))
      .agg(min(struct(col(idCol).as("d"), col("_pos").as("p"))).as("_f"))
    lines.join(firsts, Seq("_line"))
      .where(col(idCol) === col("_f.d") && col("_pos") === col("_f.p"))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
          s => s.getField("_line")), sep).as(textCol))
  }

  /** The last step of a dedup pipeline: resolve near-duplicate PAIRS into
    * a deduplicated corpus by keeping ONE canonical document per cluster
    * — the highest-`scoreCol` member (ties broken by lowest id; the
    * "keep the longest/highest-quality copy" rule) — plus every document
    * that was never paired.
    *
    * Shape at 100 TB: the pair graph survived LSH + exact verification,
    * so `clusters` and the per-cluster representative frame are tiny
    * relative to the corpus; both are broadcast onto a SINGLE scan of
    * `docs` (left join + filter) — the corpus itself never shuffles, and
    * the only wide work is [[dupClusters]]' equi-joins over the pair set.
    * The argmax is `min(struct(-score, id))` — same deterministic tie
    * rule as [[graft.ops.Quality.gopherRepetition]]'s top-gram. */
  def resolveDuplicates(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id",
                        scoreCol: String = "n_chars"): DataFrame = {
    val clusters = dupClusters(pairs)
      .select(col("doc_id").as("_rd_id"), col("cluster_id").as("_rd_cl"))
    val reps = docs.select(col(idCol).as("_rd_id"), col(scoreCol).as("_rd_s"))
      .join(clusters, Seq("_rd_id"))
      .groupBy(col("_rd_cl"))
      .agg(min(struct((-col("_rd_s")).as("ns"), col("_rd_id").as("id"))).as("m"))
      .select(col("_rd_cl"), col("m.id").as("_rd_rep"))
    docs
      .join(broadcast(clusters), docs(idCol) === clusters("_rd_id"), "left")
      .join(broadcast(reps), Seq("_rd_cl"), "left")
      .where(col("_rd_cl").isNull || col(idCol) === col("_rd_rep"))
      .drop("_rd_id", "_rd_cl", "_rd_rep")
  }

  /** Soft deduplication — REWEIGHT duplicates instead of dropping them
    * (the SoftDedup idea, Xue et al. '24: hard removal throws away the
    * signal that a document was independently published N times; keeping
    * every copy at weight 1/N preserves the corpus distribution while
    * removing the over-count). Every document in `docs` gets a sampling
    * weight from its near-duplicate cluster size:
    *
    *   weight_ppm = scale div cluster_size   (integer, exact)
    *
    * with never-paired documents forming singleton clusters (size 1,
    * full weight, cluster_id = own id). The weight column feeds the
    * existing weighted samplers ([[graft.ops.Importance]], q88's
    * weighted sample) as-is.
    *
    * Shape at 100 TB: the pair graph survived LSH + verification, so the
    * cluster frame is tiny relative to the corpus; cluster labels and
    * sizes broadcast onto a single scan of `docs` — the corpus never
    * shuffles (the [[resolveDuplicates]] posture; the only wide work is
    * [[dupClusters]]' equi-joins over the pair set). */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id",
                       scale: Long = 1000000L): DataFrame = {
    val clusters = dupClusters(pairs)
    val member = clusters
      .join(clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size")), Seq("cluster_id"))
      .select(col("doc_id").as("_sd_id"), col("cluster_id"), col("cluster_size"))
    docs.select(col(idCol))
      .join(broadcast(member), col(idCol) === col("_sd_id"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol).cast("long")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_ppm", expr(s"$scale div cluster_size"))
  }

  /** C4's line-level quality pass (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2 — the cleaning that turned Common Crawl into C4):
    *   - keep only lines that END in a terminal punctuation mark
    *     (`.` `!` `?` or a closing `"`),
    *   - keep only lines with at least `minLineWords` words,
    *   - drop any line containing the word "javascript" (case-blind),
    *   - drop the whole document if it contains "lorem ipsum" or a `{`,
    *   - drop the whole document if, after line filtering, fewer than
    *     `minSentences` sentences remain (sentence ≈ terminal `.!?`
    *     occurrences in the kept text — the deterministic stand-in for
    *     the paper's sentence tokenizer).
    * Surviving documents carry the reassembled kept text.
    *
    * Shape at scale: pure per-row column math over one scan — zero
    * shuffles, zero joins; each HOF lambda touches each line once (work
    * linear in text size). The bad-word-list rule is site policy and is
    * left to the caller's extra predicate. */
  def c4Filter(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", sep: String = "\n",
               minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")) &&
        size(filter(split(l, "\\s+"), w => w =!= "")) >= minLineWords &&
        !lower(l).contains("javascript"))
    val keptText = array_join(kept, sep)
    val sentences =
      (length(keptText) - length(translate(keptText, ".!?", ""))).cast("long")
    docs
      .where(!lower(col(textCol)).contains("lorem ipsum") &&
        !col(textCol).contains("{"))
      .select(col(idCol), keptText.as(textCol),
        size(kept).cast("long").as("n_lines"), sentences.as("n_sentences"))
      .where(col("n_sentences") >= minSentences)
  }

  /** Temperature-flattened mixture resampling (the multilingual-corpus
    * rebalance of Conneau & Lample 2019 / mT5: sample source s with
    * probability ∝ p_s^τ instead of its natural share p_s, so head
    * sources shrink and tail sources keep everything). Realized as
    * per-source subsampling with keep-rate p_s^(τ−1) normalized so the
    * SMALLEST source keeps 100%; at the fixed τ = 1/2 that rate is
    * exactly `sqrt(n_min / n_s)`. τ is pinned at 1/2 deliberately:
    * sqrt and double division are correctly-rounded IEEE ops, so Spark
    * and any oracle engine derive bit-identical rates — a general pow()
    * is not correctly rounded and could flip a coin at the boundary.
    * The coin is the same md5 threshold as [[hashSample]]: deterministic
    * per doc, retry- and engine-stable, independent of partitioning.
    *
    * Shape at scale: one count aggregation (map-side combined, ≤ #sources
    * rows), a broadcast of per-source thresholds, and one corpus scan
    * with a scan-side predicate — no corpus-keyed shuffle at all. */
  def temperatureSample(documents: DataFrame, sourceCol: String = "source",
                        idCol: String = "doc_id",
                        salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    val counts = documents.groupBy(col(sourceCol)).agg(count(lit(1)).as("cnt"))
    val rate = sqrt(min(col("cnt")).over(wAll).cast("double") / col("cnt"))
    documents
      .join(broadcast(counts.select(col(sourceCol),
        hashSampleThresholdCol(rate).as("_thr"))), Seq(sourceCol))
      .where(md5Prefix(col(idCol), salt) < col("_thr"))
      .select(col(idCol), col(sourceCol))
  }

  // ------------------------------------------------- contamination report

  /** Per-BENCHMARK-document contamination report against a training
    * corpus — the metric eval-suite cards publish (GPT-3 appendix C /
    * Lee et al. '21 methodology): for every benchmark doc, the fraction
    * of its `n`-token gram positions whose exact gram also occurs in
    * the corpus, and the LONGEST run of consecutive contaminated
    * positions (a long run means a verbatim span leaked, which a flat
    * fraction can hide). [[decontaminate]] answers the inverse question
    * (which CORPUS docs to drop); this reports on the benchmark side
    * with positional resolution.
    *
    * Matching is CASE-SENSITIVE exact ([[graft.expr.Md5Shingles]], the
    * [[Dedup.exactSubstrDedup]] key discipline — contamination claims
    * are about verbatim leakage); benchmark docs shorter than `n`
    * tokens have no gram evidence and report 0/0 with frac 0.
    *
    * Scale shape: the benchmark gram-key set is small (eval suites are
    * MBs) and arrives BROADCAST; the corpus contributes ONE scan whose
    * grams are filtered against that broadcast set scan-side — the
    * corpus never shuffles, only the surviving keys (bounded by the
    * benchmark set size) pass through a distinct. The per-doc longest
    * run is one benchmark-keyed window over hit positions (bounded by
    * benchmark doc length). Corpus-side cost is identical to
    * [[decontaminateBloom]]'s scan (16.7 s at 1M docs, BENCH_NOTES.md).
    */
  def overlapReport(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
                    maxSharedRatio: Double = 0.2,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val benchPos = benchmark.select(col(idCol),
      posexplode(graft.expr.Exprs.md5Shingles(col(textCol), n)).as(Seq("_p0", "_h")))
      .select(col(idCol), (col("_p0") + 1).as("_p"), col("_h"))
    val benchKeys = benchPos.select("_h").distinct()
    // corpus grams meet the benchmark set scan-side (broadcast), and only
    // survivors (<= |benchKeys|) are deduplicated
    val foundKeys = corpus
      .select(explode(graft.expr.Exprs.md5Shingles(col(textCol), n)).as("_h"))
      .join(broadcast(benchKeys), Seq("_h"), "left_semi")
      .distinct()
    val hits = benchPos.join(broadcast(foundKeys.withColumn("_hit", lit(1))),
      Seq("_h"), "left")
    // longest consecutive-hit run: p - row_number(p) is constant within a run
    val w = Window.partitionBy(col(idCol)).orderBy(col("_p"))
    val runs = hits.where(col("_hit") === 1)
      .withColumn("_grp", col("_p") - row_number().over(w))
      .groupBy(col(idCol), col("_grp")).agg(count(lit(1)).as("_run"))
      .groupBy(col(idCol)).agg(max(col("_run")).as("_longest"))
    val perDoc = hits.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("_hit")).as("n_hit"))
    val reported = perDoc.join(runs, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("overlap_frac"),
        coalesce(col("_longest"), lit(0L)).as("longest_run"),
        // exact integer cross-multiplication at parts-per-million
        // granularity: any threshold expressible in millionths compares
        // exactly (0.2 -> 200000; both sides of the former whole-percent
        // form scale by 10^4, so existing oracles are unchanged). A
        // sub-ppm maxSharedRatio still rounds — document, don't float.
        (col("n_hit") * 1000000L >
          lit((maxSharedRatio * 1000000L).round) * col("n_grams"))
          .as("contaminated"))
    // sub-n-token benchmark docs carry no grams: report 0/0, frac 0
    benchmark.select(col(idCol)).join(reported, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("overlap_frac"), lit(0.0)).as("overlap_frac"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Data-constrained mixture allocation (the Muennighoff et al. '23
    * "Scaling Data-Constrained LMs" planning step): split a global token
    * budget across sources when repeating data has diminishing returns —
    * target shares are temperature-upweighted (w_s = floor(√T_s), the
    * τ=2 rule that favors small/rare sources, the q126 idea at the
    * SOURCE level) but no source may be repeated past `maxEpochs`:
    *
    *   a_s = min(maxEpochs·T_s, λ·w_s),  λ = max s.t. Σ a_s ≤ budget.
    *
    * Because cap/weight = maxEpochs·√T grows with size, SMALL sources
    * hit their epoch cap first and the surplus water-fills into larger
    * ones — exactly the paper's observed optimum shape.
    *
    * Exact water-filling without a cutoff search: with sources in
    * ascending cap/weight order, s is capped iff the fill level that
    * would cap it already overflows the budget —
    *   C_≤s·w_s + cap_s·W_>s ≤ B·w_s
    * (C_≤s = Σ caps through s, W_>s = Σ weights after s; the λ-free
    * cross-multiplied form, every term a BIGINT both engines replay).
    * Uncapped sources then share λ* = (B − Σ capped caps)/Σ uncapped w
    * by integer floor. The ORDER uses the IEEE-double ratio (both
    * engines compute identical doubles; ties break on source name) —
    * the allocation arithmetic itself never touches floats. Bound:
    * B·w_s and cap_s·W fit BIGINT for B ≲ 2^63/√T_max — document-scale
    * corpora are fine; shard the plan beyond.
    *
    * Shape at scale: one map-side-combined per-source aggregate; the
    * window/prefix sums run over the SOURCE domain (audit-bounded, the
    * kAnonymity argument), and the two totals broadcast back. Output:
    * one row per source with the allocation and effective epochs in
    * exact milli-epochs. */
  def epochAllocate(documents: DataFrame, budget: Long, maxEpochs: Long = 4L,
                    sourceCol: String = "source",
                    costCol: String = "n_chars"): DataFrame =
    epochAllocateCore(documents,
      documents.sparkSession.range(1).select(lit(budget).as("_budget")),
      maxEpochs, sourceCol, costCol)

  /** [[epochAllocate]] with the budget derived IN-PLAN as
    * `(num * total_cost) div den` over the whole frame (a 1-row
    * broadcast aggregate, the q158-totals pattern) — e.g. num=5, den=2
    * is "2.5 epochs of the corpus". Registering this query triggers NO
    * driver-side job: the budget is a subtree of the returned plan, so
    * the corpus is scanned exactly once per measured run instead of
    * once at build time and again at run time. The total deliberately
    * aggregates the UNFILTERED frame (sum skips NULLs; non-positive
    * costs still count toward the global budget a caller reasons about)
    * — identical to the literal-budget convention callers used. */
  def epochAllocateScaled(documents: DataFrame, num: Long, den: Long,
                          maxEpochs: Long = 4L,
                          sourceCol: String = "source",
                          costCol: String = "n_chars"): DataFrame =
    epochAllocateCore(documents,
      documents.agg(
        expr(s"(sum($costCol) * ${num}L) div ${den}L").as("_budget")),
      maxEpochs, sourceCol, costCol)

  private def epochAllocateCore(documents: DataFrame, budgetDf: DataFrame,
                                maxEpochs: Long, sourceCol: String,
                                costCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = documents
      .where(col(costCol).isNotNull && col(costCol) > 0L &&
        col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(sum(col(costCol)).as("tokens_avail"))
      .withColumn("weight",
        expr("cast(floor(sqrt(cast(tokens_avail as double))) as long)"))
      .withColumn("cap", col("tokens_avail") * maxEpochs)
      .withColumn("_ratio",
        col("cap").cast("double") / col("weight").cast("double"))
    val ord = Window.orderBy(col("_ratio"), col(sourceCol))
    val tagged = per
      .withColumn("_c_le", sum(col("cap")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_w_gt", coalesce(sum(col("weight")).over(
        ord.rowsBetween(1, Window.unboundedFollowing)), lit(0L)))
      .crossJoin(broadcast(budgetDf))
      .withColumn("capped",
        col("_c_le") * col("weight") + col("cap") * col("_w_gt")
          <= col("_budget") * col("weight"))
    val tot = tagged.agg(
      coalesce(sum(when(col("capped"), col("cap"))), lit(0L)).as("_cstar"),
      coalesce(sum(when(!col("capped"), col("weight"))), lit(0L)).as("_wstar"))
    tagged.crossJoin(broadcast(tot))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap"))
          .otherwise(expr(
            "((_budget - _cstar) * weight) div greatest(_wstar, 1L)")))
      .withColumn("epochs_milli",
        expr("(alloc_tokens * 1000) div tokens_avail"))
      .select(col(sourceCol), col("tokens_avail"), col("weight"),
        col("capped"), col("alloc_tokens"), col("epochs_milli"))
  }
}
