package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversation (SFT) data preparation — the supervised-fine-tuning leg
  * of the training-data pipeline: multi-turn (role, content) transcripts
  * rendered to a fixed chat template, per-turn LOSS-MASK character
  * spans, and structural validation. The pretraining surface
  * (dedup/quality/mixture) treats a document as one string; SFT data is
  * structured, and the three operations every SFT pipeline runs before
  * tokenization are exactly these: flatten to template text, know which
  * character ranges are assistant-authored (only those take loss), and
  * quarantine transcripts whose structure is broken (role gaps, empty
  * turns, truncated endings).
  *
  * Template (ChatML-shaped, fixed):
  *   piece(role, content) = "<|" + role + "|>\n" + content + "\n<|end|>\n"
  * rendered = concat of pieces in turn order. All span arithmetic is
  * integer length bookkeeping — piece_start via a per-doc cumsum window
  * over turn lengths, content_start = piece_start + len(role) + 5
  * (`<|`+`|>`+`\n`), content_end exclusive — so a SQL engine replays
  * every offset exactly (the q109/q152 window-cumsum discipline;
  * lengths are in CHARACTERS, both engines' `length` on the same
  * strings).
  *
  * Shape at scale: one posexplode (rows = total turns, each carrying
  * one turn's text, never the whole transcript), one per-doc window
  * over turn counts (bounded per doc — the q35 argument), one ordered
  * per-doc concat for the rendered text (window collect_list, no
  * interpreted higher-order functions). No corpus-sized shuffle beyond
  * the per-doc window.
  */
object Chat {

  private def piece(role: Column, content: Column): Column =
    concat(lit("<|"), role, lit("|>\n"), content, lit("\n<|end|>\n"))

  /** A span MEASURE: how long a template segment is, in some unit.
    * [[Chars]] counts characters (both engines' `length`); [[Toks]]
    * counts q34's BPE pre-tokens (the regex proven cross-engine) — the
    * unit real packing budgets are denominated in. Tokenization
    * respects segment boundaries for free: every segment junction in
    * the template is a `\n`, which the pre-token regex never includes
    * in a token, so tokens(piece) = tokens(header) ++ tokens(content)
    * ++ tokens(footer) and the offset arithmetic below is exact in
    * token space too. */
  private sealed trait Measure {
    def pieceLen(role: Column, content: Column): Column
    /** Offset of the content within its piece. */
    def headerLen(role: Column): Column
    def contentLen(content: Column): Column
  }
  private object Chars extends Measure {
    def pieceLen(role: Column, content: Column): Column =
      length(piece(role, content)).cast("long")
    def headerLen(role: Column): Column = // "<|" + role + "|>\n"
      length(role).cast("long") + 5L
    def contentLen(content: Column): Column = length(content).cast("long")
  }
  private object Toks extends Measure {
    private def ntok(c: Column): Column =
      size(regexp_extract_all(c, lit(TextAnalysis.bpePattern), lit(0)))
        .cast("long")
    def pieceLen(role: Column, content: Column): Column =
      ntok(piece(role, content))
    def headerLen(role: Column): Column =
      ntok(concat(lit("<|"), role, lit("|>")))
    def contentLen(content: Column): Column = ntok(content)
  }

  /** Per-turn rows with template offsets: (doc_id, turn_idx, role,
    * content_start, content_end) — content_end exclusive; the
    * assistant-role rows ARE the loss mask. Turns with NULL role or
    * content are dropped (they cannot be rendered; [[validate]] reports
    * them). `turnsCol` is array<struct<role: string, content: string>>. */
  def maskSpans(conv: DataFrame, idCol: String = "doc_id",
                turnsCol: String = "turns"): DataFrame =
    maskSpansBy(conv, idCol, turnsCol, Chars)

  /** [[maskSpans]] in TOKEN units (q34 BPE pre-tokens): offsets into
    * the tokenized template stream instead of its character stream. */
  def maskSpansTokens(conv: DataFrame, idCol: String = "doc_id",
                      turnsCol: String = "turns"): DataFrame =
    maskSpansBy(conv, idCol, turnsCol, Toks)

  private def maskSpansBy(conv: DataFrame, idCol: String,
                          turnsCol: String, m: Measure): DataFrame = {
    val t = conv.select(col(idCol),
        posexplode(col(turnsCol)).as(Seq("turn_idx", "t")))
      .select(col(idCol), col("turn_idx").cast("long").as("turn_idx"),
        col("t.role").as("role"), col("t.content").as("content"))
      .where(col("role").isNotNull && col("content").isNotNull)
      .withColumn("_plen", m.pieceLen(col("role"), col("content")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("_pstart", coalesce(sum(col("_plen")).over(w), lit(0L)))
      .withColumn("content_start", col("_pstart") + m.headerLen(col("role")))
      .withColumn("content_end",
        col("content_start") + m.contentLen(col("content")))
      .select(col(idCol), col("turn_idx"), col("role"),
        col("content_start"), col("content_end"))
  }

  /** One row per transcript: turn count, assistant-turn count, rendered
    * template text, its length, and the assistant-character total (the
    * loss-bearing fraction's numerator — SFT mixes are budgeted on
    * ASSISTANT tokens, not document tokens). Transcripts whose every
    * turn was droppable are absent (nothing to render — [[validate]]
    * reports them). */
  def flatten(conv: DataFrame, idCol: String = "doc_id",
              turnsCol: String = "turns"): DataFrame = {
    val t = conv.select(col(idCol),
        posexplode(col(turnsCol)).as(Seq("turn_idx", "t")))
      .select(col(idCol), col("turn_idx"),
        col("t.role").as("role"), col("t.content").as("content"))
      .where(col("role").isNotNull && col("content").isNotNull)
      .withColumn("_piece", piece(col("role"), col("content")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rn = Window.partitionBy(col(idCol)).orderBy(col("turn_idx"))
    t.withColumn("rendered", array_join(collect_list(col("_piece")).over(w), ""))
      .withColumn("n_turns", count(lit(1)).over(w))
      .withColumn("n_assistant",
        count(when(col("role") === "assistant", 1)).over(w))
      .withColumn("assistant_chars", coalesce(sum(
        when(col("role") === "assistant", length(col("content")).cast("long")))
        .over(w), lit(0L)))
      .withColumn("_rn", row_number().over(rn))
      .where(col("_rn") === 1)
      .select(col(idCol), col("n_turns"), col("n_assistant"),
        length(col("rendered")).cast("long").as("rendered_len"),
        col("assistant_chars"), col("rendered"))
  }

  /** Loss-mask spans remapped to PACKED-sequence coordinates — the SFT
    * pipeline's endpoint: rendered transcripts concatenate in `idCol`
    * order into one global character stream chunked into `seqLen`
    * blocks (the q109 zero-padding-waste layout), and every
    * loss-bearing span lands as one fragment row per block it overlaps
    * — (seq_idx, doc, turn, role, frag_start, frag_end), frag
    * coordinates within the block. Spans SPLIT at block boundaries
    * (the case hand-rolled packers corrupt: a mask that silently
    * truncates at the boundary trains on the orphaned tail as context
    * loss). Zero-length spans (empty contents) carry no loss and emit
    * nothing.
    *
    * Global offsets use the [[Curate.packSequences]] two-pass
    * discipline: per-partition length sums (a bounded `parts`-long
    * collect, never rows) broadcast back as partition base offsets — no
    * single-partition global window. Everything else is per-row integer
    * arithmetic both engines replay. */
  def packSpans(conv: DataFrame, seqLen: Long, idCol: String = "doc_id",
                turnsCol: String = "turns", parts: Int = 64): DataFrame =
    packSpansBy(conv, seqLen, idCol, turnsCol, parts, Chars)

  /** [[packSpans]] in TOKEN units — the form a training pipeline
    * actually budgets: `seqLen` is a TOKEN count (the model's context
    * length), the global stream is the concatenation of tokenized
    * rendered transcripts, and every fragment is a token range within
    * its block. Token counts are q34's BPE pre-tokens (regex, proven
    * cross-engine), so the oracle replays every offset exactly; a real
    * subword tokenizer slots in by swapping the measure — the
    * boundary-split discipline is unit-agnostic. */
  def packSpansTokens(conv: DataFrame, seqLen: Long,
                      idCol: String = "doc_id", turnsCol: String = "turns",
                      parts: Int = 64): DataFrame =
    packSpansBy(conv, seqLen, idCol, turnsCol, parts, Toks)

  /** [[packSpansTokens]] under a TRAINED SUBWORD tokenizer — the final
    * composition the token-space path was built for (round-11
    * verdict): `seqLen` is a budget in REAL BPE tokens from `merges`
    * (the [[Bpe]] trainer's artifact), not pre-token counts. The
    * boundary-split arithmetic is unit-agnostic; what a subword
    * measure must preserve is segment ADDITIVITY at the template's
    * `\n` junctions, and [[Bpe.ntokCol]] has it by construction
    * (merges never cross a pre-token, pre-tokens never contain `\n`),
    * so tokens(piece) = tokens(header) + tokens(content) +
    * tokens(footer) holds and every offset below is exact in subword
    * space. The merge table broadcasts once; the measure is one
    * deterministic scalar per short segment. */
  def packSpansSubword(conv: DataFrame, seqLen: Long,
                       merges: Seq[(String, String)],
                       idCol: String = "doc_id", turnsCol: String = "turns",
                       parts: Int = 64): DataFrame = {
    val ntok = Bpe.ntokCol(conv, merges)
    packSpansBy(conv, seqLen, idCol, turnsCol, parts, new SubwordToks(ntok))
  }

  private final class SubwordToks(ntok: Column => Column) extends Measure {
    def pieceLen(role: Column, content: Column): Column =
      ntok(piece(role, content))
    def headerLen(role: Column): Column =
      ntok(concat(lit("<|"), role, lit("|>")))
    def contentLen(content: Column): Column = ntok(content)
  }

  private def packSpansBy(conv: DataFrame, seqLen: Long, idCol: String,
                          turnsCol: String, parts: Int,
                          m: Measure): DataFrame = {
    require(seqLen > 0, s"sequence length must be positive: $seqLen")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = conv.sparkSession
    val flat = conv.select(col(idCol),
        posexplode(col(turnsCol)).as(Seq("turn_idx", "t")))
      .select(col(idCol), col("t.role").as("role"), col("t.content").as("content"))
      .where(col("role").isNotNull && col("content").isNotNull)
      .groupBy(col(idCol))
      .agg(sum(m.pieceLen(col("role"), col("content")))
        .as("rendered_len"))
      .repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(col(idCol))
      .transform(graft.plans.CheckpointAudit.local)
    val sums = flat.rdd.mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        while (it.hasNext) { s += it.next().getLong(1) }
        Iterator.single((pid, s))
      }.collect().sortBy(_._1).map(_._2) // bounded: `parts` longs
    val offsets = spark.sparkContext.broadcast(sums.scanLeft(0L)(_ + _))
    val offRows = flat.rdd.mapPartitionsWithIndex { (pid, it) =>
      var pos = offsets.value(pid)
      it.map { r =>
        val out = Row(r.get(0), pos)
        pos += r.getLong(1)
        out
      }
    }
    val doff = spark.createDataFrame(offRows,
      new org.apache.spark.sql.types.StructType()
        .add(flat.schema.fields(0)).add("_doff", LongType, nullable = false))
    maskSpansBy(conv, idCol, turnsCol, m)
      .where(col("content_end") > col("content_start"))
      .join(doff, Seq(idCol))
      .withColumn("_gs", col("_doff") + col("content_start"))
      .withColumn("_ge", col("_doff") + col("content_end"))
      .withColumn("seq_idx", explode(sequence(
        expr(s"_gs div ${seqLen}L"), expr(s"(_ge - 1) div ${seqLen}L"))))
      .select(col("seq_idx"), col(idCol), col("turn_idx"), col("role"),
        (greatest(col("_gs"), col("seq_idx") * seqLen)
          - col("seq_idx") * seqLen).as("frag_start"),
        (least(col("_ge"), (col("seq_idx") + 1) * seqLen)
          - col("seq_idx") * seqLen).as("frag_end"))
  }

  /** Preference-pair (DPO/RLHF) data validation — the third leg of the
    * training-data pipeline after pretraining documents and SFT
    * transcripts: (chosen, rejected) transcript pairs must share their
    * prompt PREFIX exactly (the preference signal is about the final
    * response, so a prefix divergence means the pair compares apples to
    * oranges), both must END with an assistant turn (that is the turn
    * being preferred), and the final responses must actually DIFFER (a
    * tie teaches the reward/DPO objective nothing). Per pair:
    * `prefix_ok` (equal turn counts and position-wise identical
    * (role, content) through n−2, NULL-safe), `ends_ok`,
    * `divergent_ok`, the final-response lengths (the length-bias audit
    * every preference set needs — reward models notoriously learn
    * "longer is better"), and `ok`.
    *
    * Shape at scale: two posexplodes joined position-wise per pair
    * (rows = total turns, each carrying one turn), one per-pair
    * aggregation — no whole-transcript comparison materializes a
    * concatenated string. Pairs with an empty side fail `ends_ok`/
    * `divergent_ok` (nothing to prefer), not silently vanish. */
  def preferencePairs(pairs: DataFrame, idCol: String = "pair_id",
                      chosenCol: String = "chosen",
                      rejectedCol: String = "rejected"): DataFrame = {
    val base = pairs.select(col(idCol),
      size(col(chosenCol)).cast("long").as("_nc"),
      size(col(rejectedCol)).cast("long").as("_nr"))
    def side(c: String, rl: String, ct: String) =
      pairs.select(col(idCol), posexplode(col(c)).as(Seq("i", "t")))
        .select(col(idCol), col("i"),
          col("t.role").as(rl), col("t.content").as(ct))
    val j = side(chosenCol, "_cr", "_cc")
      .join(side(rejectedCol, "_rr", "_rc"), Seq(idCol, "i"), "full_outer")
      .join(base.select(col(idCol), col("_nc")), Seq(idCol))
    val agg = j.groupBy(col(idCol)).agg(
      min(when(col("i") < col("_nc") - 1L,
        when(col("_cr") <=> col("_rr") && col("_cc") <=> col("_rc"), 1)
          .otherwise(0))).as("_pfx"),
      max(when(col("i") === col("_nc") - 1L &&
        col("_cr") === "assistant" && col("_rr") === "assistant", 1)
        .otherwise(0)).as("_ends"),
      max(when(col("i") === col("_nc") - 1L &&
        !(col("_cc") <=> col("_rc")), 1).otherwise(0)).as("_div"),
      sum(when(col("i") === col("_nc") - 1L,
        length(col("_cc")).cast("long"))).as("_ccs"),
      sum(when(col("i") === col("_nc") - 1L,
        length(col("_rc")).cast("long"))).as("_rcs"))
    base.join(agg, Seq(idCol), "left")
      // coalesce the count equality: size(NULL array) is NULL, and a
      // NULL flag would vanish from BOTH sides of a where(ok) /
      // where(!ok) corpus/quarantine split (the validate lesson) — a
      // NULL-sided pair must read as a plain failure
      .select(col(idCol),
        (coalesce(col("_nc") === col("_nr"), lit(false)) &&
          coalesce(col("_pfx"), lit(1)) === 1).as("prefix_ok"),
        (coalesce(col("_ends"), lit(0)) === 1).as("ends_ok"),
        (coalesce(col("_div"), lit(0)) === 1).as("divergent_ok"),
        coalesce(col("_ccs"), lit(0L)).as("chosen_chars"),
        coalesce(col("_rcs"), lit(0L)).as("rejected_chars"))
      .withColumn("ok",
        col("prefix_ok") && col("ends_ok") && col("divergent_ok"))
  }

  /** Length-bias (verbosity) audit over a validated preference set —
    * the first diagnostic run on any RLHF corpus: reward models
    * notoriously learn "longer is better" (Singhal et al. '23, "A Long
    * Way to Go: Investigating Length Correlations in RLHF"), and the
    * symptom is visible in the DATA as P(chosen is the longer side)
    * drifting above ½. Consumes [[preferencePairs]] output (pair_id,
    * chosen_chars, rejected_chars, ok) and reports, per magnitude band
    * of the length delta (band = number of binary digits of
    * |chosen_chars − rejected_chars| — the established ilog2 octave
    * device, so band k covers deltas in [2^(k−1), 2^k); band 0 =
    * exact-tie), how often the chosen side was the longer one:
    *
    *   band_win_ppm = 10⁶ · n_chosen_longer div (non-tie pairs in band)
    *   longer_win_ppm = the same ratio over ALL non-tie pairs — the
    *     corpus-level verdict, repeated on every row (the q182 ece_ppm
    *     window device) so each band reads against the global rate.
    *
    * Only `ok` pairs carry preference signal; pairs failing validation
    * aggregate into a NULL band row (counts only — the validate
    * lesson: malformed groups must surface, not vanish) and contribute
    * zero to both win numerators and denominators. All division
    * operands are non-negative, so Spark `div` == DuckDB `//`.
    *
    * Shape at scale: one map-side-combined aggregation over the pair
    * frame, then window arithmetic over the ≤ ~64-row band alphabet —
    * the output is bounded by the bit width of the delta, never by the
    * corpus. */
  def lengthBias(pairs: DataFrame): DataFrame = {
    val delta = col("chosen_chars") - col("rejected_chars")
    val banded = pairs.select(
      when(!col("ok"), lit(null).cast("long"))
        .when(delta === 0L, lit(0L))
        // length(bin(x)) = floor(log2 x)+1 for x >= 1: the bit width
        .otherwise(length(bin(abs(delta))).cast("long")).as("band"),
      (col("ok") && delta > 0L).as("_cl"),
      (col("ok") && delta < 0L).as("_rl"))
    val agg = banded.groupBy(col("band")).agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("_cl"), 1L).otherwise(0L)).as("n_chosen_longer"),
      sum(when(col("_rl"), 1L).otherwise(0L)).as("n_rejected_longer"))
    agg
      .withColumn("band_win_ppm", expr(
        """case when n_chosen_longer + n_rejected_longer > 0
          |  then (1000000 * n_chosen_longer)
          |    div (n_chosen_longer + n_rejected_longer) end""".stripMargin))
      .withColumn("longer_win_ppm", expr(
        """case when sum(n_chosen_longer + n_rejected_longer) over () > 0
          |  then (1000000 * sum(n_chosen_longer) over ())
          |    div sum(n_chosen_longer + n_rejected_longer) over () end"""
          .stripMargin))
  }

  /** Rejection-sampling / best-of-n data prep (the WebGPT/Llama-2
    * recipe: sample n candidate responses per prompt, keep the one the
    * reward model scores highest — the selected set becomes SFT data) —
    * the RLHF data-shaping op that completes the preference leg next to
    * [[preferencePairs]]: per prompt, the argmax-reward candidate with
    * DETERMINISTIC ties (highest reward, then lowest candidate id —
    * the q117 resolveDuplicates rule, so reruns and engines agree) and
    * the per-prompt audit every curated set should carry: how many
    * candidates arrived, how many carried a score. NULL-reward
    * candidates can't win but still count as candidates; a prompt
    * whose every candidate is unscored keeps its row with NULL winner
    * columns and `pick_ok` false (the validate lesson: malformed
    * groups must surface, not vanish).
    *
    * Shape at scale: two map-side-combined aggregations over one scan
    * (audit counts; argmax over the scored rows via min(struct(-r,
    * id)) — no per-prompt sort window), joined on the prompt key —
    * every post-scan frame is bounded by the prompt count. */
  def bestOfN(cands: DataFrame, promptCol: String = "prompt_id",
              candCol: String = "cand_id",
              rewardCol: String = "reward"): DataFrame = {
    val base = cands.select(col(promptCol), col(candCol),
      col(rewardCol).as("_rw"))
    val audit = base.groupBy(col(promptCol)).agg(
      count(lit(1)).as("n_candidates"),
      count(col("_rw")).as("n_scored"))
    // NULL rewards are filtered BEFORE the argmax: a NULL struct field
    // sorts first under min() and would wrongly beat every real score
    val win = base.where(col("_rw").isNotNull)
      .groupBy(col(promptCol))
      .agg(min(struct((-col("_rw")).as("ns"), col(candCol).as("id"))).as("m"))
      .select(col(promptCol), col("m.id").as(candCol),
        (-col("m.ns")).as(rewardCol))
    audit.join(win, Seq(promptCol), "left")
      .select(col(promptCol), col(candCol), col(rewardCol),
        col("n_candidates"), col("n_scored"),
        (col("n_scored") > 0L).as("pick_ok"))
  }

  /** Structural validation — the quarantine report: per transcript,
    * booleans for the four SFT-data contracts (openers may be system or
    * user; roles must alternate after an optional leading system turn;
    * no empty/NULL turn; the last turn is the assistant's — a
    * transcript cut mid-user-turn trains the model to stop asking).
    * `ok` is their conjunction; a transcript whose turns array is
    * EMPTY or NULL emits one all-false row (posexplode_outer, round-11
    * advice) — the most malformed inputs must reach the quarantine
    * report, not vanish from both sides of a corpus/quarantine split
    * ([[graft.streaming.StreamChat]]'s contract).
    *
    * NULL-role semantics are PINNED, not inherited (round-10 advice):
    * every per-turn flag is an explicit three-valued-logic-free boolean
    * (a NULL role fails opener/alternation/turn and is never the
    * assistant), because the unguarded forms diverge across engines —
    * Spark's `min(when(p,1).otherwise(0))` counts a NULL predicate as
    * a violation while SQL `bool_and` silently skips NULL inputs. The
    * oracle carries matching COALESCE guards, and the %19 planted
    * fixture class exercises the case both ways. */
  def validate(conv: DataFrame, idCol: String = "doc_id",
               turnsCol: String = "turns"): DataFrame = {
    val t = conv.select(col(idCol),
        posexplode_outer(col(turnsCol)).as(Seq("turn_idx", "t")))
      .select(col(idCol), col("turn_idx"),
        col("t.role").as("role"), col("t.content").as("content"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("turn_idx"))
    val wAll = Window.partitionBy(col(idCol))
      .orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rn = Window.partitionBy(col(idCol)).orderBy(col("turn_idx"))
    val flagged = t
      .withColumn("_prev_role", lag(col("role"), 1).over(w))
      .withColumn("_opener_ok",
        col("turn_idx") > 0 ||
          coalesce(col("role").isin("system", "user"), lit(false)))
      // alternation: consecutive equal roles are the violation; a
      // leading system turn followed by user is fine, but system
      // anywhere else is not; a NULL role is a violation outright
      .withColumn("_alt_ok",
        col("role").isNotNull &&
          (col("_prev_role").isNull ||
            (col("role") =!= col("_prev_role") && col("role") =!= "system")))
      .withColumn("_turn_ok",
        col("role").isNotNull && col("content").isNotNull &&
          length(col("content")) > 0)
    flagged
      .withColumn("opener_ok", min(when(col("_opener_ok"), 1).otherwise(0)).over(wAll) === 1)
      .withColumn("alternation_ok", min(when(col("_alt_ok"), 1).otherwise(0)).over(wAll) === 1)
      .withColumn("turns_ok", min(when(col("_turn_ok"), 1).otherwise(0)).over(wAll) === 1)
      // the closing turn by its INDEX, not `last(role)` — a NULL last
      // role must read as "not the assistant", never as NULL
      .withColumn("_last_idx", max(col("turn_idx")).over(wAll))
      .withColumn("ends_assistant",
        max(when(col("turn_idx") === col("_last_idx") &&
          col("role") === "assistant", 1).otherwise(0)).over(wAll) === 1)
      .withColumn("_rn", row_number().over(rn))
      .where(col("_rn") === 1)
      .select(col(idCol), col("opener_ok"), col("alternation_ok"),
        col("turns_ok"), col("ends_assistant"),
        (col("opener_ok") && col("alternation_ok") && col("turns_ok") &&
          col("ends_assistant")).as("ok"))
  }

  /** Reward-margin gate over SCORED preference pairs — the filter a
    * DPO/reward-model corpus runs after [[preferencePairs]]'s
    * structural contracts and before training (Llama 2 §3.2.2 trains
    * with an explicit margin term and bins pairs by rater confidence;
    * Zephyr/dDPO-style pipelines drop low-margin pairs outright): per
    * pair, the chosen-minus-rejected reward margin, the inverted flag
    * (`rejected` outscoring `chosen` means the label and the reward
    * model disagree — route to relabeling, not training), and the
    * keep verdict `margin >= minMargin` on NON-inverted pairs.
    *
    * Margins are exact integer reward units (rewards arrive as
    * fixed-point longs — the q185 convention); a pair missing either
    * score has NULL margin, `scored` false, and is NEVER kept (the
    * no-evidence rule) but always surfaces. One scan, zero shuffles:
    * the gate is a row-local projection, the 100 TB cost is the read. */
  def marginGate(pairs: DataFrame, minMargin: Long,
                 idCol: String = "pair_id",
                 chosenRewardCol: String = "chosen_reward",
                 rejectedRewardCol: String = "rejected_reward"): DataFrame = {
    val c = col(chosenRewardCol).cast("long")
    val r = col(rejectedRewardCol).cast("long")
    val scored = c.isNotNull && r.isNotNull
    pairs.select(col(idCol), c.as(chosenRewardCol), r.as(rejectedRewardCol),
      (c - r).as("margin"),
      scored.as("scored"),
      (scored && c < r).as("inverted"),
      (scored && c >= r && (c - r) >= minMargin).as("keep"))
  }

  /** Bradley–Terry strength estimation from pairwise preference
    * outcomes (Bradley & Terry 1952) via Hunter's MM algorithm
    * ("MM Algorithms for Generalized Bradley–Terry Models", Ann.
    * Statist. 2004, eq. 1.4): the analysis op a preference corpus
    * feeds once [[preferencePairs]] has gated it — which policies /
    * annotator-preferred models are actually stronger, estimated from
    * win/loss records alone. Reward models ARE Bradley–Terry fits
    * (the pairwise logistic loss), so this is the exact closed-form
    * diagnostic for "does the preference data itself rank the
    * candidates coherently".
    *
    * MM update, `iters` fixed rounds from a flat start:
    *   s_i' = (W_i + 1) / ( Σ_pairs(i,j) n_ij/(s_i + s_j)
    *                        + 2/(s_i + 1e6) )
    * then normalized to mean 1e6. The +1 win / +2-virtual-games prior
    * is the standard MAP regularization (a Gamma(2, ·) prior on s_i;
    * Caron & Doucet 2012 §2.2, equivalently one virtual win and one
    * virtual loss against a ghost opponent of fixed strength 1e6):
    * without it an item with zero recorded wins collapses to exactly
    * 0 and a disconnected comparison graph never mixes — with it the
    * iteration is well-defined on ANY game table. Deviation from the
    * paper, documented: the classical algorithm normalizes by the
    * geometric mean; the arithmetic mean is used here because it is
    * exact in integer ppm (a geometric mean needs an n-th root no
    * integer engine replays digit-for-digit).
    *
    * All arithmetic is exact fixed point: strengths are ppm longs,
    * every product routes through decimal(38,0) BEFORE the `div` (the
    * [[graft.ops.Quality.cohenKappa]] overflow discipline — n_ij·10^12
    * wraps int64 once a pair passes ~9M games), and every division has
    * positive operands so Spark's truncating `div` equals DuckDB's
    * flooring `//` — the oracle unrolls the same `iters` updates as
    * chained CTEs and matches by hash.
    *
    * Shape at scale: the game table aggregates ONCE into three frames
    * bounded by the item alphabet (wins per item, games per unordered
    * pair, the item list) — items are models/policies/annotators, a
    * frame of thousands at most, checkpointed so the corpus is scanned
    * exactly once. Each MM round is then two broadcast joins and one
    * map-side-combined aggregation over the PAIR frame (≤ items²
    * rows), checkpointed per round (the [[graft.ops.Curate]]
    * connected-components discipline) so the iterated plan never
    * nests. Corpus cost is independent of `iters`. */
  def bradleyTerry(games: DataFrame, winnerCol: String = "winner",
                   loserCol: String = "loser", iters: Int = 8,
                   maxCollectPairs: Long = 4000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = games.select(col(winnerCol).cast("long").as("w"),
      col(loserCol).cast("long").as("l"))
    val pairs = base
      .select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .transform(graft.plans.CheckpointAudit.local)
    val wins = base.groupBy(col("w").as("item")).agg(count(lit(1)).as("wins"))
    val items = base.select(col("w").as("item"))
      .union(base.select(col("l")))
      .groupBy(col("item")).agg(count(lit(1)).as("games"))
      .join(wins, Seq("item"), "left")
      .na.fill(0L, Seq("wins"))
      .transform(graft.plans.CheckpointAudit.local)
    // r19 guard (round-18 verdict): the driver collect below is bounded
    // by the PAIR census, which is ≤ items² but DATA-DEPENDENT — a
    // caller feeding document ids as items would OOM the driver where
    // the relational loop merely got slow. Counting the checkpointed
    // frame is one cheap job; past the cap the identical MM arithmetic
    // runs distributed (broadcast-join rounds over the same frames).
    if (pairs.count() > maxCollectPairs) btRelational(pairs, items, iters)
    else btDriver(pairs, items, iters)
  }

  /** Raised by both MM loops when every raw strength floors to 0 (it
    * needs ~1e12 games per item), or when the relational loop's decimal
    * sum overflows: strengths would otherwise be NULL. */
  private[graft] val btDegenerate =
    "bradleyTerry: every raw strength floored to 0 — game counts " +
      "exceed the ppm fixed-point range; rescale or shard the input"

  /** [[bradleyTerry]]'s MM loop over the collected pair and item frames. */
  private[graft] def btDriver(pairs: DataFrame, items: DataFrame,
                              iters: Int): DataFrame = {
    // r18: the corpus aggregates ONCE into the two checkpointed frames
    // of `bradleyTerry`, both bounded by the item alphabet (items;
    // pairs ≤ items²) — models/policies/annotators, thousands at most — so the MM
    // rounds themselves run on the driver over one bounded collect (the
    // logregTrain / IVF-centroid discipline) instead of 8 checkpointed
    // rounds of broadcast-join-aggregate (~2 jobs + 3 broadcasts each).
    // Driver arithmetic replays the relational form exactly: BigInt for
    // every decimal(38,0) product/sum (order-independent exact
    // addition), truncating `/` on positive operands == `div`.
    val pairRows = pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    val itemRows = items.select(col("item"), col("wins"), col("games"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nItems = itemRows.length.toLong
    val E12 = BigInt("1000000000000")
    val sMap = scala.collection.mutable.LinkedHashMap(
      itemRows.map(t => t._1 -> 1000000L): _*)
    for (_ <- 1 to iters) {
      val dsum = scala.collection.mutable.HashMap.empty[Long, BigInt]
      pairRows.foreach { case (a, b, n) =>
        val t = (BigInt(n) * E12) / BigInt(sMap(a) + sMap(b))
        dsum(a) = dsum.getOrElse(a, BigInt(0)) + t
        dsum(b) = dsum.getOrElse(b, BigInt(0)) + t
      }
      val raws = itemRows.map { case (item, wins, _) =>
        val denom = dsum.getOrElse(item, BigInt(0)) +
          (E12 * 2) / BigInt(sMap(item) + 1000000L)
        item -> (BigInt(wins + 1) * E12) / denom
      }
      val rsum = raws.map(_._2).sum
      // degenerate-input guard (r18 advice): fail loudly with a message
      // instead of surfacing a bare ArithmeticException from the
      // division below (the dupClusters fail-loudly posture).
      require(rsum > 0, btDegenerate)
      raws.foreach { case (item, raw) =>
        sMap(item) = ((raw * nItems * 1000000L) / rsum).toLong
      }
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    val strengths = itemRows.map { case (item, wins, g) =>
      (item, wins, g, sMap(item)) }.toSeq
      .toDF("item", "wins", "games", "strength_ppm")
    strengths
  }

  /** The distributed MM loop [[bradleyTerry]] falls back to past its
    * pair-collect cap — the pre-r18 relational form, arithmetic
    * IDENTICAL to the driver replay (decimal(38,0) products, truncating
    * div, same prior): two broadcast joins + one map-side-combined
    * aggregation per round over the pair frame, each round's strength
    * frame checkpointed so the iterated plan never nests. A zero or
    * NULL (overflowed) `_rsum` raises [[btDegenerate]], as the driver
    * loop's `require` does, instead of writing NULL strengths. */
  private[graft] def btRelational(pairs: DataFrame, items: DataFrame,
                                  iters: Int): DataFrame = {
    val nItems = items.count()
    var s = items.select(col("item"), lit(1000000L).as("s"))
    for (_ <- 1 to iters) {
      val sa = s.select(col("item").as("a"), col("s").as("_sa"))
      val sb = s.select(col("item").as("b"), col("s").as("_sb"))
      val terms = pairs
        .join(broadcast(sa), Seq("a")).join(broadcast(sb), Seq("b"))
        .withColumn("_t", expr(
          "(cast(n as decimal(38,0)) * 1000000000000) div (_sa + _sb)"))
        .select(explode(array(
          struct(col("a").as("item"), col("_t")),
          struct(col("b").as("item"), col("_t")))).as("e"))
        .select(col("e.item").as("item"), col("e._t").as("_t"))
        .groupBy(col("item"))
        .agg(sum(col("_t")).as("_dsum"))
      val raw = items.join(s, Seq("item"))
        .join(terms, Seq("item"), "left")
        .withColumn("_denom",
          coalesce(col("_dsum"), lit(0).cast("decimal(38,0)")) +
            expr("2000000000000 div (s + 1000000)"))
        .withColumn("_raw", expr(
          "(cast(wins + 1 as decimal(38,0)) * 1000000000000) div _denom"))
        .select(col("item"), col("_raw"))
      val tot = raw.agg(sum(col("_raw")).as("_rsum"))
      s = raw.crossJoin(broadcast(tot))
        .select(col("item"), when(col("_rsum") > 0, expr(
          s"cast((cast(_raw as decimal(38,0)) * $nItems * 1000000) div _rsum as bigint)"))
          .otherwise(raise_error(lit(btDegenerate))).as("s"))
        .transform(graft.plans.CheckpointAudit.local)
    }
    items.join(s, Seq("item"))
      .select(col("item"), col("wins"), col("games"),
        col("s").as("strength_ppm"))
  }

  /** Bradley–Terry goodness-of-fit report — the audit read next to
    * [[bradleyTerry]]'s strengths: per unordered item pair, the
    * EMPIRICAL win rate of the smaller-id item against the model's
    * FITTED probability `s_a/(s_a+s_b)` (the BT likelihood itself),
    * and their residual. Pairs whose residuals run large are where the
    * preference data is NOT coherently pairwise-rankable (cyclic
    * preferences, annotator populations with different tastes, or a
    * context-dependent winner) — exactly the pairs a preference-data
    * owner triages before trusting a scalar reward model.
    *
    * Exact ppm fixed point, products decimal(38,0)-routed, every
    * division's operands positive except the final residual SUBTRACTION
    * (division-free, so no floor/truncate divergence). Shape at scale:
    * one map-side-combined pair aggregation over the game table plus
    * two broadcast joins against the item-bounded strengths frame. */
  def btFitReport(games: DataFrame, strengths: DataFrame,
                  winnerCol: String = "winner", loserCol: String = "loser",
                  itemCol: String = "item",
                  strengthCol: String = "strength_ppm"): DataFrame = {
    val base = games.select(col(winnerCol).cast("long").as("w"),
      col(loserCol).cast("long").as("l"))
    val pw = base
      .groupBy(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"))
      .agg(count(lit(1)).as("n_games"),
        sum(when(col("w") < col("l"), 1L).otherwise(0L)).as("wins_a"))
    val sa = strengths.select(col(itemCol).as("a"), col(strengthCol).as("_sa"))
    val sb = strengths.select(col(itemCol).as("b"), col(strengthCol).as("_sb"))
    pw.join(broadcast(sa), Seq("a")).join(broadcast(sb), Seq("b"))
      .select(col("a"), col("b"), col("n_games"), col("wins_a"),
        expr("cast((1000000 * cast(wins_a as decimal(38,0))) div n_games as bigint)")
          .as("emp_a_ppm"),
        expr("cast((1000000 * cast(_sa as decimal(38,0))) div (_sa + _sb) as bigint)")
          .as("fit_a_ppm"))
      .withColumn("residual_ppm", col("emp_a_ppm") - col("fit_a_ppm"))
  }

  /** Pairwise win-rate matrix with Wilson score intervals — the
    * model-free companion to [[bradleyTerry]] (the leaderboard read
    * arena-style pairwise evaluations publish): per unordered item
    * pair, the empirical win rate of the smaller-id item and its
    * Wilson confidence bounds (Wilson 1927; the interval Brown, Cai &
    * DasGupta 2001 recommend over the normal approximation at small n
    * and extreme rates), plus the two one-sided significance verdicts
    * (`a_better` when the LOWER bound clears ½, `b_better` when the
    * UPPER bound stays below ½).
    *
    * Integer-exact deviation, documented: z is pinned to 2 (the ~95.4%
    * two-sided level) so z² = 4 keeps every term rational, and the one
    * irrational step — the square root — runs on an integer radicand
    * bounded by 1.25·10¹² < 2⁵²: at that magnitude a correctly-rounded
    * IEEE sqrt cannot round across an integer for a non-square
    * radicand (|rad − k²| ≥ 1 forces |√rad − k| > ulp), so
    * floor(sqrt(rad)) is the exact integer square root on BOTH engines.
    * With p̂ in ppm and H = √(p̂(10⁶−p̂)/n + 10¹²/n²) (the Wilson
    * half-width numerator in ppm, inner divisions floored identically
    * by both engines):
    *
    *   lb_ppm = max(n·p̂ + 2·10⁶ − 2n·H, 0) div (n + 4)
    *   ub_ppm = min((n·p̂ + 2·10⁶ + 2n·H) div (n + 4), 10⁶)
    *
    * The max() runs BEFORE the division so its operand is never
    * negative (floor == truncate); products route decimal(38,0).
    * Shape at scale: one map-side-combined pair aggregation, then
    * scan-side arithmetic over the items²-bounded pair frame. */
  def winRateWilson(games: DataFrame, winnerCol: String = "winner",
                    loserCol: String = "loser"): DataFrame = {
    val base = games.select(col(winnerCol).cast("long").as("w"),
      col(loserCol).cast("long").as("l"))
    base
      .groupBy(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"))
      .agg(count(lit(1)).as("n_games"),
        sum(when(col("w") < col("l"), 1L).otherwise(0L)).as("wins_a"))
      .withColumn("phat_ppm", expr("(1000000 * wins_a) div n_games"))
      .withColumn("_rad", expr(
        "(phat_ppm * (1000000 - phat_ppm)) div n_games + " +
          "1000000000000 div (cast(n_games as decimal(38,0)) * n_games)"))
      .withColumn("_root", floor(sqrt(col("_rad").cast("double"))).cast("long"))
      .withColumn("lb_ppm", expr(
        "cast(greatest(cast(n_games as decimal(38,0)) * phat_ppm + 2000000 " +
          "- 2 * cast(n_games as decimal(38,0)) * _root, 0) div (n_games + 4) as bigint)"))
      .withColumn("ub_ppm", expr(
        "least(cast((cast(n_games as decimal(38,0)) * phat_ppm + 2000000 " +
          "+ 2 * cast(n_games as decimal(38,0)) * _root) div (n_games + 4) as bigint), 1000000)"))
      .withColumn("a_better", col("lb_ppm") > 500000L)
      .withColumn("b_better", col("ub_ppm") < 500000L)
      .select(col("a"), col("b"), col("n_games"), col("wins_a"),
        col("phat_ppm"), col("lb_ppm"), col("ub_ppm"),
        col("a_better"), col("b_better"))
  }

  /** Unbiased pass@k estimator (Chen et al. '21, "Evaluating Large
    * Language Models Trained on Code", eq. 1 — the HumanEval metric):
    * over per-sample outcomes (problem, passed), per problem with n
    * samples and c passing,
    *
    *   pass@k = 1 − C(n−c, k) / C(n, k)
    *
    * — the probability at least one of k drawn samples passes, exactly
    * (the naive 1−(1−c/n)^k is biased; the paper's estimator is this
    * combinatorial form). Exact integer ppm: binomials build by the
    * stepwise product C(m,i) = C(m,i−1)·(m−i+1) div i — exact at every
    * step because each prefix IS a binomial coefficient, and a zero
    * factor (m < k) sticks at zero before any negative factor can
    * matter, giving pass@k = 1 when even one all-fail draw is
    * impossible. The WHOLE stepwise product runs in decimal(38,0), not
    * bigint: the intermediate acc·(m−i+1) equals C(m,i)·i, which wraps
    * int64 already inside the documented envelope (n = 10⁵, k = 4 hits
    * 1.7·10¹⁹) — in decimal the product is exact to ~10³² (the post-
    * division quotient bound: decimal division re-adjusts to scale 6,
    * leaving 32 integer digits) and reads NULL beyond instead of a
    * silently-wrapped wrong ppm. The per-step division is exact (each
    * prefix IS a binomial), so the decimal HALF_UP rounding never
    * fires. Problems with n < k read NULL — k-of-n can't be drawn, so
    * the estimator is undefined there, and surfacing NULL beats
    * silently clamping (the rankEval missing-query rule).
    *
    * Scale shape: ONE map-side-combined rollup to the problem alphabet;
    * the combinatorics are per-row column arithmetic on the bounded
    * result. */
  def passAtK(samples: DataFrame, k: Int,
              problemCol: String = "problem_id",
              passCol: String = "passed"): DataFrame = {
    require(k >= 1 && k <= 16, "k must be in [1, 16]")
    def choose(m: String): String =
      s"aggregate(sequence(1, $k), cast(1 as decimal(38,0)), " +
        s"(acc, i) -> cast((acc * cast($m - i + 1 as decimal(38,0))) / i " +
        s"as decimal(38,0)))"
    samples.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col(passCol), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("pass_at_k_ppm", when(col("n_samples") >= k,
        expr(s"cast(1000000 - (cast(1000000 as decimal(38,0)) * " +
          s"${choose("n_samples - n_correct")}) div ${choose("n_samples")} " +
          s"as bigint)")))
      .select(col(problemCol), col("n_samples"), col("n_correct"),
        col("pass_at_k_ppm"))
  }

  /** Majority-vote self-consistency (Wang et al. '22, "Self-Consistency
    * Improves Chain of Thought Reasoning" — the maj@k companion to
    * [[passAtK]]: instead of "any sample passes", the metric is "the
    * MODAL answer is right", the way reasoning benchmarks are actually
    * scored): per problem, the most frequent non-NULL answer with
    * DETERMINISTIC ties (highest count, then lexicographically smallest
    * answer — the min(struct(-count, answer)) argmax device), compared
    * against the problem's gold. NULL answers (the model abstained /
    * extraction failed) count as samples but never vote; a problem
    * whose every answer is NULL keeps its row with a NULL modal and
    * `maj_correct` false (no answer cannot be a right answer — the
    * coalesce is pinned, not incidental). `gold_ok` surfaces problems
    * whose gold column is inconsistent across samples (min ≠ max) —
    * scoring against a silently-picked gold is how eval bugs hide.
    * `maj_acc_ppm` repeats the corpus-level accuracy on every row (the
    * q182 ece_ppm window device).
    *
    * Shape at scale: two map-side-combined aggregations (per-answer
    * votes, then per-problem argmax) plus the per-problem base rollup —
    * every post-scan frame is bounded by the problem/answer alphabet;
    * the window runs over the problem-bounded result. */
  def majorityVote(samples: DataFrame, problemCol: String = "problem_id",
                   answerCol: String = "answer",
                   goldCol: String = "gold"): DataFrame = {
    val base = samples.groupBy(col(problemCol)).agg(
      count(lit(1)).as("n_samples"),
      max(col(goldCol)).as("_gold"),
      (min(col(goldCol)) <=> max(col(goldCol))).as("gold_ok"))
    val votes = samples.where(col(answerCol).isNotNull)
      .groupBy(col(problemCol), col(answerCol).as("_a"))
      .agg(count(lit(1)).as("_c"))
    val modal = votes.groupBy(col(problemCol)).agg(
      count(lit(1)).as("n_distinct_answers"),
      min(struct((-col("_c")).as("nc"), col("_a").as("a"))).as("_m"))
    base.join(modal, Seq(problemCol), "left")
      .select(col(problemCol), col("n_samples"), col("gold_ok"),
        coalesce(col("n_distinct_answers"), lit(0L)).as("n_distinct_answers"),
        col("_m.a").as("modal_answer"),
        coalesce(-col("_m.nc"), lit(0L)).as("modal_count"),
        coalesce(col("_m.a") === col("_gold"), lit(false)).as("maj_correct"))
      .withColumn("maj_acc_ppm", expr(
        """(1000000 * sum(case when maj_correct then 1 else 0 end) over ())
          |  div count(1) over ()""".stripMargin))
  }

  /** Distinct-n generation diversity (Li et al. '16, "A Diversity-
    * Promoting Objective Function for Neural Conversation Models" —
    * the standard mode-collapse read on sampled generations): per
    * prompt, over its candidate responses,
    *
    *   distinct-n = |unique n-grams| / |total n-grams|   (n = 1, 2)
    *
    * in exact ppm. Unigrams pool across ALL candidates of the prompt
    * (cross-candidate repetition is exactly what collapse looks like);
    * bigrams form WITHIN each candidate only (a candidate boundary is
    * not a fluent transition). A prompt whose candidates are all empty
    * or NULL keeps its row with zero totals and NULL ratios — the
    * malformed-groups-surface rule — and `cand_id` must be unique
    * within its prompt (it keys the bigram window).
    *
    * Shape at scale: tokens via one posexplode (no per-element lambda
    * indexing — an indexed `transform` would capture the tokenizer
    * expression per element, the PlanGuard lambda-cost class); bigrams
    * via ONE candidate-partitioned window lead (the [[TextAnalysis
    * .cooccurrence]] device); then a (prompt, n, gram) rollup that
    * dedups map-side before the per-prompt fold. Nothing driver-side;
    * output is one row per prompt. */
  def distinctNgrams(cands: DataFrame, promptCol: String = "prompt_id",
                     candCol: String = "cand_id",
                     textCol: String = "text"): DataFrame = {
    val base = cands.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_cands"))
    val tok = cands.select(col(promptCol), col(candCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "g")))
    val w = Window.partitionBy(col(promptCol), col(candCol))
      .orderBy(col("pos"))
    // ONE windowed pass emits both gram orders (a union of a plain and
    // a windowed read would tokenize the corpus twice); the bigram
    // struct is NULL-keyed at each candidate's last token and filtered
    val perGram = tok
      .withColumn("_nx", lead(col("g"), 1).over(w))
      .select(col(promptCol), explode(array(
        struct(col("g").as("g"), lit(1L).as("n")),
        struct(concat(col("g"), lit(" "), col("_nx")).as("g"),
          lit(2L).as("n")))).as("p"))
      .select(col(promptCol), col("p.g").as("g"), col("p.n").as("n"))
      .where(col("g").isNotNull)
      .groupBy(col(promptCol), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
    val wide = perGram.groupBy(col(promptCol)).agg(
      coalesce(sum(when(col("n") === 1L, col("c"))), lit(0L)).as("_t1"),
      sum(when(col("n") === 1L, 1L).otherwise(0L)).as("_d1"),
      coalesce(sum(when(col("n") === 2L, col("c"))), lit(0L)).as("_t2"),
      sum(when(col("n") === 2L, 1L).otherwise(0L)).as("_d2"))
    base.join(wide, Seq(promptCol), "left")
      .select(col(promptCol), col("n_cands"),
        coalesce(col("_t1"), lit(0L)).as("total_1"),
        coalesce(col("_d1"), lit(0L)).as("distinct_1"),
        coalesce(col("_t2"), lit(0L)).as("total_2"),
        coalesce(col("_d2"), lit(0L)).as("distinct_2"))
      .withColumn("d1_ppm",
        expr("case when total_1 > 0 then (1000000 * distinct_1) div total_1 end"))
      .withColumn("d2_ppm",
        expr("case when total_2 > 0 then (1000000 * distinct_2) div total_2 end"))
  }
}
