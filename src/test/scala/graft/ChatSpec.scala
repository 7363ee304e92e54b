package graft

import org.apache.spark.sql.functions._
import graft.ops.Chat

/** SFT chat preparation: rendered template pinned by hand, the
  * span-slice invariant (rendered.substring(start, end) == content for
  * every turn), validation flags flipped one violation at a time, and
  * the NULL-turn drop rule. */
class ChatSpec extends SparkTestBase {
  import spark.implicits._

  private def conv(id: Long, turns: (String, String)*) =
    (id, turns.map { case (r, c) => (r, c) })

  private def toDf(rows: Seq[(Long, Seq[(String, String)])]) =
    rows.toDF("doc_id", "_t")
      .select(col("doc_id"), expr(
        "transform(_t, x -> struct(x._1 as role, x._2 as content))").as("turns"))

  test("flatten: template pinned by hand; assistant chars counted") {
    val df = toDf(Seq(conv(1L, ("user", "hi there"), ("assistant", "hello"))))
    val r = Chat.flatten(df).head()
    val expect = "<|user|>\nhi there\n<|end|>\n<|assistant|>\nhello\n<|end|>\n"
    assert(r.getAs[String]("rendered") == expect)
    assert(r.getAs[Long]("n_turns") == 2L)
    assert(r.getAs[Long]("n_assistant") == 1L)
    assert(r.getAs[Long]("rendered_len") == expect.length.toLong)
    assert(r.getAs[Long]("assistant_chars") == 5L)
  }

  test("span-slice invariant: rendered.substring(start, end) == content, every turn") {
    // multi-doc, multi-turn, empty contents and a system opener included
    val df = toDf(Seq(
      conv(1L, ("system", "be brief"), ("user", "q"), ("assistant", "a1 a2")),
      conv(2L, ("user", ""), ("assistant", "x"), ("user", "yy"), ("assistant", "")),
      conv(3L, ("user", "solo"))))
    val rendered = Chat.flatten(df).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("rendered")).toMap
    val spans = Chat.maskSpans(df).collect()
    assert(spans.length == 8)
    // reconstruct each turn's content by slicing the rendered text
    val orig = Map(
      (1L, 0L) -> "be brief", (1L, 1L) -> "q", (1L, 2L) -> "a1 a2",
      (2L, 0L) -> "", (2L, 1L) -> "x", (2L, 2L) -> "yy", (2L, 3L) -> "",
      (3L, 0L) -> "solo")
    spans.foreach { r =>
      val (id, idx) = (r.getLong(0), r.getLong(1))
      val (s, e) = (r.getLong(3).toInt, r.getLong(4).toInt)
      assert(rendered(id).substring(s, e) == orig((id, idx)),
        s"doc $id turn $idx: [$s,$e) sliced '${rendered(id).substring(s, e)}'")
    }
    // assistant rows are the loss mask
    assert(spans.count(_.getString(2) == "assistant") == 3)
  }

  test("bestOfN: argmax per prompt, lowest-id ties, NULL scores audited not picked") {
    val cands = Seq(
      // p1: plain argmax
      (1L, 10L, Some(30L)), (1L, 11L, Some(70L)), (1L, 12L, Some(50L)),
      // p2: two-way tie at 40 -> lowest cand_id 20 wins
      (2L, 21L, Some(40L)), (2L, 20L, Some(40L)), (2L, 22L, Some(10L)),
      // p3: NULL reward can't win even though another is lower
      (3L, 30L, None), (3L, 31L, Some(5L)),
      // p4: every candidate unscored -> row survives, pick_ok false
      (4L, 40L, None), (4L, 41L, None))
      .toDF("prompt_id", "cand_id", "reward")
    val got = Chat.bestOfN(cands).collect().map(r => r.getLong(0) ->
      ((Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((Some(11L), Some(70L), 3L, 3L, true)))
    assert(got(2L) == ((Some(20L), Some(40L), 3L, 3L, true)))
    assert(got(3L) == ((Some(31L), Some(5L), 2L, 1L, true)))
    assert(got(4L) == ((None, None, 2L, 0L, false)))
  }

  test("validate: each contract violation flips exactly its flag") {
    val df = toDf(Seq(
      conv(1L, ("user", "q"), ("assistant", "a")),                    // clean
      conv(2L, ("assistant", "a"), ("user", "q"), ("assistant", "a")), // bad opener
      conv(3L, ("user", "q"), ("user", "q2"), ("assistant", "a")),     // no alternation
      conv(4L, ("user", "q"), ("assistant", "")),                      // empty turn
      conv(5L, ("user", "q"), ("assistant", "a"), ("user", "q2")),     // ends user
      conv(6L, ("user", "q"), ("system", "sys"), ("assistant", "a")))) // system mid-stream
    val got = Chat.validate(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got(1L) == ((true, true, true, true, true)))
    assert(got(2L) == ((false, true, true, true, false)))
    assert(got(3L) == ((true, false, true, true, false)))
    assert(got(4L) == ((true, true, false, true, false)))
    assert(got(5L) == ((true, true, true, false, false)))
    assert(got(6L) == ((true, false, true, true, false)), "mid-stream system breaks alternation")
  }

  test("packSpans: fragments slice the packed stream back to the original contents") {
    // seqLen 20 with multi-turn transcripts forces spans to straddle
    // block boundaries; the invariant: concatenating each span's
    // fragment slices of the packed stream reproduces the turn content
    val df = toDf(Seq(
      conv(1L, ("user", "alpha beta gamma"), ("assistant", "delta epsilon zeta eta")),
      conv(2L, ("user", "one"), ("assistant", "two three four five six seven")),
      conv(3L, ("system", "s"), ("user", "u"), ("assistant", "final answer text"))))
    val L = 20
    val stream = Chat.flatten(df).collect()
      .sortBy(_.getLong(0)).map(_.getAs[String]("rendered")).mkString
    val frags = Chat.packSpans(df, seqLen = L.toLong).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    // per (doc, turn): fragments in seq order concatenate to the content
    val byTurn = frags.groupBy(f => (f._2, f._3))
    val orig = Map((1L, 0L) -> "alpha beta gamma",
      (1L, 1L) -> "delta epsilon zeta eta",
      (2L, 0L) -> "one", (2L, 1L) -> "two three four five six seven",
      (3L, 0L) -> "s", (3L, 1L) -> "u", (3L, 2L) -> "final answer text")
    for (((id, ti), fs) <- byTurn) {
      val got = fs.sortBy(_._1).map { case (k, _, _, _, s, e) =>
        stream.substring((k * L + s).toInt, (k * L + e).toInt)
      }.mkString
      assert(got == orig((id, ti)), s"doc $id turn $ti: '$got'")
      // fragment coordinates stay inside their block
      fs.foreach { case (_, _, _, _, s, e) =>
        assert(s >= 0 && e <= L && s < e) }
    }
    assert(byTurn.keySet == orig.keySet)
    // at least one span genuinely split (multi-fragment)
    assert(byTurn.values.exists(_.length > 1), "fixture must exercise a boundary split")
  }

  test("packSpansTokens: fragments slice the packed TOKEN stream back to the content tokens") {
    // the token-space twin of the packSpans invariant: tokenize every
    // rendered transcript with the q34 pre-token regex, concatenate in
    // doc order, chunk into 7-token blocks — each span's fragment
    // slices must reproduce exactly its content's token sequence
    val tok = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    val df = toDf(Seq(
      conv(1L, ("user", "alpha beta gamma"), ("assistant", "delta epsilon zeta eta")),
      conv(2L, ("user", "one"), ("assistant", "two, three; four 42 five")),
      conv(3L, ("system", "s"), ("user", "u"), ("assistant", "final answer text"))))
    val L = 7
    val stream = Chat.flatten(df).collect()
      .sortBy(_.getLong(0)).map(_.getAs[String]("rendered")).mkString
    val toks = tok.findAllIn(stream).toVector
    val frags = Chat.packSpansTokens(df, seqLen = L.toLong).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    val byTurn = frags.groupBy(f => (f._2, f._3))
    val orig = Map((1L, 0L) -> "alpha beta gamma",
      (1L, 1L) -> "delta epsilon zeta eta",
      (2L, 0L) -> "one", (2L, 1L) -> "two, three; four 42 five",
      (3L, 0L) -> "s", (3L, 1L) -> "u", (3L, 2L) -> "final answer text")
    for (((id, ti), fs) <- byTurn) {
      val got = fs.sortBy(_._1).flatMap { case (k, _, _, _, s, e) =>
        toks.slice((k * L + s).toInt, (k * L + e).toInt)
      }.toVector
      assert(got == tok.findAllIn(orig((id, ti))).toVector,
        s"doc $id turn $ti: $got")
      fs.foreach { case (_, _, _, _, s, e) =>
        assert(s >= 0 && e <= L && s < e) }
    }
    assert(byTurn.keySet == orig.keySet)
    assert(byTurn.values.exists(_.length > 1), "fixture must exercise a boundary split")
    // token streams concatenate exactly: global stream tokenization ==
    // per-segment tokenization (the '\n'-junction argument)
    val perDoc = Chat.flatten(df).collect().sortBy(_.getLong(0))
      .map(r => tok.findAllIn(r.getAs[String]("rendered")).length).sum
    assert(perDoc == toks.length)
  }

  test("packSpansSubword: fragments slice the packed SUBWORD stream under TRAINED merges") {
    // the end-to-end composition the token-space path exists for: a
    // real trained BPE table as the packing measure — tokenize every
    // rendered transcript word-by-word with encodeWord, concatenate in
    // doc order, chunk into 9-subword blocks; each span's fragments
    // must slice out exactly its content's subword sequence
    val tok = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    val trainDocs = Seq(
      (1L, "the thermal threads weather the weathering theme"),
      (2L, "answer the anthem and then another thesis"),
      (3L, "final theory texts anchor the gathering")).toDF("doc_id", "text")
    val merges = graft.ops.Bpe.trainMerges(trainDocs, nMerges = 24, sampleDocs = 8)
    assert(merges.nonEmpty)
    val rank = merges.zipWithIndex.toMap
    def subtok(s: String): Vector[String] = tok.findAllIn(s).toVector
      .flatMap(w => graft.ops.Bpe.encodeWord(w, rank))
    val df = toDf(Seq(
      conv(1L, ("user", "the anthem"), ("assistant", "another thermal theme weather")),
      conv(2L, ("user", "then"), ("assistant", "gathering texts, the thesis; 42")),
      conv(3L, ("system", "s"), ("user", "u"), ("assistant", "final answer theory"))))
    val L = 9
    val stream = Chat.flatten(df).collect()
      .sortBy(_.getLong(0)).map(_.getAs[String]("rendered")).mkString
    val toks = subtok(stream)
    val frags = Chat.packSpansSubword(df, seqLen = L.toLong, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    val byTurn = frags.groupBy(f => (f._2, f._3))
    val orig = Map((1L, 0L) -> "the anthem",
      (1L, 1L) -> "another thermal theme weather",
      (2L, 0L) -> "then", (2L, 1L) -> "gathering texts, the thesis; 42",
      (3L, 0L) -> "s", (3L, 1L) -> "u", (3L, 2L) -> "final answer theory")
    for (((id, ti), fs) <- byTurn) {
      val got = fs.sortBy(_._1).flatMap { case (k, _, _, _, s, e) =>
        toks.slice((k * L + s).toInt, (k * L + e).toInt)
      }.toVector
      assert(got == subtok(orig((id, ti))), s"doc $id turn $ti: $got")
      fs.foreach { case (_, _, _, _, s, e) =>
        assert(s >= 0 && e <= L && s < e) }
    }
    assert(byTurn.keySet == orig.keySet)
    assert(byTurn.values.exists(_.length > 1), "fixture must exercise a boundary split")
    // the additivity the measure must preserve: subword counts add
    // across segments and documents (merges never cross '\n')
    val perDoc = Chat.flatten(df).collect().sortBy(_.getLong(0))
      .map(r => subtok(r.getAs[String]("rendered")).length).sum
    assert(perDoc == toks.length)
    // the trained table actually merges something (a no-op table would
    // make this test the q173 twin, not the subword one)
    assert(subtok("the thermal weather").length <
      tok.findAllIn("the thermal weather").flatMap(_.map(_.toString)).length)
  }

  test("NULL role/content turns drop from flatten and maskSpans, flagged by validate") {
    val df = Seq((1L, Seq(("user", "q"), (null, "x"), ("assistant", null), ("assistant", "a"))))
      .toDF("doc_id", "_t")
      .select(col("doc_id"), expr(
        "transform(_t, x -> struct(x._1 as role, x._2 as content))").as("turns"))
    val flat = Chat.flatten(df).head()
    assert(flat.getAs[Long]("n_turns") == 2L) // the two NULL turns dropped
    assert(Chat.maskSpans(df).count() == 2L)
    val v = Chat.validate(df).head()
    assert(!v.getAs[Boolean]("turns_ok") && !v.getAs[Boolean]("ok"))
  }

  test("preferencePairs: each contract flips exactly its flag; edge shapes covered") {
    def pair(id: Long, c: Seq[(String, String)], r: Seq[(String, String)]) = (id, c, r)
    val rows = Seq(
      pair(1L, Seq("user" -> "q", "assistant" -> "long answer"),
        Seq("user" -> "q", "assistant" -> "short")),            // clean
      pair(2L, Seq("user" -> "q", "assistant" -> "a"),
        Seq("user" -> "DIFFERENT", "assistant" -> "b")),        // prefix diverges
      pair(3L, Seq("user" -> "q", "assistant" -> "a"),
        Seq("user" -> "q", "assistant" -> "a")),                // tie
      pair(4L, Seq("user" -> "q", "assistant" -> "a"),
        Seq("user" -> "q", "user" -> "b")),                     // rejected not assistant-final
      pair(5L, Seq("user" -> "q", "assistant" -> "a"),
        Seq("user" -> "q")),                                    // turn-count mismatch
      pair(6L, Seq.empty[(String, String)], Seq.empty[(String, String)])) // empty pair
    val df = rows.toDF("pair_id", "_c", "_r").select(col("pair_id"),
      expr("transform(_c, x -> struct(x._1 as role, x._2 as content))").as("chosen"),
      expr("transform(_r, x -> struct(x._1 as role, x._2 as content))").as("rejected"))
    val out = Chat.preferencePairs(df).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(out(1L) == ((true, true, true, 11L, 5L, true)))
    assert(out(2L) == ((false, true, true, 1L, 1L, false)))
    assert(out(3L) == ((true, true, false, 1L, 1L, false)))
    assert(out(4L)._1 && !out(4L)._2 && !out(4L)._6)
    assert(!out(5L)._1 && !out(5L)._6) // count mismatch fails prefix
    assert(out(6L) == ((true, false, false, 0L, 0L, false))) // empty: nothing to prefer
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "no pair may vanish")
  }

  test("lengthBias: octave bands, both delta signs, ties, non-ok surfaced") {
    val pairs = Seq(
      (1L, 10L, 9L, true),    // delta +1  -> band 1
      (2L, 12L, 9L, true),    // delta +3  -> band 2
      (3L, 9L, 11L, true),    // delta -2  -> band 2 (rejected longer)
      (4L, 20L, 15L, true),   // delta +5  -> band 3
      (5L, 10L, 10L, true),   // tie       -> band 0
      (6L, 100L, 1L, false))  // non-ok    -> NULL band, zero win counts
      .toDF("pair_id", "chosen_chars", "rejected_chars", "ok")
    val got = Chat.lengthBias(pairs).collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5)))).toMap
    // global: 3 chosen-longer of 4 non-ties = 750000 ppm on every row
    assert(got == Map(
      0L -> ((1L, 0L, 0L, -1L, 750000L)),
      1L -> ((1L, 1L, 0L, 1000000L, 750000L)),
      2L -> ((2L, 1L, 1L, 500000L, 750000L)),
      3L -> ((1L, 1L, 0L, 1000000L, 750000L)),
      -1L -> ((1L, 0L, 0L, -1L, 750000L))))
  }

  test("lengthBias: all-tie corpus reads NULL global; empty input stays empty") {
    val ties = Seq((1L, 5L, 5L, true), (2L, 0L, 0L, true))
      .toDF("pair_id", "chosen_chars", "rejected_chars", "ok")
    val r = Chat.lengthBias(ties).collect()
    assert(r.length == 1 && r(0).getLong(0) == 0L && r(0).getLong(1) == 2L)
    assert(r(0).isNullAt(4) && r(0).isNullAt(5),
      "no non-tie pair: both ppm columns must read NULL, not 0")
    val empty = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("pair_id", "chosen_chars", "rejected_chars", "ok")
    assert(Chat.lengthBias(empty).count() == 0L)
  }

  test("majorityVote: modal ties break lexicographic, NULLs never vote, gold drift surfaces") {
    val samples = Seq(
      (1L, Some("a"), "a"), (1L, Some("a"), "a"), (1L, Some("b"), "a"),
      (2L, Some("a"), "b"), (2L, Some("b"), "b"),       // 1-1 tie -> 'a' wins
      (3L, None, "x"), (3L, None, "x"),                 // all abstain
      (4L, Some("z"), "y"), (4L, Some("z"), "z"))       // inconsistent gold
      .map { case (p, a, g) => (p, a.orNull, g) }
      .toDF("problem_id", "answer", "gold")
    val got = Chat.majorityVote(samples).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3),
        Option(r.getString(4)), r.getLong(5), r.getBoolean(6),
        r.getLong(7)))).toMap
    // corpus accuracy: p1 and p4 correct of 4 -> 500000 ppm everywhere
    assert(got(1L) == ((3L, true, 2L, Some("a"), 2L, true, 500000L)))
    assert(got(2L) == ((2L, true, 2L, Some("a"), 1L, false, 500000L)),
      "a count tie must pick the lexicographically smallest answer")
    assert(got(3L) == ((2L, true, 0L, None, 0L, false, 500000L)),
      "an all-abstain problem keeps its row and cannot be correct")
    assert(got(4L)._2 == false, "gold drift across samples must surface")
    assert(got(4L)._6 == true, "modal compares against max(gold), pinned")
  }

  test("distinctNgrams: pooled unigrams, per-candidate bigrams, empty prompts survive") {
    val cands = Seq(
      (1L, 10L, "a b a"),                    // bigrams: "a b", "b a"
      (1L, 11L, "a b"),                      // bigram: "a b" (repeat)
      (2L, 20L, null.asInstanceOf[String]),  // counts as candidate, no grams
      (2L, 21L, ""),
      (3L, 30L, "x"),                        // single tokens: NO cross-candidate
      (3L, 31L, "y"))                        //   bigram may form
      .toDF("prompt_id", "cand_id", "text")
    val got = Chat.distinctNgrams(cands).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))).toMap
    // prompt 1: 5 unigrams / 2 distinct; 3 bigrams / 2 distinct
    assert(got(1L) == ((2L, 5L, 2L, 3L, 2L, Some(400000L), Some(666666L))))
    assert(got(2L) == ((2L, 0L, 0L, 0L, 0L, None, None)))
    assert(got(3L) == ((2L, 2L, 2L, 0L, 0L, Some(1000000L), None)),
      "a candidate boundary must not form a bigram")
  }

  test("transcript dedup: rendered-hash identity includes role markup") {
    val df = toDf(Seq(
      conv(1L, ("user", "x"), ("assistant", "y")),
      conv(2L, ("user", "x"), ("assistant", "y")),   // exact duplicate of 1
      conv(3L, ("assistant", "x"), ("user", "y")))) // same strings, roles swapped
    val got = graft.ops.Dedup.exact(
      Chat.flatten(df).select(col("doc_id"), col("rendered").as("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 1L),
      "role swap must not collide; duplicate collapses to the smallest id")
  }

  test("marginGate: margin classes — kept, low-margin, tie, inverted, unscored") {
    val pairs = Seq(
      (1L, Some(5000L), Some(1000L)),  // margin 4000 >= 2000: keep
      (2L, Some(3000L), Some(2000L)),  // margin 1000 < 2000: drop, not inverted
      (3L, Some(2000L), Some(2000L)),  // tie: drop, not inverted
      (4L, Some(1000L), Some(9000L)),  // inverted: reward model disagrees
      (5L, None, Some(7000L)),         // unscored: NULL margin, surfaces
      (6L, Some(7000L), None))
      .toDF("pair_id", "chosen_reward", "rejected_reward")
    val got = Chat.marginGate(pairs, minMargin = 2000L).collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "every pair surfaces")
    assert(got(1L) == ((Some(4000L), true, false, true)))
    assert(got(2L) == ((Some(1000L), true, false, false)))
    assert(got(3L) == ((Some(0L), true, false, false)))
    assert(got(4L) == ((Some(-8000L), true, true, false)))
    assert(got(5L) == ((None, false, false, false)))
    assert(got(6L) == ((None, false, false, false)))
  }

  /** Driver-side replay of the exact fixed-point MM update
    * [[Chat.bradleyTerry]] runs — BigInt so the reference itself
    * cannot overflow. */
  private def btRef(games: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val items = (games.map(_._1) ++ games.map(_._2)).distinct.sorted
    val wins = games.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val pairN = games
      .groupBy(g => (math.min(g._1, g._2), math.max(g._1, g._2)))
      .map { case (k, v) => k -> v.size.toLong }
    val T = BigInt("1000000000000")
    var s = items.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val raw = items.map { i =>
        val dsum = pairN.collect { case ((a, b), n) if a == i || b == i =>
          (BigInt(n) * T) / BigInt(s(i) + s(if (a == i) b else a))
        }.sum
        val denom = dsum + BigInt(2000000000000L / (s(i) + 1000000L))
        i -> (BigInt(wins.getOrElse(i, 0L) + 1) * T) / denom
      }.toMap
      val rsum = raw.values.sum
      s = items.map(i =>
        i -> ((raw(i) * items.size * 1000000) / rsum).toLong).toMap
    }
    s
  }

  test("btFitReport: empirical vs fitted arithmetic, smaller-id orientation") {
    val games = (Seq.fill(3)((1L, 2L)) ++ Seq((2L, 1L)) ++ Seq((2L, 3L)))
      .toDF("winner", "loser")
    val strengths = Seq((1L, 3000000L), (2L, 1000000L), (3L, 1000000L))
      .toDF("item", "strength_ppm")
    val got = graft.ops.Chat.btFitReport(games, strengths).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // (1,2): 4 games, a wins 3 -> emp 750000; fit 3e6/(3e6+1e6) = 750000
    assert(got((1L, 2L)) == ((4L, 3L, 750000L, 750000L, 0L)))
    // (2,3): 1 game, a (=2) wins -> emp 1e6; fit 500000; residual +5e5
    assert(got((2L, 3L)) == ((1L, 1L, 1000000L, 500000L, 500000L)))
    assert(got.keySet == Set((1L, 2L), (2L, 3L)))
  }

  test("bradleyTerry: matches the BigInt MM reference, ranks dominance, prior keeps zero-win items alive") {
    // 1 dominates 2, 2 dominates 3; 4 never wins (plays 1 twice)
    val games: Seq[(Long, Long)] =
      Seq.fill(4)((1L, 2L)) ++ Seq((2L, 1L)) ++
        Seq.fill(3)((2L, 3L)) ++ Seq((3L, 2L)) ++
        Seq.fill(2)((1L, 3L)) ++ Seq.fill(2)((1L, 4L))
    val df = games.toDF("winner", "loser")
    val got = Chat.bradleyTerry(df, iters = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = btRef(games, 8)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    got.foreach { case (i, (_, _, s)) =>
      assert(s == want(i), s"item $i: got strength $s, reference ${want(i)}")
    }
    assert(got(1L)._1 == 8L && got(1L)._2 == 9L)   // wins, games
    assert(got(4L)._1 == 0L && got(4L)._2 == 2L)
    assert(got(1L)._3 > got(2L)._3 && got(2L)._3 > got(3L)._3,
      "dominance order must survive the fit")
    assert(got(4L)._3 > 0L, "the MAP prior keeps zero-win items positive")
    // repartition invariance: the fit is a pure function of the game set
    val reGot = Chat.bradleyTerry(df.repartition(7), iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(reGot == got.map { case (k, v) => k -> v._3 })
  }

  test("bradleyTerry: past the pair-collect cap the distributed MM fallback fits identically") {
    val games: Seq[(Long, Long)] =
      Seq.fill(4)((1L, 2L)) ++ Seq((2L, 1L)) ++
        Seq.fill(3)((2L, 3L)) ++ Seq((3L, 2L)) ++
        Seq.fill(2)((1L, 3L)) ++ Seq.fill(2)((1L, 4L))
    val df = games.toDF("winner", "loser")
    // 4 distinct unordered pairs > cap 1: the guard must route to the
    // relational loop, whose fixed-point arithmetic is pinned to the
    // same BigInt reference the driver path replays
    val got = Chat.bradleyTerry(df, iters = 8, maxCollectPairs = 1L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = btRef(games, 8)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    got.foreach { case (i, (_, _, s)) =>
      assert(s == want(i), s"item $i: fallback strength $s vs reference ${want(i)}")
    }
    val direct = Chat.bradleyTerry(df, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(direct == got.map { case (k, v) => k -> v._3 },
      "driver and distributed MM paths must agree exactly")
  }

  test("bradleyTerry: a degenerate pair census fails loudly on the driver and the distributed path") {
    // 1e13 games between two items that (inconsistently) won none: every
    // raw strength floors to 0 in the first round, so the normalizing sum
    // is 0 — the distributed loop used to read NULL strengths here
    val n = 10000000000000L
    val pairs = Seq((1L, 2L, n)).toDF("a", "b", "n")
    val items = Seq((1L, 0L, n), (2L, 0L, n)).toDF("item", "wins", "games")
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    val onDriver = intercept[IllegalArgumentException](Chat.btDriver(pairs, items, 8))
    assert(onDriver.getMessage.contains(Chat.btDegenerate), onDriver.getMessage)
    val distributed = intercept[Exception](Chat.btRelational(pairs, items, 8).collect())
    assert(messages(distributed).exists(_.contains(Chat.btDegenerate)),
      messages(distributed).mkString(" <- "))
  }

  test("passAtK: hand-computed estimator, boundary cases, n<k reads NULL") {
    // p1: n=4, c=1, k=2 -> 1 - C(3,2)/C(4,2) = 1 - 3/6 = 0.5
    // p2: n=3, c=0      -> 0 (no sample passes, any draw fails)
    // p3: n=2, c=2      -> 1 (every draw contains a pass)
    // p4: n=1 < k       -> NULL (k-of-n undrawable)
    val samples = Seq(
      (1L, true), (1L, false), (1L, false), (1L, false),
      (2L, false), (2L, false), (2L, false),
      (3L, true), (3L, true),
      (4L, true)).toDF("problem_id", "passed")
    val got = Chat.passAtK(samples, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got(1L) == ((4L, 1L, Some(500000L))))
    assert(got(2L) == ((3L, 0L, Some(0L))))
    assert(got(3L) == ((2L, 2L, Some(1000000L))))
    assert(got(4L) == ((1L, 1L, None)))
    // the unbiased estimator beats the naive 1-(1-c/n)^k: for p1 the
    // naive reads 1 - (3/4)^2 = 0.4375 < 0.5 — the documented bias
    assert(got(1L)._3.get > 437500L)
  }

  test("passAtK: envelope cases whose intermediates wrap int64 stay exact") {
    // C(m,i)·i exceeds 2^63 mid-product for all three; the decimal
    // stepwise product must still read the exact combinatorial ppm
    // (python: 10**6 - (10**6 * comb(n-c,k)) // comb(n,k))
    def run(n: Int, c: Int, k: Int): Long = {
      val samples = spark.range(n.toLong)
        .selectExpr("1L as problem_id", s"id < $c as passed")
      val r = Chat.passAtK(samples, k = k).collect().head
      assert(r.getLong(1) == n.toLong && r.getLong(2) == c.toLong)
      r.getLong(3)
    }
    assert(run(100000, 137, 4) == 5469L)   // C(n,4)·4 = 1.7e19 > 2^63
    assert(run(200, 11, 16) == 610162L)    // C(200,16) = 1.7e23
    assert(run(1000, 37, 8) == 261177L)    // C(1000,8) = 2.4e19
  }
}
