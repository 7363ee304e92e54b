package graft

import org.apache.spark.sql.functions._
import graft.ops.Retrieval

/** BM25 retrieval: hand-computed fixed-point scores on a tiny corpus,
  * the ranking properties that make BM25 BM25 (rare-term dominance, tf
  * saturation, length normalization), query-term set semantics,
  * degenerate queries, and the broadcast shape of the search plan. */
class RetrievalSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana cherry date"),         // dl 4
    (2L, "apple apple apple apple"),          // dl 4, tf saturation case
    (3L, "banana banana cherry cherry"),      // dl 4
    (4L, "apple elderberry fig grape happy"), // dl 5
    (5L, "kiwi lemon mango nectarine")        // dl 4, no query overlap
  ).toDF("doc_id", "text")

  private def search(qs: (Long, String)*) =
    Retrieval.bm25(corpus, qs.toDF("query_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("hand-computed fixed-point score: single-term query") {
    // N=5, total_len=21, avg_fx = 21000 div 5 = 4200
    // 'cherry': df=2 -> idf_fx = (10-4+1)*1e6 div 5 = 1_400_000
    // doc 1 (tf=1, dl=4): tfw = 22*1*4200*1000 div (10*4200+3*4200+9000*4)
    //   = 92_400_000 div 90_600 = 1019; term = 1_400_000*1019 div 1000 = 1_426_600
    val hits = search(100L -> "cherry").filter(_._1 == 100L)
    val d1 = hits.find(_._3 == 1L).get
    assert(d1._4 == 1426600L)
    // doc 3 (tf=2): tfw = 22*2*4200*1000 div (10*4200*2+3*4200+9000*4)
    //   = 184_800_000 div 132_600 = 1393; term = 1_400_000*1393 div 1000 = 1_950_200
    val d3 = hits.find(_._3 == 3L).get
    assert(d3._4 == 1950200L && d3._2 == 1L && d1._2 == 2L)
    // docs without the term never appear
    assert(hits.map(_._3).toSet == Set(1L, 3L))
  }

  test("rare term dominates common term; tf saturates sublinearly") {
    // 'apple' df=3 (common), 'elderberry' df=1 (rare): doc 4 holds the
    // rare term and must outrank the apple-stuffed doc 2
    val hits = search(1L -> "apple elderberry")
    assert(hits.find(_._2 == 1L).get._3 == 4L)
    // tf saturation: doc 2 has 4x the tf of doc 1 on 'apple' but scores
    // well under 4x doc 1's apple-only component
    val s2 = hits.find(_._3 == 2L).get._4
    val s1 = hits.find(_._3 == 1L).get._4
    assert(s2 > s1 && s2 < 4L * s1)
  }

  test("query-term SET semantics: repeating a term does not double-score it") {
    val once = search(1L -> "cherry").filter(_._1 == 1L)
    val thrice = search(1L -> "cherry cherry cherry").filter(_._1 == 1L)
    assert(once.map(t => (t._2, t._3, t._4)).toSet ==
      thrice.map(t => (t._2, t._3, t._4)).toSet)
  }

  test("degenerates: no-match and empty queries vanish; k truncates") {
    assert(search(1L -> "zzz qqq").isEmpty)
    assert(search(2L -> "  \t ").isEmpty)
    val hits = Retrieval.bm25(corpus, Seq(3L -> "apple banana cherry")
      .toDF("query_id", "text"), k = 2).collect()
    assert(hits.length == 2)
  }

  test("salted two-level top-k == direct single-window ranking") {
    // 60-doc corpus, every doc matches the query term with varying tf
    val docs = (1L to 60L).map(i =>
      (i, (Seq.fill((i % 7 + 1).toInt)("term") ++ Seq.fill(5)(s"x$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Retrieval.bm25(docs, Seq(1L -> "term").toDF("query_id", "text"), k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getLong(3))).toList
    // independent direct ranking from the same scores at k=60 (no salt
    // effect possible when every row survives level 1)
    val all = Retrieval.bm25(docs, Seq(1L -> "term").toDF("query_id", "text"), k = 60)
      .collect().map(r => (r.getLong(2), r.getLong(3)))
      .sortBy(t => (-t._2, t._1)).take(10).toList
    assert(got == all)
  }

  test("contaminationTriage: verbatim flagged via self top-1, fresh absent, partial thresholds") {
    val docs = (1L to 30L).map(i =>
      (i, (1 to 20).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val bench = Seq(
      (100L, (1 to 20).map(j => s"w7_$j").mkString(" ")),          // verbatim copy of doc 7
      (200L, ((1 to 10).map(j => s"w9_$j") ++ (1 to 10).map(j => s"nov_$j")).mkString(" ")), // half of doc 9
      (300L, (1 to 8).map(j => s"fresh_$j").mkString(" "))          // no corpus overlap
    ).toDF("bench_id", "text")
    val got = Retrieval.contaminationTriage(docs, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // verbatim: rank-1 hit is the source doc, full 5-gram overlap, flagged
    val (d1, bg1, ns1, c1) = got((100L, 1L))
    assert(d1 == 7L && ns1 == bg1 && c1)
    // partial: rank-1 is doc 9; 10 shared tokens -> 6 shared 5-grams of 16 = 37% >= 20%
    val (d2, bg2, ns2, c2) = got((200L, 1L))
    assert(d2 == 9L && bg2 == 16L && ns2 == 6L && c2)
    // fresh item surfaces NO rows (suspects-only contract)
    assert(!got.keys.exists(_._1 == 300L))
  }

  test("rrfFuse: hand-computed fusion, single-source docs, deterministic ties") {
    val lex = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("query_id", "doc_id", "rank")
    val vec = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(lex, vec))
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // contributions: 1e6 div 61 = 16393, 1e6 div 62 = 16129
    // doc 20: 16129 + 16393 = 32522 (both sources); doc 10: 16393; doc 30: 16129
    assert(got == List((1L, 20L, 32522L), (2L, 10L, 16393L), (3L, 30L, 16129L)))
    // equal-score tie (same rank in disjoint sources) breaks by doc_id
    val a = Seq((7L, 5L, 1L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((7L, 3L, 1L)).toDF("query_id", "doc_id", "rank")
    val tie = Retrieval.rrfFuse(Seq(a, b)).orderBy("rank")
      .collect().map(_.getLong(2)).toList
    assert(tie == List(3L, 5L))
  }

  test("search plan: query terms broadcast into the postings join") {
    val post = Retrieval.bm25Postings(corpus)
    // inspect the UN-materialized plan (bm25Search localCheckpoints,
    // which truncates lineage to a Scan ExistingRDD)
    val (out, matched) = Retrieval.bm25SearchPlan(post,
      Seq(1L -> "apple").toDF("query_id", "text"), 5, "query_id", "text")
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flat(p: SparkPlan): Seq[String] = (p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec => flat(q.plan)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        flat(im.relation.cachedPlan)
      case other => other.children.flatMap(flat)
    }) :+ p.nodeName
    val nodes = flat(out.queryExecution.executedPlan)
    matched.unpersist(false)
    assert(nodes.exists(_.contains("BroadcastHashJoin")),
      s"query-term filter must broadcast, not shuffle the postings:\n${nodes.mkString(", ")}")
  }

  test("bm25Search keeps a postings cache the caller owns") {
    import org.apache.spark.storage.StorageLevel
    val q = Seq(1L -> "apple").toDF("query_id", "text")
    val post = Retrieval.bm25Postings(corpus).persist()
    val first =
      try {
        val hits = Retrieval.bm25Search(post, q).collect().toSet
        assert(post.storageLevel != StorageLevel.NONE,
          "search must not evict the caller's cache")
        assert(Retrieval.bm25Search(post, q).collect().toSet == hits)
        hits
      } finally { post.unpersist(true); () }
    // an uncached frame is persisted for the search only, then released
    val bare = Retrieval.bm25Postings(corpus)
    assert(Retrieval.bm25Search(bare, q).collect().toSet == first)
    assert(bare.storageLevel == StorageLevel.NONE)
  }

  test("hardNegatives: positive dropped, re-ranked, above_positive audits false negatives") {
    // corpus: docs about apples; query "apple pie"; the POSITIVE is the
    // weak doc 4 (one term), so the stronger lexical matches 1..3 mine
    // as negatives ABOVE it -> flag true; doc 5 is off-topic
    val docs = Seq(
      (1L, "apple pie apple pie recipe"),
      (2L, "apple pie baking"),
      (3L, "apple orchard pie"),
      (4L, "green apple"),
      (5L, "quantum chromodynamics lattice")).toDF("doc_id", "text")
    val qs = Seq((100L, "apple pie")).toDF("query_id", "text")
    val pos = Seq((100L, 4L)).toDF("query_id", "pos_id")
    val out = Retrieval.hardNegatives(docs, qs, pos, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(4)))
      .sortBy(_._1)
    // positive (4) excluded; ranks are contiguous over the survivors
    assert(!out.map(_._2).contains(4L))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // every mined negative here outscores the one-term positive
    assert(out.forall(_._3), s"above_positive should fire: ${out.toSeq}")
    // positive not in the candidate list at all -> conservative false
    val posFar = Seq((100L, 5L)).toDF("query_id", "pos_id")
    val out2 = Retrieval.hardNegatives(docs, qs, posFar, k = 3).collect()
    assert(out2.forall(!_.getBoolean(4)))
    assert(!out2.map(_.getLong(2)).contains(5L), "positive must be dropped")
  }

  test("maxSim: planted relevance wins, per-token maxes sum, gate bounds docs not scores") {
    // doc 1: chunks along axes e0, e1; doc 2: e2, e3; doc 3: a diagonal
    // chunk cos(q-tok0) = 0.6 plus an opposite one
    val chunks = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f)), (2L, Seq(0.0f, 0.0f, -1.0f)),
      (3L, Seq(0.6f, 0.8f, 0.0f)), (3L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("doc_id", "embedding")
    // query 10: tokens = (scaled) e0 and e1 -> doc 1 is the exact match
    val qs = Seq(
      (10L, 0L, Seq(2.0f, 0.0f, 0.0f)), (10L, 1L, Seq(0.0f, 3.0f, 0.0f))
    ).toDF("qid", "qtok", "embedding")
    val got = Retrieval.maxSim(chunks, qs, k = 5, minCosMilli = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._2)
    // doc 1: max per token 1000 + 1000 = 2000 (exact match, rank 1)
    // doc 3: tok0 max = cos 0.6 vs (0.6,0.8) chunk = 600; tok1 max =
    //   800 (the SAME chunk; the -e0 chunk never helps) -> 1400. Only
    //   tok0's 600 passed the gate, yet tok1's 800 still scores: the
    //   gate bounds WHICH docs, never HOW they score.
    // doc 2: no pair >= 500 -> not a candidate at all
    assert(got.toSeq == Seq((10L, 1L, 1L, 2000L), (10L, 2L, 3L, 1400L)))
  }

  test("rankEval: hand-computed metrics; zero-hit queries surface as zeros") {
    val ranked = Seq(
      (1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),   // q1: rel at ranks 2, 3
      (2L, 1L, 20L), (2L, 2L, 21L)                   // q2: nothing relevant
    ).toDF("query_id", "rank", "doc_id")
    val qrels = Seq((1L, 11L), (1L, 12L), (1L, 99L), // 99 never retrieved
      (2L, 77L), (3L, 5L)).toDF("query_id", "doc_id")
    val got = Retrieval.rankEval(ranked, qrels, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // q1: 2/3 recall, 2/3 precision@3, first relevant at rank 2
    assert(got(1L) == ((3L, 2L, 666666L, 666666L, 500000L)))
    // q2: judged but nothing relevant retrieved -> zeros, not absent
    assert(got(2L) == ((1L, 0L, 0L, 0L, 0L)))
    // q3: judged, never even queried -> zeros too
    assert(got(3L) == ((1L, 0L, 0L, 0L, 0L)))
  }

  test("averagePrecision: per-term flooring, missing relevants stay in the denominator") {
    val ranked = Seq(
      (1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 20L)).toDF("query_id", "rank", "doc_id")
    val qrels = Seq((1L, 11L), (1L, 12L), (1L, 99L),
      (2L, 77L), (3L, 5L)).toDF("query_id", "doc_id")
    val got = Retrieval.averagePrecision(ranked, qrels, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // q1: hits at ranks 2, 3 -> 500000 + 666666 = 1166666, over 3
    // judged relevants (99 never retrieved still counts) -> 388888
    assert(got(1L) == ((3L, 2L, 388888L)))
    assert(got(2L) == ((1L, 0L, 0L)))
    assert(got(3L) == ((1L, 0L, 0L)), "never-queried judged query reads 0")
  }

  test("ndcgAtK: hand-computed discounts, ideal ordering, zero/NULL rules") {
    val w = Retrieval.ndcgWeights(3).map(_._2) // 1e9, 630929754, 5e8
    assert(w == Seq(1000000000L, 630929754L, 500000000L))
    val ranked = Seq(
      (1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L), // gains 0, 1, 3 retrieved
      (2L, 1L, 20L),                               // judged, no hit
      (4L, 1L, 40L)                                // hit but gain 0
    ).toDF("query_id", "rank", "doc_id")
    val qrels = Seq(
      (1L, 11L, 1L), (1L, 12L, 3L), (1L, 99L, 2L), // 99 never retrieved
      (2L, 77L, 1L),
      (4L, 40L, 0L)                                // judged irrelevant only
    ).toDF("query_id", "doc_id", "gain")
    val got = Retrieval.ndcgAtK(ranked, qrels, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    // q1 DCG: gain1 at rank 2 + gain3 at rank 3 = w2 + 3*w3;
    // ideal: gains (3, 2, 1) at positions 1..3
    val dcg = w(1) + 3L * w(2)
    val idcg = 3L * w(0) + 2L * w(1) + 1L * w(2)
    assert(got(1L) == ((3L, dcg, idcg,
      Some(1000000L * dcg / idcg))))
    // q2: judged, retrieved, no hit -> ndcg 0 (surfaced, not dropped)
    assert(got(2L) == ((1L, 0L, 1000000000L, Some(0L))))
    // q4: only zero-gain judgments -> no ideal ranking exists -> NULL
    assert(got(4L) == ((1L, 0L, 0L, None)))
  }
}
