package graft

import graft.ops.Bpe

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  test("trainLocal: hand-computed merge order on a tiny corpus") {
    // corpus: "aaab aaab ab" -> words: aaab x2, ab x1
    // round 1 pairs: (a,a): 2 per aaab x2 = 4; (a,b): 2+1 = 3 -> merge (a,a)
    // round 2: aaab -> [aa,a,b]; pairs (aa,a):2, (a,b):2+1=3 -> merge (a,b)
    // round 3: aaab -> [aa,ab] x2, ab -> [ab]; pairs (aa,ab):2 -> merge (aa,ab)
    val merges = Bpe.trainLocal(Seq("aaab aaab ab"), nMerges = 3)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // training stops when no pairs remain, never loops
    assert(Bpe.trainLocal(Seq("x y z"), nMerges = 10).isEmpty)
  }

  test("trainLocal: ties break to the lexicographically smallest pair") {
    // "cd cd ab ab": (c,d) and (a,b) both count 2 -> (a,b) first
    val merges = Bpe.trainLocal(Seq("cd cd ab ab"), nMerges = 2)
    assert(merges == Seq(("a", "b"), ("c", "d")))
  }

  test("encodeWord: lowest-rank-first application, unknown words pass through") {
    val rank = Map(("a", "a") -> 0, ("a", "b") -> 1, ("aa", "ab") -> 2)
    assert(Bpe.encodeWord("aaab", rank) == Vector("aaab")) // aa+ab then merged
    assert(Bpe.encodeWord("ab", rank) == Vector("ab"))
    assert(Bpe.encodeWord("ba", rank) == Vector("b", "a"))
    assert(Bpe.encodeWord("z", rank) == Vector("z"))
  }

  test("applyMerges: exact counts on a known doc; invariants hold corpus-wide") {
    val docs = Seq(
      (1L, "aaab ab!"),   // pretokens: aaab, ab, '!' -> tokens aaab, ab, ! = 3
      (2L, "zzz"),        // untrained word -> chars merge only if learned
      (3L, "")
    ).toDF("doc_id", "text")
    val merges = Bpe.trainLocal(Seq("aaab aaab ab"), 3)
    val got = Bpe.applyMerges(docs, merges)
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 7L, 3L, true, true)), got(1L).toString)
    assert(got(2L)._4 == 3L, "zzz has no learned merges -> 3 char tokens")
    assert(got(3L) == ((3L, 0L, 0L, 0L, true, true)))
    assert(got.values.forall(r => r._5 && r._6))
    // real corpus: invariants hold everywhere and BPE actually compresses
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val trained = Bpe.trainMerges(real, nMerges = 64)
    assert(trained.size == 64)
    val applied = Bpe.applyMerges(real, trained)
    assert(applied.where(!$"lossless_ok" || !$"bounded_ok").isEmpty)
    val (units, toks) = applied.agg(org.apache.spark.sql.functions.sum("n_units"),
      org.apache.spark.sql.functions.sum("n_tokens"))
      .as[(Long, Long)].head()
    assert(toks < units, s"64 merges must compress: $toks tokens vs $units units")
  }

  test("ntokCol: per-task memo returns encodeWord sums on repeat-heavy single partitions") {
    import org.apache.spark.sql.functions.col
    val merges = Bpe.trainLocal(Seq("aaab aaab ab"), 3)
    val rank = merges.zipWithIndex.toMap
    // heavy word repetition in ONE partition exercises memo HITS on the
    // same task; rows with nulls and unseen words cover the misses
    val texts = Seq("aaab ab aaab ab aaab!", "ab ab ab aaab", null,
      "zzz aaab", "") ++ Seq.fill(20)("aaab ab")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").coalesce(1)
    val ntok = Bpe.ntokCol(df, merges)
    val got = df.select(col("doc_id"), ntok(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    def ref(s: String): Long =
      if (s == null) 0L
      else Bpe.wordRe.findAllIn(s).map(w =>
        Bpe.encodeWord(w, rank).length.toLong).sum
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t), s"row $i: ${got(i.toLong)} vs ${ref(t)}")
    }
  }

  private def ntokRef(rank: Map[(String, String), Int])(s: String): Long =
    if (s == null) 0L
    else Bpe.wordRe.findAllIn(s).map(w => Bpe.encodeWord(w, rank).length.toLong).sum

  test("ntokCol: more distinct words than the memo cap still count exactly") {
    import org.apache.spark.sql.functions.col
    val merges = Bpe.trainLocal(Seq("abab baba abc cab bca"), 8)
    // every word distinct (base-26 spelled), 2,000 more than the cap,
    // all in ONE task so one thread's memo fills and then only misses
    def word(i: Int): String =
      Iterator.iterate(i)(_ / 26).takeWhile(_ > 0).map(d => ('a' + d % 26).toChar).mkString + "ab"
    val texts = (1 to Bpe.NtokMemoCap + 2000).map(word).grouped(100).map(_.mkString(" ")).toSeq
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(1)
    val got = df.select(col("doc_id"), Bpe.ntokCol(df, merges)(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    val ref = ntokRef(merges.zipWithIndex.toMap) _
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t), s"row $i: ${got(i.toLong)} vs ${ref(t)}")
    }
  }

  test("ntokCol: concurrent queries over a driver-folded LocalRelation count exactly") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.col
    val merges = Bpe.trainLocal(Seq("aaab aaab ab abc"), 4)
    val texts = (0 until 400).map(i => (0 until 20).map(j => s"ab${(i * 20 + j) % 3000}x aaab").mkString(" "))
    val df = texts.toDF("text")
    val ntok = Bpe.ntokCol(df, merges)
    def counts(): Seq[Long] = df.select(ntok(col("text"))).as[Long].collect().toSeq
    assert(df.select(ntok(col("text"))).queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "the UDF must be folded on the driver for this case to share one closure")
    val want = texts.map(ntokRef(merges.zipWithIndex.toMap))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = Future.sequence((1 to 8).map(_ => Future(counts())))
      Await.result(runs, 5.minutes).foreach(got => assert(got == want))
    } finally pool.shutdown()
  }
}
