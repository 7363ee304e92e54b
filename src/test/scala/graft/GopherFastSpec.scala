package graft

import org.apache.spark.sql.Row
import graft.ops.Quality

/** Pins value-identity between the relational [[Quality.gopherRepetition]]
  * (the q116 oracle's definition) and the single-pass codegen'd
  * [[Quality.gopherRepetitionFast]] that replaced it in the query suite.
  */
class GopherFastSpec extends SparkTestBase {
  import spark.implicits._

  private def both(docs: org.apache.spark.sql.DataFrame): (Seq[Row], Seq[Row]) = {
    val order = Seq("doc_id", "top2_cnt", "top2_gram", "top2_frac",
      "dup3_frac", "dup_word_frac")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr(order: _*).orderBy("doc_id").collect().toSeq
    (rows(Quality.gopherRepetition(docs)), rows(Quality.gopherRepetitionFast(docs)))
  }

  test("fast == exact on the planted closed-form fixture") {
    val docs = Seq(
      (1L, "a b a b a"), (2L, "x y z"), (3L, "q"), (4L, "A a"),
      (5L, ""), (6L, "   "), (7L, "one"),
      (8L, "t t t t t t t t") // degenerate all-same doc
    ).toDF("doc_id", "text")
    val (exact, fast) = both(docs)
    assert(fast === exact)
  }

  test("fast == exact under tie-breaks, unicode, and heavy repetition") {
    val docs = Seq(
      // cnt-tie between "b a" and "a b": gram-ascending must win in both
      (1L, "b a b a b"),
      // non-ASCII grams: codepoint tie-break + codepoint gram lengths
      (2L, "é ü é ü é 中 文 中 文"),
      // astral codepoints: UTF-16 String ordering would break ties wrong
      (3L, "😀 z 😀 z 😀"),
      // 1000x duplicated boilerplate line (the skew shape of the 1M-doc scale runs, BENCH_NOTES.md)
      (4L, Seq.fill(500)("click here now").mkString(" ")),
      // mixed case + punctuation-glued tokens
      (5L, "The the THE the. The the."),
      // tabs/newlines as separators
      (6L, "a\tb\na  b\r\na b")
    ).toDF("doc_id", "text")
    val (exact, fast) = both(docs)
    assert(fast === exact)
  }

  test("fast == exact on driver testdata sf0.001") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val (exact, fast) = both(docs)
    assert(fast === exact)
  }

  test("fast variant plans zero exchanges") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Quality.gopherRepetitionFast(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected zero shuffles:\n$plan")
  }
}
