package graft

import java.nio.file.Files
import graft.streaming.{Ledger, StreamDrift, StreamGk, StreamKmv}

/** Ledger compaction (the negative-watermark discipline): for each of
  * the three `_batch`-partitioned sketch ledgers — GK quantiles, KMV
  * cardinality, drift counts — compacting committed batches must (a)
  * preserve the lifetime result VALUE FOR VALUE, (b) keep the replay
  * contract for batches above the watermark, (c) bound the ledger to
  * one summary partition plus the uncompacted tail, and (d) stay exact
  * across a crashed cleanup: stale partitions at or below the watermark
  * (positives a crash re-landed, older negatives a crash failed to
  * delete) are invisible to every reader and healed by the next
  * compaction. */
class LedgerCompactSpec extends SparkTestBase {
  import spark.implicits._

  private def labels(dir: String): Set[Long] =
    spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.col("_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet

  private val eps = 0.01

  test("Ledger.write: per-write dynamic overwrite, session conf untouched") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val dir = Files.createTempDirectory("lcw").toString + "/led"
    Ledger.write(Seq(1L, 2L).toDF("x"), 0L, dir)
    Ledger.write(Seq(3L).toDF("x"), 1L, dir)
    Ledger.write(Seq(4L).toDF("x"), 1L, dir) // a replay of batch 1
    assert(labels(dir) == Set(0L, 1L))
    assert(Ledger.read(spark, dir).as[Long].collect().toSet == Set(1L, 2L, 4L),
      "the replay rewrote its own partition and left batch 0 alone")
    assert(spark.conf.getOption(key) == before)
  }

  test("Ledger.compactThrough: the in-stream schedule, batch by batch") {
    val table = Seq(
      // (every, batchId, compact through)
      (0, 0L, None), (0, 2L, None), (0, 6L, None),
      (1, 0L, None), (1, 1L, None), (1, 2L, Some(1L)), (1, 3L, Some(2L)),
      (3, 0L, None), (3, 1L, None), (3, 2L, None), (3, 3L, Some(2L)),
      (3, 4L, None), (3, 5L, None), (3, 6L, Some(5L)), (3, 7L, None),
      (2, 2L, Some(1L)))
    table.foreach { case (every, batchId, want) =>
      assert(Ledger.compactThrough(every, batchId) == want,
        s"every=$every batchId=$batchId")
    }
  }

  test("GK: compaction preserves lifetime quantiles exactly; ledger bounded") {
    val dir = Files.createTempDirectory("lcg").toString + "/led"
    StreamGk.summaryBatch((1 to 4000).map(i => ((i * i) % 997).toDouble).toDF("x"),
      0L, "x", eps, dir)
    StreamGk.summaryBatch((1 to 100).map(_.toDouble * 5000).toDF("x"),
      1L, "x", eps, dir)
    StreamGk.summaryBatch((1 to 4000).map(i => (i % 13).toDouble).toDF("x"),
      2L, "x", eps, dir)
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    def q() = StreamGk.quantiles(spark, dir, eps, ps)
      .collect().map(_.getDouble(1)).toSeq
    val before = q()
    StreamGk.compact(spark, dir, upTo = 1L, eps)
    assert(Ledger.watermark(spark, dir) == 1L)
    assert(labels(dir) == Set(-1L, 2L))
    assert(q() == before, "compaction through batch 1 changed the fold")
    StreamGk.compact(spark, dir, upTo = 2L, eps)
    assert(labels(dir) == Set(-2L))
    assert(q() == before, "full compaction changed the fold")
    // bounded: exactly one summary's tuples remain
    val rows = spark.read.parquet(dir).count()
    assert(rows < 1500, s"compacted GK ledger still has $rows tuple rows")
  }

  test("KMV: compaction preserves the lifetime k-minima and estimate exactly") {
    val dir = Files.createTempDirectory("lck").toString + "/sk"
    StreamKmv.sketchBatch((1L to 300L).toDF("x"), 0L, "x", 64, dir)
    StreamKmv.sketchBatch((200L to 600L).toDF("x"), 1L, "x", 64, dir)
    StreamKmv.sketchBatch((601L to 900L).toDF("x"), 2L, "x", 64, dir)
    def sk() = StreamKmv.lifetimeSketch(spark, dir, 64)
      .as[Long].collect().sorted.toSeq
    def est() = StreamKmv.estimate(spark, dir, 64).head().getLong(2)
    val (s0, e0) = (sk(), est())
    StreamKmv.compact(spark, dir, upTo = 1L, k = 64)
    assert(labels(dir) == Set(-1L, 2L))
    assert(sk() == s0 && est() == e0)
    StreamKmv.compact(spark, dir, upTo = 2L, k = 64)
    assert(labels(dir) == Set(-2L))
    assert(sk() == s0 && est() == e0)
    assert(spark.read.parquet(dir).count() <= 64)
  }

  test("drift: compaction preserves the report; crash leftovers are invisible and healed") {
    val edgesDir = Files.createTempDirectory("lcd_e").toString + "/edges"
    val dir = Files.createTempDirectory("lcd").toString + "/led"
    StreamDrift.saveEdges(spark, Seq(250.0, 500.0, 750.0), edgesDir)
    def rows(n: Int, shift: Int) = (0 until n)
      .map(i => (if (i % 3 == 0) "a" else "b", ((i * 37 + shift) % 1000).toDouble))
    StreamDrift.countBatch(rows(200, 0).toDF("src", "x"), 0L, "src", "x", edgesDir, dir)
    StreamDrift.countBatch(rows(150, 400).toDF("src", "x"), 1L, "src", "x", edgesDir, dir)
    StreamDrift.countBatch(rows(120, 700).toDF("src", "x"), 2L, "src", "x", edgesDir, dir)
    def rep() = StreamDrift.report(spark, dir, "src")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val before = rep()
    StreamDrift.compact(spark, dir, upTo = 1L)
    assert(labels(dir) == Set(-1L, 2L))
    assert(rep() == before)

    // crash window 1: batch 1 (<= watermark) re-landed by a crashed
    // replay-then-rollback — a stale POSITIVE partition the reader must
    // skip (counting it would double batch 1)
    StreamDrift.countBatch(rows(150, 400).toDF("src", "x"), 1L, "src", "x", edgesDir, dir)
    assert(labels(dir) == Set(-1L, 1L, 2L))
    assert(rep() == before, "stale positive partition leaked into the report")

    // a replayed batch ABOVE the watermark is the normal contract:
    // rewrites identical content, report unchanged
    StreamDrift.countBatch(rows(120, 700).toDF("src", "x"), 2L, "src", "x", edgesDir, dir)
    assert(rep() == before)

    // crash window 2: compacting again supersedes -1; even before its
    // cleanup the reader would use only the newest watermark — after it,
    // the stale positive AND the older negative are gone
    StreamDrift.compact(spark, dir, upTo = 2L)
    assert(labels(dir) == Set(-2L))
    assert(rep() == before)
    // bounded: one (src x bucket) grid remains
    assert(spark.read.parquet(dir).count() <= 8)
  }

  test("auto-compaction inside the resident stream: bounded ledger, exact results") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("lca").toString + "/sk"
    val ckpt = Files.createTempDirectory("lca_ckpt").toString
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = StreamKmv.start(input.toDF().toDF("x"), "x", 32, dir, ckpt,
      compactEvery = 2)
    try {
      for (b <- 0 until 6) {
        input.addData((b * 100L) until (b * 100L + 150L): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the stream compacted through batch 3 (at batch 4); labels are the
    // watermark partition plus the uncompacted tail
    assert(Ledger.watermark(spark, dir) == 3L)
    assert(labels(dir) == Set(-3L, 4L, 5L))
    // exact: same sketch as the uncompacted one-shot
    val got = StreamKmv.lifetimeSketch(spark, dir, 32)
      .as[Long].collect().sorted.toSeq
    val direct = graft.ops.Kmv.sketch((0L until 650L).toDF("x"), "x", 32)
      .as[Long].collect().sorted.toSeq
    assert(got == direct)
  }

  test("domain-cap budget ledger: compaction preserves admissions exactly; below-watermark replay rejected") {
    import graft.streaming.StreamDomainCap
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) "mega" else "tail")).toDF("doc_id", "source")
    // twin runs: identical batches, one ledger compacted mid-stream
    val a = Files.createTempDirectory("lcd_a").toString
    val c = Files.createTempDirectory("lcd_c").toString
    for (root <- Seq(a, c)) {
      StreamDomainCap.capBatch(docs(0 until 40), 0L, s"$root/out", s"$root/led",
        "source", "doc_id", k = 25)
      StreamDomainCap.capBatch(docs(40 until 80), 1L, s"$root/out", s"$root/led",
        "source", "doc_id", k = 25)
    }
    StreamDomainCap.compact(spark, s"$c/led", upTo = 1L)
    assert(labels(s"$c/led") == Set(-1L))
    // the next batch must admit the IDENTICAL set against either ledger
    for (root <- Seq(a, c))
      StreamDomainCap.capBatch(docs(80 until 120), 2L, s"$root/out", s"$root/led",
        "source", "doc_id", k = 25)
    def admitted(root: String) = StreamDomainCap.admitted(spark, s"$root/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted(c) == admitted(a), "compaction changed admissions")
    // lifetime cap held: exactly 25 per domain
    val perDomain = StreamDomainCap.admitted(spark, s"$c/out")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDomain == Map("mega" -> 25L, "tail" -> 25L))
    // a replay of a batch AT/BELOW the watermark is rejected loudly —
    // it was committed (that is what made it compactable), so the
    // replay contract says it can never run again; silence would mean
    // double-spent budget
    intercept[IllegalArgumentException] {
      StreamDomainCap.capBatch(docs(40 until 80), 1L, s"$c/out", s"$c/led",
        "source", "doc_id", k = 25)
    }
  }

  test("compacting below the existing watermark is rejected") {
    val dir = Files.createTempDirectory("lcw").toString + "/sk"
    StreamKmv.sketchBatch((1L to 50L).toDF("x"), 0L, "x", 16, dir)
    StreamKmv.sketchBatch((1L to 80L).toDF("x"), 1L, "x", 16, dir)
    StreamKmv.sketchBatch((1L to 90L).toDF("x"), 2L, "x", 16, dir)
    StreamKmv.compact(spark, dir, upTo = 2L, k = 16)
    intercept[IllegalArgumentException] {
      StreamKmv.compact(spark, dir, upTo = 1L, k = 16)
    }
  }
}
