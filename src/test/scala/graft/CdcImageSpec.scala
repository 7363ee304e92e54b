package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.Cdc
import graft.streaming.{CdcImage, Scd2Image}

class CdcImageSpec extends SparkTestBase {
  import spark.implicits._

  test("scd2: versions chain per key, deletes close the last version, as-of == image") {
    import org.apache.spark.sql.functions._
    val changes = Seq(
      (1L, 10L, "c", "a1"), (1L, 20L, "u", "a2"), (1L, 30L, "u", "a3"),
      (2L, 11L, "c", "b1"), (2L, 25L, "d", ""),
      (3L, 40L, "c", "c1")
    ).toDF("k", "seq", "op", "payload")
    val h = Cdc.scd2(changes, Seq("k"), "seq")
      .select($"k", $"seq", $"payload", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(h == Set(
      (1L, 10L, "a1", 10L, Some(20L), false),
      (1L, 20L, "a2", 20L, Some(30L), false),
      (1L, 30L, "a3", 30L, None, true),
      (2L, 11L, "b1", 11L, Some(25L), false), // delete closes it, no open row
      (3L, 40L, "c1", 40L, None, true)), h.toString)
    // as-of reconstruction at any sequence S == latestImage of changes <= S
    for (s <- Seq(15L, 26L, 40L)) {
      val asOf = Cdc.scd2(changes, Seq("k"), "seq")
        .where($"valid_from" <= s && (col("valid_to").isNull || $"valid_to" > s))
        .select("k", "payload").as[(Long, String)].collect().toSet
      val img = Cdc.latestImage(changes.where($"seq" <= s), Seq("k"), Seq("seq"))
        .select("k", "payload").as[(Long, String)].collect().toSet
      assert(asOf == img, s"as-of $s: $asOf != $img")
    }
  }

  test("asOfLookup: version valid at each probe point; deleted spans match nothing") {
    import org.apache.spark.sql.functions._
    val changes = Seq(
      (1L, 10L, "c", "a1"), (1L, 20L, "u", "a2"),
      (2L, 11L, "c", "b1"), (2L, 25L, "d", "")
    ).toDF("k", "seq", "op", "payload")
    val hist = Cdc.scd2(changes, Seq("k"), "seq")
    val probes = Seq((1L, 15L), (1L, 20L), (1L, 99L), (2L, 24L), (2L, 30L), (3L, 5L))
      .toDF("k", "probe_seq")
    val got = Cdc.asOfLookup(hist, probes, Seq("k"), "probe_seq")
      .select($"k", $"probe_seq", $"payload").as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 15L, "a1"),  // before the update
      (1L, 20L, "a2"),  // at the update boundary: new version (inclusive from)
      (1L, 99L, "a2"),  // open version
      (2L, 24L, "b1")), // (2,30) after delete and (3,5) unknown key: no match
      got.toString)
  }

  test("scd2Merge == full rebuild at every split point, incl. delete + rebirth") {
    import org.apache.spark.sql.functions._
    val changes = Seq(
      (1L, 10L, "c", "a1"), (1L, 20L, "u", "a2"), (1L, 50L, "u", "a3"),
      (2L, 11L, "c", "b1"), (2L, 25L, "d", ""), (2L, 60L, "c", "b2"), // rebirth
      (3L, 40L, "c", "c1"), (3L, 70L, "d", "")
    ).toDF("k", "seq", "op", "payload")
    val full = Cdc.scd2(changes, Seq("k"), "seq")
    for (cut <- Seq(15L, 30L, 45L, 65L)) {
      val merged = Cdc.scd2Merge(
        Cdc.scd2(changes.where($"seq" < cut), Seq("k"), "seq"),
        changes.where($"seq" >= cut), Seq("k"), "seq")
      assert(merged.except(full).isEmpty && full.except(merged).isEmpty,
        s"merge at cut=$cut diverged from the full rebuild")
    }
  }

  test("streamed SCD2 history == batch scd2 over the full change log") {
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val historyDir = Files.createTempDirectory("graft-scd2").toString + "/history"
    val chk = Files.createTempDirectory("graft-scd2-chk").toString
    val input = MemoryStream[(Long, Long, String, String)] // k, seq, op, payload
    val q = Scd2Image.start(input.toDF().toDF("k", "seq", "op", "payload"),
      historyDir, chk, Seq("k"), "seq", nBuckets = 8)
    val log = Seq(
      // batch 1: creates
      Seq((1L, 10L, "c", "a1"), (2L, 11L, "c", "b1"), (3L, 12L, "c", "c1")),
      // batch 2: update, delete
      Seq((1L, 20L, "u", "a2"), (2L, 25L, "d", "")),
      // batch 3: rebirth + untouched key 3 + same-batch chain for 1
      Seq((2L, 60L, "c", "b2"), (1L, 61L, "u", "a3"), (1L, 62L, "u", "a4")))
    try {
      log.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = Scd2Image.read(spark, historyDir)
      .select("k", "seq", "op", "payload", "valid_from", "valid_to", "is_current")
    val batch = Cdc.scd2(log.flatten.toDF("k", "seq", "op", "payload"), Seq("k"), "seq")
      .select("k", "seq", "op", "payload", "valid_from", "valid_to", "is_current")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed history must equal the batch rebuild")
    // untouched bucket's files were not rewritten in batch 2/3 only if key 3
    // hashed to a bucket untouched later — behavioral check instead: key 3
    // version still open and unique
    val k3 = streamed.where($"k" === 3L).collect()
    assert(k3.length == 1 && k3.head.getAs[Boolean]("is_current"))
  }

  test("first batch is decided from the listing: missing dir merges, unreadable image throws") {
    import org.apache.spark.sql.functions.lit
    val changes = Seq((1L, 1L, "c", "a1"), (2L, 1L, "c", "b1"))
      .toDF("k", "ver", "op", "payload")
    // a missing directory is the first batch: the image is the batch's
    val fresh = Files.createTempDirectory("graft-img-first").toString + "/image"
    CdcImage.mergeBatch(changes, fresh, Seq("k"), Seq("ver"), nBuckets = 1)
    assert(CdcImage.read(spark, fresh).select("k", "payload")
      .as[(Long, String)].collect().toSet == Set((1L, "a1"), (2L, "b1")))
    // an image whose bucket holds only a truncated parquet file must fail
    // the batch, not read as "no image yet" and overwrite the bucket
    val broken = Files.createTempDirectory("graft-img-broken").toString
    val bucket = java.nio.file.Paths.get(broken, "_kb=0")
    Files.createDirectories(bucket)
    Files.write(bucket.resolve("part-00000.parquet"), "PAR1trunc".getBytes)
    intercept[Exception] {
      CdcImage.mergeBatch(changes, broken, Seq("k"), Seq("ver"), nBuckets = 1)
    }
    intercept[Exception] {
      Scd2Image.mergeBatch(changes.drop("ver").withColumn("seq", lit(1L)),
        broken, Seq("k"), "seq", nBuckets = 1)
    }
    assert(new java.io.File(bucket.toFile, "part-00000.parquet").length() == 9,
      "the unreadable bucket is left as it was")
  }

  test("streamed image == batch latestImage over the full change log") {
    implicit val ctx = spark.sqlContext
    val imageDir = Files.createTempDirectory("graft-img").toString + "/image"
    val chk = Files.createTempDirectory("graft-img-chk").toString
    val input = MemoryStream[(Long, Long, String, String)] // k, ver, op, payload
    val q = CdcImage.start(input.toDF().toDF("k", "ver", "op", "payload"),
      imageDir, chk, Seq("k"), Seq("ver"), nBuckets = 8)
    try {
      // batch 1: inserts
      input.addData((1L, 1L, "c", "a1"), (2L, 1L, "c", "b1"), (3L, 1L, "c", "c1"))
      q.processAllAvailable()
      // batch 2: update k=1, delete k=2, insert k=4, redeliver k=3
      input.addData((1L, 2L, "u", "a2"), (2L, 2L, "d", "b1"),
        (4L, 1L, "c", "d1"), (3L, 1L, "c", "c1"))
      q.processAllAvailable()
      // batch 3: late-but-older change for k=1 must NOT win
      input.addData((1L, 1L, "u", "aSTALE"))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = CdcImage.read(spark, imageDir)
      .select("k", "ver", "op", "payload")
      .as[(Long, Long, String, String)].collect().toSet
    val allChanges = Seq(
      (1L, 1L, "c", "a1"), (2L, 1L, "c", "b1"), (3L, 1L, "c", "c1"),
      (1L, 2L, "u", "a2"), (2L, 2L, "d", "b1"), (4L, 1L, "c", "d1"),
      (3L, 1L, "c", "c1"), (1L, 1L, "u", "aSTALE")
    ).toDF("k", "ver", "op", "payload")
    val batch = Cdc.latestImage(allChanges, Seq("k"), Seq("ver"))
      .select("k", "ver", "op", "payload")
      .as[(Long, Long, String, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, 2L, "u", "a2"), (3L, 1L, "c", "c1"),
      (4L, 1L, "c", "d1"))) // k=2 deleted
  }
}
