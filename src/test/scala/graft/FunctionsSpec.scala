package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import graft.expr.Exprs

/** The graft_* SQL functions must behave identically to their Column API
  * twins — same expression class, two surfaces. */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_* SQL functions == Column API results") {
    Conf.ensure(spark)
    Seq((1L, "the quick brown fox jumps", Array(1.0f, 2.0f), Array(2.0f, 4.0f)))
      .toDF("id", "text", "va", "vb").createOrReplaceTempView("t")
    val sql = spark.sql(
      """SELECT graft_cosine(va, vb) c, graft_simhash(text) s,
        |  graft_minhash(graft_shingles(text, 3), 16) m,
        |  graft_hyperplane_bucket(va, 4) hb, graft_zvalue(id, id + 1) z
        |FROM t""".stripMargin).collect().head
    val api = spark.table("t").select(
      Exprs.cosineSim(col("va"), col("vb")).as("c"),
      Exprs.simhash64(col("text")).as("s"),
      Exprs.minhashSig(Exprs.shingleHashes(col("text"), 3), 16).as("m"),
      Exprs.hyperplaneBucket(col("va"), 4).as("hb"),
      Exprs.zValue(col("id"), col("id") + 1).as("z")).collect().head
    assert(sql.getDouble(0) == api.getDouble(0))
    assert(sql.getLong(1) == api.getLong(1))
    assert(sql.getSeq[Long](2) == api.getSeq[Long](2))
    assert(sql.getLong(3) == api.getLong(3))
    assert(sql.getLong(4) == api.getLong(4))
  }

  test("graft_normalize_text: SQL surface == Column API, form selectable") {
    Conf.ensure(spark)
    Seq((1L, "a\u0000b  cafe\u0301 \u0007 x")).toDF("id", "text")
      .createOrReplaceTempView("tn")
    val sql = spark.sql(
      "SELECT graft_normalize_text(text) a, graft_normalize_text(text, 'NFKC') b FROM tn")
      .collect().head
    val api = spark.table("tn").select(
      Exprs.normalizeText(col("text")).as("a"),
      Exprs.normalizeText(col("text"), "NFKC").as("b")).collect().head
    assert(sql.getString(0) == api.getString(0) && sql.getString(0) == "ab caf\u00e9 x")
    assert(sql.getString(1) == api.getString(1))
  }

  test("graft_dhash: SQL surface == Column API; non-image is NULL") {
    Conf.ensure(spark)
    val img = graft.ops.Codecs.encodePpm(16, 12,
      (x, y) => (x * 9 % 200, y * 7 % 200, (x + y) % 200))
    Seq((1L, img), (2L, "junk".getBytes)).toDF("id", "media")
      .createOrReplaceTempView("tm")
    val sql = spark.sql("SELECT graft_dhash(media) h FROM tm ORDER BY id").collect()
    val api = spark.table("tm").orderBy("id")
      .select(Exprs.dhash64(col("media")).as("h")).collect()
    assert(sql(0).getLong(0) == api(0).getLong(0))
    assert(sql(1).isNullAt(0) && api(1).isNullAt(0))
  }

  test("non-literal size parameter is rejected with a clear error") {
    Conf.ensure(spark)
    Seq(("a b c", 3)).toDF("text", "n").createOrReplaceTempView("t2")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(text, n) FROM t2").collect()
    }
    assert(e.getMessage.contains("literal integer"), e.getMessage)
  }

  test("Conf.ensure registers graft_* once per session: no replacement WARN on a second call") {
    val warns = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val session = spark.newSession() // a registry without the graft_* names
    Conf.ensure(session)
    root.addAppender(appender)
    try Conf.ensure(session) finally { root.removeAppender(appender); appender.stop() }
    val replaced = warns.asScala.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    assert(session.sql("SELECT graft_simhash('the quick brown fox')").collect().head.getLong(0) ==
      spark.sql("SELECT graft_simhash('the quick brown fox')").collect().head.getLong(0))
  }
}
