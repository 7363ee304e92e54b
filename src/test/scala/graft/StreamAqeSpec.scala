package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.ProcessingTimeTrigger
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{Fanout, StreamPii}

/** `Conf.ensure` turns adaptive execution off for stateless stream plans
  * only: batch queries and `foreachBatch` bodies still plan adaptively. */
class StreamAqeSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = Seq(("c-1", "podcast", Some(1800))).toDF("content_id", "content_type", "length_seconds")

  private def envelope(id: Long): String =
    s"""{"after":{"id":$id,"content_id":"c-1","user_id":"u","event_type":"play","event_ts":"2024-01-01 10:00:00","duration_ms":1000,"device":"web","raw_payload":"{}"},"op":"c"}"""

  private def adaptive(p: SparkPlan): Boolean =
    p.collectFirst { case a: AdaptiveSparkPlanExec => a }.nonEmpty

  test("a started Fanout plans its stream without adaptive execution") {
    assert(spark.conf.get("spark.sql.adaptive.streaming.stateless.enabled") == "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val tmp = Files.createTempDirectory("graft-stream-aqe").toString
    val q = Fanout.start(input.toDF().select(col("value").as("json")), dim,
      Fanout.Config(checkpointDir = s"$tmp/ckpt", analyticsDir = Some(s"$tmp/analytics"), triggerMs = 50L))
    val plan = try {
      input.addData(envelope(1), envelope(2)); q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
    assert(!adaptive(plan), plan.toString)
    assert(spark.read.parquet(s"$tmp/analytics").count() == 2)
  }

  test("batch queries and foreachBatch bodies still plan adaptively") {
    val shuffled = (1 to 20).toDF("k").groupBy($"k" % 3).count()
    assert(shuffled.collect().length == 3)
    assert(adaptive(shuffled.queryExecution.executedPlan))

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Int]
    val tmp = Files.createTempDirectory("graft-batch-aqe").toString
    val bodies = new ConcurrentLinkedQueue[Boolean]()
    val q = input.toDF().writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val agg: DataFrame = batch.groupBy($"value" % 3).count()
        agg.collect()
        bodies.add(adaptive(agg.queryExecution.executedPlan))
        ()
      }.start()
    try { input.addData(1 to 20); q.processAllAvailable() } finally q.stop()
    assert(bodies.asScala.toSeq == Seq(true))
  }

  test("Fanout and a gate keep their triggers through the one start") {
    implicit val ctx = spark.sqlContext
    def trigger(q: StreamingQuery) =
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger
    val tmp = Files.createTempDirectory("graft-stream-trigger").toString
    val fan = Fanout.start(MemoryStream[String].toDF().select(col("value").as("json")), dim,
      Fanout.Config(checkpointDir = s"$tmp/fan-ckpt", triggerMs = 3000L))
    try {
      val gate = StreamPii.start(MemoryStream[(Long, String)].toDF().toDF("doc_id", "text"),
        s"$tmp/corpus", s"$tmp/quarantine", s"$tmp/gate-ckpt")
      try {
        assert(trigger(fan) == ProcessingTimeTrigger(3000L))
        assert(trigger(gate) == ProcessingTimeTrigger(0L))
      } finally gate.stop()
    } finally fan.stop()
  }
}
