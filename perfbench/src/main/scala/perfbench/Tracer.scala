package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records every finished micro-batch of every streaming query: its
  * trigger start, `durationMs` breakdown and input rows. Untraced runs use
  * it too, because micro-batch commit times are what catch-up latency is
  * measured against. */
final class ProgressRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(Map(
      "query_id" -> p.id.toString,
      "batch" -> p.batchId,
      "start_ms" -> startMs,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    ()
  }

  def dump: Seq[Map[String, Any]] = batches.asScala.toSeq
}

/** The traced run's Spark-side recorder: every job (with the micro-batch,
  * streaming query, job group and SQL execution it ran under), every
  * stage's task metrics, and every SQL execution's plan head, so each job
  * can be attributed to the layer that issued it. */
final class Tracer extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Any]]()
  /** Events recorded so far (lets the harness wait for the bus to drain). */
  val events = new java.util.concurrent.atomic.AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new java.util.Properties())
    def prop(k: String): String = p.getProperty(k)
    jobs.put(e.jobId, Map(
      "job" -> e.jobId,
      "start_ms" -> e.time,
      "stages" -> e.stageIds,
      "batch" -> Option(prop("streaming.sql.batchId")).map(_.toLong),
      "query_id" -> Option(prop("sql.streaming.queryId")),
      "group" -> Option(prop("spark.jobGroup.id")),
      "execution" -> Option(prop("spark.sql.execution.id")).map(_.toLong),
      "call_site" -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time)
    events.incrementAndGet()
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages.add(Map(
      "stage" -> s.stageId,
      "tasks" -> s.numTasks,
      "start_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
    events.incrementAndGet()
    ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, Map(
        "execution" -> s.executionId,
        "root" -> s.rootExecutionId.getOrElse(s.executionId),
        "start_ms" -> s.time,
        "plan" -> s.physicalPlanDescription.linesIterator.take(40).mkString("\n")))
      ()
    case _ => ()
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int]).map { j =>
      j + ("end_ms" -> Option(jobEnds.get(j("job").asInstanceOf[Int])).getOrElse(j("start_ms")))
    },
    "stages" -> stages.asScala.toSeq,
    "executions" -> executions.values.asScala.toSeq)
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }
}
