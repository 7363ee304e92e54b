package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It runs one workload over inputs that the
  * benchmark command (`run.py`) generated into `--work`, and writes the raw
  * measurements to `--work/result.json`; `run.py` checks the outputs and
  * turns the raw figures into metrics.
  *
  * Usage: perfbench.Main --workload NAME --work DIR --trace 0|1
  *          [--cores N] [--param k=v ...] */
object Main {
  /** Shuffle partitions: fixed, so every run does the same work. */
  val Partitions = 2
  /** Set-ups per run (session start + warm-up pass); `setup_s` is their median. */
  val Setups = 2
  def main(args: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    args.grouped(2).foreach {
      case Array("--param", kv) =>
        val Array(k, v) = kv.split("=", 2); params(k) = v
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val work = Paths.get(opts("work")).toAbsolutePath
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", "2").toInt
    val workload = Workload(opts("workload"), work, params.toMap)

    // set up `Setups` times; the last session stays up for the timed phase
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until Setups).foreach { i =>
      val t = System.nanoTime()
      spark = session(cores, work)
      workload.warmup(spark, i)
      setupS += (System.nanoTime() - t) / 1e9
      if (i < Setups - 1) stop(spark)
    }

    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val tracer = if (trace) Some(Tracer.install(spark)) else None

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threads = ManagementFactory.getThreadMXBean
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMillis
    threads.resetPeakThreadCount()
    val timed = workload.run(spark, trace)
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    val gcMs = gcMillis - gc0
    val threadsPeak = threads.getPeakThreadCount

    val extras = if (trace) workload.traceExtras(spark) else Map.empty[String, Any]
    settleListeners(progress, tracer)
    val result = Map(
      "workload" -> opts("workload"),
      "cores" -> cores,
      "partitions" -> Partitions,
      "setup_s" -> setupS.toSeq,
      "start_ms" -> timed.startMs,
      "end_ms" -> timed.endMs,
      "cpu_ms" -> cpuMs,
      "gc_ms" -> gcMs,
      "threads_peak" -> threadsPeak,
      "peak_rss_mb" -> peakRssMb,
      "epoch_origin_ms" -> Clock.originEpochMs,
      "batches" -> progress.dump,
      "trace" -> tracer.map(_.dump),
      "extras" -> extras) ++ timed.fields
    Files.writeString(work.resolve("result.json"), Json.write(result))
    stop(spark)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Partitions.toLong)
      .config("spark.default.parallelism", Partitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Conf.ensure(spark)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Listener events arrive asynchronously: wait until the recorders have
    * been quiet for a moment before reading them. */
  private def settleListeners(progress: ProgressRecorder, tracer: Option[Tracer]): Unit = {
    def size = progress.batches.size + tracer.map(_.events.get).getOrElse(0L)
    var last = -1L
    var now = size
    while (now != last) {
      Thread.sleep(300)
      last = now
      now = size
    }
  }
}
