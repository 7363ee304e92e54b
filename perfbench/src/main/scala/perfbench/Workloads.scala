package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sinks.{HttpSink, TtlLeaderboard}
import graft.streaming.{Fanout, StreamLicense, StreamPii, StreamReadability}

/** What a workload hands back from its timed phase. Times are in
  * milliseconds relative to the harness's clock origin (`Clock`). */
final case class Timed(startMs: Double, endMs: Double, fields: Map[String, Any])

/** Shared monotonic clock: every time the harness records is in ms since
  * the JVM started the benchmark, so JVM-side and receiver-side times
  * compare directly. Epoch times (Spark's own timestamps) are converted
  * through the epoch offset taken at start. */
object Clock {
  val originNanos: Long = System.nanoTime()
  val originEpochMs: Double = System.currentTimeMillis().toDouble
  def nowMs: Double = (System.nanoTime() - originNanos) / 1e6
  def fromEpochMs(epochMs: Double): Double = epochMs - originEpochMs
  def sleepUntilMs(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      Thread.sleep(math.max(1L, math.min(left.toLong, 50L)))
      left = ms - nowMs
    }
  }
}

trait Workload {
  /** One warm-up pass on small inputs; `i` numbers the set-up. */
  def warmup(spark: SparkSession, i: Int): Unit
  /** The timed phase. */
  def run(spark: SparkSession, trace: Boolean): Timed
  /** Traced-run extras measured after the timed phase. */
  def traceExtras(spark: SparkSession): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, work: Path, params: Map[String, String]): Workload = name match {
    case "fanout_live" => new FanoutLive(work, params)
    case "fanout_catchup" => new FanoutCatchup(work, params)
    case "resident_gates" => new ResidentGates(work, params)
    case "query_suite" => new QueryLoop(work, params)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def dir(p: Path): String = { Files.createDirectories(p); p.toString }

  /** Copy every file of `from` into `to` atomically (copy aside, rename). */
  def stageAll(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val files = Files.list(from).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    files.foreach { f =>
      val aside = to.resolve("." + f.getFileName.toString + ".tmp")
      Files.copy(f, aside, StandardCopyOption.REPLACE_EXISTING)
      Files.move(aside, to.resolve(f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def textStream(spark: SparkSession, dir: String, maxFiles: Option[Int]): DataFrame = {
    val r = spark.readStream
    maxFiles.foreach(n => r.option("maxFilesPerTrigger", n.toLong))
    r.text(dir).selectExpr("value as json")
  }

  def drain(q: StreamingQuery): Unit = { q.processAllAvailable(); q.stop() }

  def leaderboardDump(lb: TtlLeaderboard): Map[String, Any] = Map(
    "counts" -> lb.topK(Int.MaxValue).map { case (k, c) => Seq(k, c) },
    "top10" -> lb.topK(10).map { case (k, c) => Seq(k, c) })

  /** True when `top` is ordered by count descending, then key ascending. */
  def topKOrdered(top: Seq[(String, Long)]): Boolean =
    top.zip(top.drop(1)).forall { case ((k1, c1), (k2, c2)) =>
      c1 > c2 || (c1 == c2 && k1 < k2)
    }
}

/** Open-loop live fan-out: tick files staged by the generator are renamed
  * into the watched directory on a fixed schedule; all three sinks run; a
  * dashboard poller reads `topK(10)` on its own fixed schedule. */
final class FanoutLive(work: Path, p: Map[String, String]) extends Workload {
  private val ticks = p("ticks").toInt
  private val tickMs = p("tick_ms").toDouble
  private val triggerMs = p("trigger_ms").toLong
  private val pollMs = p("poll_ms").toLong
  private val expected = p("expected_valid").toInt
  private val dimPath = work.resolve("dim").toString

  private def config(root: Path, lb: TtlLeaderboard, endpoint: String, trigger: Long) =
    Fanout.Config(
      checkpointDir = root.resolve("ckpt").toString,
      analyticsDir = Some(root.resolve("analytics").toString),
      leaderboard = Some(lb),
      http = Some(HttpSink.Config(endpoint)),
      triggerMs = trigger)

  def warmup(spark: SparkSession, i: Int): Unit = {
    val root = work.resolve(s"warm-$i")
    val in = root.resolve("in")
    Workload.stageAll(work.resolve("warmup"), in)
    val recv = new Receiver(Clock.originNanos)
    try {
      // one file per micro-batch, each about one live batch in size
      val q = Fanout.start(Workload.textStream(spark, in.toString, Some(1)),
        spark.read.parquet(dimPath), config(root, new TtlLeaderboard(), recv.endpoint, 0L))
      Workload.drain(q)
    } finally recv.stop()
  }

  def run(spark: SparkSession, trace: Boolean): Timed = {
    val root = work.resolve("run")
    val in = Workload.dir(root.resolve("in"))
    val staged = work.resolve("staged")
    val recv = new Receiver(Clock.originNanos)
    val lb = if (trace) new TimedLeaderboard else new TtlLeaderboard()
    val q = Fanout.start(Workload.textStream(spark, in, None),
      spark.read.parquet(dimPath), config(root, lb, recv.endpoint, triggerMs))
    // let the query settle on its empty source, then start the schedule
    // 50 ms after a trigger: processing-time triggers fire on multiples of
    // the interval since the epoch, so every run meets the same phase
    val settled = Clock.originEpochMs + Clock.nowMs + 1000
    val t0 = Clock.fromEpochMs(math.ceil(settled / triggerMs) * triggerMs + 50)
    val late = new Array[Double](ticks)
    val polls = new AtomicLong(0L)
    val disordered = new AtomicLong(0L)
    val poller = Executors.newSingleThreadScheduledExecutor()
    poller.scheduleAtFixedRate(() => {
      val top = lb.topK(10)
      polls.incrementAndGet()
      if (!Workload.topKOrdered(top)) disordered.incrementAndGet()
      ()
    }, (t0 - Clock.nowMs).toLong.max(0L), pollMs, TimeUnit.MILLISECONDS)
    // the generator runs on this thread: rename tick i at t0 + i * tick
    (0 until ticks).foreach { i =>
      val due = t0 + i * tickMs
      Clock.sleepUntilMs(due)
      val name = f"tick-$i%05d.json"
      Files.move(staged.resolve(name), java.nio.file.Paths.get(in, name),
        StandardCopyOption.ATOMIC_MOVE)
      late(i) = Clock.nowMs - due
    }
    // drain: wait for every valid event to reach the receiver
    val deadline = Clock.nowMs + 60000
    while (recv.distinctKeys < expected && Clock.nowMs < deadline) Thread.sleep(20)
    val end = Clock.nowMs
    poller.shutdown()
    poller.awaitTermination(10, TimeUnit.SECONDS)
    q.stop()
    recv.stop()
    val hits = recv.hits.asScala.toSeq
    Files.writeString(root.resolve("receiver.json"), Json.write(hits.map(h =>
      Seq(h.key, h.body, h.recvNanos / 1e6))))
    Files.writeString(root.resolve("leaderboard.json"), Json.write(
      Workload.leaderboardDump(lb) ++ Map("polls" -> polls.get, "disordered" -> disordered.get)))
    val lbFields: Map[String, Any] = lb match {
      case t: TimedLeaderboard => Map(
        "increment_calls" -> t.incrementCalls.get, "increment_ns" -> t.incrementNanos.get,
        "topk_calls" -> t.topKCalls.get, "topk_ns" -> t.topKNanos.get)
      case _ => Map.empty
    }
    Timed(t0, end, Map(
      "t0_ms" -> t0, "tick_ms" -> tickMs, "late_ms" -> late.toSeq,
      "receiver_requests" -> recv.requests.get,
      "receiver_handler_ns" -> recv.handlerNanos.get,
      "query_ids" -> Map(q.id.toString -> "fanout"),
      "leaderboard" -> lbFields))
  }

  /** Besides the parse/enrich layer, the traced run times the batch query
    * layer, which no listed workload runs end to end: one warm pass over the
    * query list, after a pass that writes every result for the oracle
    * check. */
  override def traceExtras(spark: SparkSession): Map[String, Any] = {
    val enrich = Enrichment.measure(spark, work.resolve("run").resolve("in").toString, dimPath)
    val star = work.resolve("star").toString
    val queries = QuerySuite.names(p)
    QuerySuite.dump(spark, star, queries, work.resolve("results"))
    Map("enrich" -> enrich, "queries" -> QuerySuite.fields(QuerySuite.pass(spark, star, queries)))
  }
}

/** `Fanout.enriched` alone (parse + enrich) over the same input files,
  * written to the `noop` sink: the parse/enrich layer without any sink. */
object Enrichment {
  def measure(spark: SparkSession, inDir: String, dimPath: String): Map[String, Any] = {
    spark.sparkContext.setJobGroup("enrich", "Fanout.enriched to noop")
    try {
      val raw = spark.read.text(inDir).selectExpr("value as json").cache()
      val lines = raw.count()
      val times = (0 until 5).map { _ =>
        val t = System.nanoTime()
        Fanout.enriched(raw, spark.read.parquet(dimPath)).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t) / 1e6
      }
      raw.unpersist()
      Map("lines" -> lines, "ms" -> times)
    } finally spark.sparkContext.clearJobGroup()
  }
}

/** Catch-up after an outage: a pre-staged backlog of equal files drained
  * one file per micro-batch through parquet and the leaderboard, by a
  * freshly started query per round. */
final class FanoutCatchup(work: Path, p: Map[String, String]) extends Workload {
  private val rounds = p("rounds").toInt
  private val dimPath = work.resolve("dim").toString

  private def round(spark: SparkSession, root: Path, backlog: String,
                    lb: TtlLeaderboard): StreamingQuery =
    Fanout.start(Workload.textStream(spark, backlog, Some(1)), spark.read.parquet(dimPath),
      Fanout.Config(
        checkpointDir = root.resolve("ckpt").toString,
        analyticsDir = Some(root.resolve("analytics").toString),
        leaderboard = Some(lb),
        triggerMs = 0L))

  def warmup(spark: SparkSession, i: Int): Unit = {
    val root = work.resolve(s"warm-$i")
    val in = root.resolve("in")
    Workload.stageAll(work.resolve("warmup"), in)
    Workload.drain(round(spark, root, in.toString, new TtlLeaderboard()))
  }

  def run(spark: SparkSession, trace: Boolean): Timed = {
    val backlog = work.resolve("backlog").toString
    val starts = mutable.ArrayBuffer.empty[Double]
    val ids = mutable.Map.empty[String, Any]
    val lbFields = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.nowMs
    (0 until rounds).foreach { r =>
      val root = work.resolve(s"run-$r")
      val lb = if (trace) new TimedLeaderboard else new TtlLeaderboard()
      starts += Clock.nowMs
      val q = round(spark, root, backlog, lb)
      ids(q.id.toString) = s"fanout:$r"
      Workload.drain(q)
      Files.writeString(root.resolve("leaderboard.json"), Json.write(Workload.leaderboardDump(lb)))
      lb match {
        case t: TimedLeaderboard => lbFields += Map(
          "increment_calls" -> t.incrementCalls.get, "increment_ns" -> t.incrementNanos.get,
          "topk_calls" -> t.topKCalls.get, "topk_ns" -> t.topKNanos.get)
        case _ => ()
      }
    }
    Timed(t0, Clock.nowMs, Map("round_starts_ms" -> starts.toSeq, "query_ids" -> ids.toMap,
      "leaderboard_rounds" -> lbFields.toSeq))
  }

  /** Besides the parse/enrich layer, the traced run times the resident
    * gates, which no listed workload runs end to end: one pass over a small
    * document backlog, after a warm-up pass. */
  override def traceExtras(spark: SparkSession): Map[String, Any] = {
    val enrich = Enrichment.measure(spark, work.resolve("backlog").toString, dimPath)
    val gates = new ResidentGates(work.resolve("gates"), Map("rounds" -> "1"))
    gates.warmup(spark, 0)
    Map("enrich" -> enrich, "gates" -> gates.run(spark, trace = true).fields)
  }
}

/** Resident quarantine gates in series: a backlog of documents drained one
  * file per micro-batch through `StreamPii`; its admitted corpus through
  * `StreamLicense`; that corpus through `StreamReadability`. */
final class ResidentGates(work: Path, p: Map[String, String]) extends Workload {
  private val rounds = p("rounds").toInt
  private val docSchema = "doc_id BIGINT, text STRING"
  private val corpusSchema = "doc_id BIGINT, text STRING, _batch BIGINT"

  private def chain(spark: SparkSession, root: Path, docs: String,
                    ids: mutable.Map[String, Any], r: Int): Unit = {
    def d(gate: String, part: String) = root.resolve(gate).resolve(part).toString
    def corpusStream(dir: String) =
      spark.readStream.schema(corpusSchema).option("maxFilesPerTrigger", 1L)
        .parquet(dir).select("doc_id", "text")
    val q1 = StreamPii.start(
      spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1L).json(docs),
      d("pii", "corpus"), d("pii", "quarantine"), d("pii", "ckpt"))
    ids(q1.id.toString) = s"pii:$r"
    Workload.drain(q1)
    val q2 = StreamLicense.start(corpusStream(d("pii", "corpus")),
      d("license", "corpus"), d("license", "quarantine"), d("license", "ckpt"))
    ids(q2.id.toString) = s"license:$r"
    Workload.drain(q2)
    val q3 = StreamReadability.start(corpusStream(d("license", "corpus")),
      d("readability", "corpus"), d("readability", "quarantine"), d("readability", "ckpt"))
    ids(q3.id.toString) = s"readability:$r"
    Workload.drain(q3)
  }

  def warmup(spark: SparkSession, i: Int): Unit = {
    val root = work.resolve(s"warm-$i")
    val in = root.resolve("in")
    Workload.stageAll(work.resolve("warmup"), in)
    chain(spark, root, in.toString, mutable.Map.empty, -1)
  }

  def run(spark: SparkSession, trace: Boolean): Timed = {
    val starts = mutable.ArrayBuffer.empty[Double]
    val ids = mutable.Map.empty[String, Any]
    val t0 = Clock.nowMs
    (0 until rounds).foreach { r =>
      starts += Clock.nowMs
      chain(spark, work.resolve(s"run-$r"), work.resolve("docs").toString, ids, r)
    }
    Timed(t0, Clock.nowMs, Map("round_starts_ms" -> starts.toSeq, "query_ids" -> ids.toMap))
  }
}
