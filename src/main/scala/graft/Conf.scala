package graft

import org.apache.spark.sql.SparkSession

/** Session configuration shared by every graft entry point.
  *
  * The reference runs Spark 3.5 where `spark.sql.ansi.enabled` defaults to
  * false (invalid casts yield NULL — reference pipeline/app.py:46-51 relies
  * on this for malformed CDC envelopes). This repo builds against Spark
  * 4.1.2 where ANSI defaults to true, so we pin the legacy semantics at
  * runtime. All of these are runtime-settable confs, so applying them to a
  * session the driver created is safe.
  *
  * It also routes `file:` through [[graft.io.ForkFreeLocalFs]]. Hadoop's
  * local filesystem, without the native `libhadoop` (the common case for
  * a pip or tarball Spark), starts a `chmod` process for every file and
  * directory it creates and two `readlink` processes for every
  * checkpoint rename: about 55 process starts, some 80 ms, per
  * 1,000-event fan-out micro-batch, most of it on the stream thread
  * between batches. The fork-free classes do the same with NIO calls, so
  * the swap is unconditional and has no option.
  *
  * Adaptive execution stays on for batch plans but is off for stateless
  * streaming plans (`spark.sql.adaptive.streaming.stateless.enabled`),
  * as Spark 3.5, the reference's engine, had it for every stream. The
  * fan-out's stream plan has one exchange, the dimension broadcast.
  * Adaptive execution turns it into a query stage run synchronously on
  * the stream thread, then re-optimizes and compiles a result stage:
  * about 60 ms more between the broadcast job and the first sink job on
  * every micro-batch (112-150 ms against 60-85 ms per catch-up batch,
  * 99-138 ms against 39-52 ms per live batch, on a 4-core host). The
  * `foreachBatch` bodies, the gate ledgers and the batch queries are
  * batch plans and still plan adaptively.
  */
object Conf {
  def ensure(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // Reference semantics: invalid cast -> NULL, not exception (app.py:46-51).
    c.set("spark.sql.ansi.enabled", "false")
    // Runtime re-planning: coalesce tiny shuffle partitions, handle skew.
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // ...but not for stateless stream plans (see above).
    c.set("spark.sql.adaptive.streaming.stateless.enabled", "false")
    // Deterministic timestamps for oracle comparison.
    c.set("spark.sql.session.timeZone", "UTC")
    // parquet TIMESTAMP(NANOS) (one of the events.ts shapes testdata has
    // shipped) cannot map to TimestampType in Spark 4
    // ([PARQUET_TYPE_ILLEGAL]); read it as Long nanos, which the dtype
    // dispatch in model.Tables.normalizeTs converts to microseconds.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // graft_* SQL functions (expr.Functions), registered once per session.
    graft.expr.Functions.register(spark)
    graft.io.ForkFreeLocalFs.install(spark)
    spark
  }
}
