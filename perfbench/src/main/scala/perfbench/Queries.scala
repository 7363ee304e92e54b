package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** A fixed list of `SparkEntry.queries` over the benchmark's generated star
  * schema. Each execution runs warm, to the `noop` sink, with caches cleared
  * first and under the job group `query:<name>`, so the traced run can tie
  * every job to its query. */
object QuerySuite {
  /** One execution per query; returns (name, start ms, end ms) on the
    * harness clock. */
  def pass(spark: SparkSession, star: String, names: Seq[String]): Seq[(String, Double, Double)] =
    names.map { n =>
      spark.catalog.clearCache()
      spark.sparkContext.setJobGroup(s"query:$n", n)
      try {
        val start = Clock.nowMs
        SparkEntry.queries(n)(spark, star).write.format("noop").mode("overwrite").save()
        (n, start, Clock.nowMs)
      } finally spark.sparkContext.clearJobGroup()
    }

  /** Every query's result as parquet under `out/<name>`, and the oracle SQL
    * of each in `out/oracle_sql.json`, for the DuckDB check. */
  def dump(spark: SparkSession, star: String, names: Seq[String], out: Path): Unit = {
    Files.createDirectories(out)
    spark.sparkContext.setJobGroup("query-check", "query results for the oracle check")
    try names.foreach { n =>
      SparkEntry.queries(n)(spark, star).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(n).toString)
      spark.catalog.clearCache()
    } finally spark.sparkContext.clearJobGroup()
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.write(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
  }

  def names(p: Map[String, String]): Seq[String] = p("queries").split(",").toSeq

  def fields(runs: Seq[(String, Double, Double)]): Map[String, Any] =
    Map("query_runs" -> runs.map { case (n, s, e) => Seq(n, s, e) })
}

/** Closed loop over the query list: whole passes until `seconds` have
  * elapsed. Run by hand; the benchmark's listed workloads time the same list
  * once, in `fanout_catchup`'s traced run. */
final class QueryLoop(work: Path, p: Map[String, String]) extends Workload {
  private val star = work.resolve("star").toString
  private val seconds = p("seconds").toDouble
  private val queries = QuerySuite.names(p)

  def warmup(spark: SparkSession, i: Int): Unit = { QuerySuite.pass(spark, star, queries); () }

  def run(spark: SparkSession, trace: Boolean): Timed = {
    QuerySuite.dump(spark, star, queries, work.resolve("results"))
    val runs = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val t0 = Clock.nowMs
    while (runs.isEmpty || Clock.nowMs - t0 < seconds * 1000) runs ++= QuerySuite.pass(spark, star, queries)
    Timed(t0, Clock.nowMs, QuerySuite.fields(runs.toSeq))
  }
}
