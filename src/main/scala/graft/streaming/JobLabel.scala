package graft.streaming

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs a block launches. Every job of a micro-batch
  * otherwise shows only its query's `start` call site, so a profile or
  * the UI cannot tell one sink's jobs from another's. The label is the
  * job description (`spark.job.description`); the previous description
  * (the stream's per-batch one) comes back afterwards. Job groups are
  * left alone: they belong to whoever drives the session, and a bench
  * attributes jobs by group. */
private[streaming] object JobLabel {
  private val Key = "spark.job.description"

  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    try body finally sc.setLocalProperty(Key, prev) // null removes it
  }
}
