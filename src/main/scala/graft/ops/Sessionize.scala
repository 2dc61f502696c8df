package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization: group a keyed event stream into sessions separated by
  * an inactivity gap — the batch analogue of the reference's capture
  * session building with per-type inactivity timeouts
  * (reference: capture/session.c:407-543, timeouts capture/config.c:518-523).
  *
  * Batch implementation is pure window functions (gaps-and-islands):
  * one shuffle on the key, no state store. The streaming implementation
  * ([[graft.streaming.StreamSessionize]]) shares the same session schema.
  *
  * Scale: the only shuffle is `partitionBy(key)`; skewed keys (one user
  * with millions of events) spill within a task — for 100 TB runs,
  * pre-bucketing the event table by key makes this shuffle-free.
  */
object Sessionize {

  /** Assign a session id per (key, gap) and aggregate one row per session.
    *
    * Output: key, session_seq (0-based per key), start_s/end_s (epoch
    * seconds, truncated), n_events, plus caller aggregates.
    */
  def sessionize(
      df: DataFrame,
      key: Column,
      ts: Column,
      tieBreak: Column,
      gapSeconds: Long,
      extraAggs: Map[String, Column] = Map.empty): DataFrame = {
    val withKey = df.withColumn("_key", key)
    val prev = lag(ts, 1).over(
      Window.partitionBy(col("_key")).orderBy(ts, tieBreak))
    val marked = withKey
      .withColumn("_new", when(
        prev.isNull || unix_timestamp(ts) - unix_timestamp(prev) > gapSeconds,
        1).otherwise(0))
    val numbered = marked.withColumn("_sid",
      sum(col("_new")).over(Window.partitionBy(col("_key"))
        .orderBy(ts, tieBreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
    val aggs = Seq(
      min(unix_timestamp(ts)).as("start_s"),
      max(unix_timestamp(ts)).as("end_s"),
      count(lit(1)).as("n_events")) ++
      extraAggs.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }
    numbered.groupBy(col("_key").as("key"), col("_sid").as("session_seq"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
