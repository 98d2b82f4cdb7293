package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gap-based sessionization over an event stream: a new session starts when
  * the gap to the previous event of the same user exceeds `gapSeconds`.
  *
  * Batch formulation = lag + running sum over a per-user window: one hash
  * shuffle on the user key, then sorted within partitions — the canonical
  * scalable layout (users are independent; skewed power-users are bounded by
  * per-user event counts, and AQE skew-split covers the rest). The streaming
  * twin lives in [[graft.streaming.EventSessions]] via
  * `flatMapGroupsWithState`.
  */
object Sessionize {

  private def withSessionIds(events: DataFrame, userCol: String, tsCol: String,
      tieBreak: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val prev = lag(col(tsCol), 1).over(w)
    // The gap is a direct timestamp difference (DayTimeInterval), legal on
    // BOTH TIMESTAMP and TIMESTAMP_NTZ (the driver fixtures are µs-no-
    // timezone parquet → NTZ in Spark 4, which refuses a numeric cast).
    // Crucially this never converts NTZ through the session timezone: an
    // epoch-based gap (unix_micros(cast(ts AS TIMESTAMP))) is one hour
    // wrong across a DST transition in any non-UTC session. NTZ gaps are
    // wall-clock, LTZ gaps are instant-time — each correct in its domain.
    val isNew = when(
      prev.isNull ||
        (col(tsCol) - prev) > expr(s"INTERVAL '$gapSeconds' SECOND"),
      lit(1)).otherwise(lit(0))
    events
      .withColumn("session_seq", sum(isNew).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user session statistics: session count and event count. */
  def userSessionStats(events: DataFrame, userCol: String, tsCol: String,
      tieBreak: String, gapSeconds: Long): DataFrame =
    withSessionIds(events, userCol, tsCol, tieBreak, gapSeconds)
      .groupBy(col(userCol))
      .agg(max(col("session_seq")).cast(LongType).as("n_sessions"),
        count(lit(1)).as("n_events"))
}
