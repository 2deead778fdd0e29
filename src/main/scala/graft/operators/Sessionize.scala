package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event stream (batch formulation).
  *
  * One shuffle on the user key; session assignment is a lag + running sum
  * inside each partition — the standard scalable shape (no driver state,
  * no per-user collect). The streaming twin lives in
  * [[graft.streaming.StatefulSessions]] (flatMapGroupsWithState); it
  * drops a row that arrives more than the gap before its open session.
  */
object Sessionize {

  /** Assign session ids per user: a new session starts when the gap to
    * the previous event exceeds `gapSec`. `tsSec` must be an integral
    * epoch-seconds column; `tieBreak` makes ordering total (events can
    * share a timestamp). */
  def withSessionIds(events: DataFrame, userCol: String, tsSec: Column,
                     tieBreak: Column, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsSec, tieBreak)
    val prev = lag(tsSec, 1).over(w)
    val newSession = when(prev.isNull || tsSec - prev > gapSec, 1).otherwise(0)
    events
      .withColumn("__ts_sec", tsSec)
      .withColumn("__new_s", newSession)
      .withColumn("session_id",
        sum(col("__new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__new_s")
  }

  /** Per-session rollup: event count and start/end seconds. */
  def sessions(events: DataFrame, userCol: String, tsSec: Column,
               tieBreak: Column, gapSec: Long): DataFrame =
    withSessionIds(events, userCol, tsSec, tieBreak, gapSec)
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__ts_sec")).as("sess_start"),
        max(col("__ts_sec")).as("sess_end"))
}
