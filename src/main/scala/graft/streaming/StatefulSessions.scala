package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Sessionize]]: gap-based sessions
  * over an unbounded stream via `flatMapGroupsWithState` — per-user state
  * is one small struct, emitted and cleared when the gap (or a processing
  * -time state timeout) closes the session. State size is O(active
  * users), not O(events): the 100 TB-safe shape. Without the timeout a
  * user's final session would never flush and idle-user state would grow
  * without bound.
  */
object StatefulSessions {

  case class Event(user_id: Long, ts_sec: Long)
  case class SessionState(start: Long, end: Long, n: Long)
  case class ClosedSession(user_id: Long, sess_start: Long, sess_end: Long,
                           n_events: Long)

  def sessionize(events: Dataset[Event], gapSec: Long)
                (implicit spark: SparkSession): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(update(gapSec))
  }

  /** Batch of events for one user → closed sessions; open session stays in
    * state with a `gapSec` processing-time timeout — when it fires (no
    * events arrived within the gap) the session is emitted and the state
    * evicted. Events inside one trigger are sorted locally (bounded by
    * the trigger's data, not the stream). A row that arrives a trigger
    * late, older than the open session's end, widens the session when
    * it lies no more than `gapSec` before its start, as the batch
    * [[graft.operators.Sessionize]] would place it; a row further back
    * is dropped as watermark-late (the [[StreamGaps]] contract), since
    * the session it belongs to may already be emitted. */
  private[graft] def update(gapSec: Long)(
      userId: Long, it: Iterator[Event],
      state: GroupState[SessionState]): Iterator[ClosedSession] = {
    if (state.hasTimedOut) {
      // idle past the gap: flush the open session and evict the state
      val out = state.getOption.map(s =>
        ClosedSession(userId, s.start, s.end, s.n)).iterator
      state.remove()
      return out
    }
    val sorted = it.toArray.sortBy(_.ts_sec)
    var cur = state.getOption
    val closed = Seq.newBuilder[ClosedSession]
    sorted.foreach { e =>
      cur match {
        case Some(s) if e.ts_sec < s.end =>
          if (e.ts_sec >= s.start - gapSec)
            cur = Some(SessionState(math.min(s.start, e.ts_sec), s.end, s.n + 1))
        case Some(s) if e.ts_sec - s.end <= gapSec =>
          cur = Some(SessionState(s.start, e.ts_sec, s.n + 1))
        case Some(s) =>
          closed += ClosedSession(userId, s.start, s.end, s.n)
          cur = Some(SessionState(e.ts_sec, e.ts_sec, 1))
        case None =>
          cur = Some(SessionState(e.ts_sec, e.ts_sec, 1))
      }
    }
    cur match {
      case Some(s) =>
        state.update(s)
        state.setTimeoutDuration(gapSec * 1000)
      case None => state.remove()
    }
    closed.result().iterator
  }
}
