package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event entering streaming sessionization. */
case class SessionEvent(user_id: Long, ts: Timestamp, event_type: String)

/** Open-session accumulator held in keyed state: constant size per key
  * (four longs), so operator memory is O(#active users) regardless of
  * throughput. */
case class OpenSession(start: Long, last: Long, nEvents: Long,
    nPurchases: Long)

/** Closed-session output row — the exact column set of the batch
  * session-window query ([[graft.operators.Relational.userSessions]]). */
case class SessionRow(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, n_purchases: Long,
    converted: Boolean)

/** Streaming sessionization as explicit keyed state — the
  * `flatMapGroupsWithState` twin of the batch
  * `session_window(ts, gap)` aggregate. A user's events fold into one
  * open session; an event at or past `last + gap` closes it (emitted
  * downstream) and opens the next. The session's reported end is
  * `last + gap`, matching Spark's session-window convention (window
  * end exclusive: an event exactly at the end starts a NEW session).
  *
  * Unreachable sessions flush by EVENT-TIME timeout: once the
  * watermark passes `last + gap` no event can extend the session
  * (anything earlier is beyond the watermark), so the timeout fires
  * and the final session emits. This is the piece the windowed-agg
  * form gets for free and custom state must do explicitly — without
  * it, each user's last session is held forever.
  *
  * Scale: state is hash-partitioned by user in the state store;
  * per-key size is constant, timeouts garbage-collect idle users, and
  * the emitted rows are append-only (no result rewrites downstream).
  * Within-trigger order is enforced by sorting each group's batch;
  * CROSS-trigger order is the watermark's job — an event older than a
  * closed session would be dropped as late in any engine. */
object SessionState {

  /** 30-minute gap, shared with the batch twin's default. */
  val gapMs: Long = 30L * 60L * 1000L
  private val gapUs: Long = gapMs * 1000L

  private[streaming] def toRow(userId: Long, s: OpenSession): SessionRow =
    SessionRow(userId, tsOf(s.start), tsOf(s.last + gapUs),
      s.nEvents, s.nPurchases, s.nPurchases > 0)

  /** The pure session fold: sorted events extend or close the open
    * session; returns the surviving open session plus the sessions
    * closed by this batch. */
  private[streaming] def fold(start: Option[OpenSession],
      rows: Iterator[SessionEvent]): (Option[OpenSession], Seq[OpenSession]) = {
    var open = start
    val closed = Seq.newBuilder[OpenSession]
    rows.toSeq.sortBy(e => usOf(e.ts)).foreach { e =>
      val t = usOf(e.ts)
      val p = if (e.event_type == "purchase") 1L else 0L
      open match {
        // strict <: an event exactly at last + gap is outside the
        // (end-exclusive) session window and must open a new one
        case Some(s) if t < s.last + gapUs =>
          open = Some(OpenSession(s.start, math.max(s.last, t),
            s.nEvents + 1, s.nPurchases + p))
        case Some(s) =>
          closed += s
          open = Some(OpenSession(t, t, 1L, p))
        case None =>
          open = Some(OpenSession(t, t, 1L, p))
      }
    }
    (open, closed.result())
  }

  /** The session's flush point in ms (rounded up so the µs tail can't
    * fire a hair early), clamped above the current watermark because
    * the store rejects timeouts at or behind it (a group whose gap
    * already expired mid-trigger flushes on the next one). */
  private[streaming] def flushAtMs(s: OpenSession, watermarkMs: Long): Long =
    math.max(Math.floorDiv(s.last + gapUs + 999L, 1000L), watermarkMs + 1)

  /** Pure per-key transition, shared by streaming and tests. */
  def transition(userId: Long, rows: Iterator[SessionEvent],
      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(toRow(userId, _)).iterator
      state.remove()
      out
    } else {
      val (open, closed) = fold(state.getOption, rows)
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(flushAtMs(s, state.getCurrentWatermarkMs()))
      }
      closed.map(toRow(userId, _)).iterator
    }
  }

  /** Attach sessionization to a watermarked stream of events. */
  def sessionize(events: Dataset[SessionEvent],
      delay: String = "0 seconds"): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(transition _)
  }
}
