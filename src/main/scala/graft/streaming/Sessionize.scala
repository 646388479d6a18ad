package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming: per-user sessionization over `events` with
  * `flatMapGroupsWithState` (SURVEY §2.10 extension scope — the stateful
  * API a continuous 100 TB ingest pipeline uses for session windows that
  * plain event-time windows can't express).
  *
  * A session closes when `gapMinutes` pass without an event from that
  * user; state per user is one (start, last, count) triple — bounded, and
  * evicted via event-time timeout as the watermark advances.
  */
object Sessionize {

  case class Event(user_id: Long, ts_us: Long, event_type: String)
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  def sessionize(events: Iterator[Event], gapUs: Long): Iterator[Session] = {
    // pure per-user fold: the reference the specs hold the streaming
    // sessionizers to
    val sorted = events.toSeq.sortBy(_.ts_us)
    val out = scala.collection.mutable.ArrayBuffer[Session]()
    var cur: Option[SessionState] = None
    sorted.foreach { e =>
      cur match {
        case Some(st) if e.ts_us - st.last <= gapUs =>
          cur = Some(st.copy(last = e.ts_us, n = st.n + 1))
        case Some(st) =>
          out += Session(e.user_id, st.start, st.last, st.n)
          cur = Some(SessionState(e.ts_us, e.ts_us, 1))
        case None =>
          cur = Some(SessionState(e.ts_us, e.ts_us, 1))
      }
    }
    cur.foreach(st => out += Session(sorted.head.user_id, st.start, st.last, st.n))
    out.iterator
  }

  /** Event arriving on the incremental path: real timestamp column so the
    * watermark (and event-time timeout) can track it. */
  case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)

  /** TRUE unbounded sessionization: state survives across micro-batches,
    * closed sessions are emitted as soon as a same-user event breaks the
    * gap, and the trailing open session is emitted when the EVENT-TIME
    * TIMEOUT fires — i.e. when the watermark passes `last + gap`, which is
    * exactly "no event for `gapMinutes` of event time". State per user is
    * one (start, last, n) triple — bounded regardless of stream length,
    * and evicted by the timeout, so a 100 TB/day ingest holds state only
    * for currently-active users. */
  def incremental(events: Dataset[TimedEvent], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000 * 1000
    val gapMs = gapMinutes.toLong * 60 * 1000
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, batch: Iterator[TimedEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new event: close the
            // open session and evict the state
            val st = state.get
            state.remove()
            Iterator(Session(user, st.start, st.last, st.n))
          } else {
            val evs = batch.toSeq
              .map(e => e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L)
              .sorted
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            var cur = state.getOption
            evs.foreach { us =>
              cur match {
                case Some(st) if us - st.last <= gapUs =>
                  // min/max, not overwrite: a late-but-in-watermark event
                  // from an earlier batch may sort BEFORE the open
                  // session's bounds — it must extend, never rewind them
                  cur = Some(SessionState(
                    math.min(st.start, us), math.max(st.last, us), st.n + 1))
                case Some(st) =>
                  out += Session(user, st.start, st.last, st.n)
                  cur = Some(SessionState(us, us, 1))
                case None =>
                  cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // fire once the watermark passes the gap; clamp above the
              // current watermark (required when replaying old data)
              state.setTimeoutTimestamp(
                math.max(st.last / 1000 + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
        })
  }
}
