package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming sessionization on Spark 4's `transformWithState` — the
  * streaming twin of [[graft.telemetry.Telemetry.sessionize]]: a
  * session closes either on a gap inside a batch or when the event-time
  * watermark passes last_event + gap, expressed with explicit
  * EVENT-TIME TIMERS.
  *
  * Per open session the processor keeps one ValueState record and ONE
  * registered timer at last_event + gap; a newer event deletes and
  * re-registers the timer (the API requires explicit re-arming).
  * When the watermark passes the timer, `handleExpiredTimer` emits the
  * closed session and clears state. State per key is O(1); the stream
  * shuffles once on user_id; RocksDB owns the state files.
  */
object TwsSessions {

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class ClosedSession(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long,
                           sum_value: Double)

  val DefaultGapMs: Long = 30L * 60 * 1000

  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, SessionEvent, ClosedSession] {

    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    private def close(userId: Long, s: SessionState): ClosedSession =
      ClosedSession(userId, new Timestamp(s.start), new Timestamp(s.last),
        s.n, s.sum)

    override def handleInputRows(userId: Long, events: Iterator[SessionEvent],
                                 timers: TimerValues): Iterator[ClosedSession] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var cur = if (session.exists()) Some(session.get()) else None
      val prevTimer = cur.map(_.last + gapMs)
      events.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last > gapMs =>
            out += close(userId, s)
            cur = Some(SessionState(t, t, 1, e.value))
          case Some(s) =>
            cur = Some(SessionState(s.start, math.max(s.last, t),
              s.n + 1, s.sum + e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        session.update(s)
        val newTimer = s.last + gapMs
        if (!prevTimer.contains(newTimer)) {
          prevTimer.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(newTimer)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // a stale timer (re-armed after this one was queued) must not
      // close a session that has seen newer events
      if (session.exists()) {
        val s = session.get()
        if (s.last + gapMs <= info.getExpiryTimeInMs) {
          session.clear()
          return Iterator.single(close(userId, s))
        }
      }
      Iterator.empty
    }
  }

  def sessionize(events: Dataset[SessionEvent],
                 gapMs: Long = DefaultGapMs): Dataset[ClosedSession] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
