package graft

import java.sql.Timestamp

import graft.StreamingParity.Ev

/** The hand-built scenario of the retired flatMapGroupsWithState
  * sessionizer, run against TwsSessions and checked against
  * tel_sessionize after every micro-batch. */
class StatefulSessionsSpec extends SparkSpec {

  // Base well past epoch 0: an event at exactly the initial watermark
  // (epoch 0) is dropped as late by the stateful operator.
  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private def ts(minutes: Long): Timestamp = new Timestamp(base + minutes * 60000L)
  private def ev(id: Long, user: Long, minutes: Long, value: Double): Ev =
    Ev(id, ts(minutes), user, "view", value)

  test("sessions split on in-batch gaps and close via event-time timeout") {
    val closed = StreamingParity.sessions(this, Seq(
      // user 1: two bursts separated by > 30 min inside one batch →
      // first session closes immediately on the in-batch gap; user 7
      // drives the watermark
      Seq(ev(1, 1L, 0, 1.0), ev(2, 1L, 5, 2.0), ev(3, 1L, 60, 3.0),
          ev(4, 7L, 60, 0.0)),
      // the watermark passes user 1's open tail + gap → its timer
      // closes the second session
      Seq(ev(5, 7L, 300, 0.0)),
      Seq(ev(6, 7L, 600, 0.0))))
    val user1 = closed.filter(_.user_id == 1L).sortBy(_.session_start.getTime)
    assert(user1.map(s => (s.n_events, s.sum_value)) === Seq((2L, 3.0), (1L, 3.0)))
    assert(user1(1).session_start === ts(60))
  }
}
