package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.TwsSessions
import graft.streaming.TwsSessions.{ClosedSession, SessionEvent}

/** The transformWithState sessionizer: in-batch gap splits,
  * timer-driven closes on watermark, stale-timer safety. */
class TwsSessionsSpec extends SparkSpec {

  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private def ts(minutes: Long): Timestamp = new Timestamp(base + minutes * 60000L)

  test("tws sessions: in-batch gap split, timer close, timer re-arm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[SessionEvent]
      val q = TwsSessions.sessionize(input.toDS())
        .writeStream.format("memory").queryName("tws_sessions_out")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      def got(): Seq[ClosedSession] =
        spark.sql("select * from tws_sessions_out").as[ClosedSession].collect().toSeq
      try {
        // in-batch gap: burst, >30min hole, second burst → first closes now
        input.addData(
          SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(5), 2.0),
          SessionEvent(1L, ts(60), 3.0),
          SessionEvent(7L, ts(60), 0.0)) // watermark driver
        q.processAllAvailable()
        assert(got().count(_.user_id == 1L) === 1)
        assert(got().find(_.user_id == 1L).get.n_events === 2L)

        // user 1 extends its open session BEFORE the old timer fires —
        // the re-armed timer must supersede (no premature close)
        input.addData(SessionEvent(1L, ts(80), 4.0),
                      SessionEvent(7L, ts(85), 0.0))
        q.processAllAvailable()
        assert(got().count(_.user_id == 1L) === 1)

        // watermark sails past last + gap → timer fires, session closes
        input.addData(SessionEvent(7L, ts(300), 0.0))
        q.processAllAvailable()
        input.addData(SessionEvent(7L, ts(600), 0.0))
        q.processAllAvailable()
        val u1 = got().filter(_.user_id == 1L).sortBy(_.session_start.getTime)
        assert(u1.length === 2)
        assert(u1(1).session_start === ts(60))
        assert(u1(1).session_end === ts(80))
        assert(u1(1).n_events === 2L)
        assert(u1(1).sum_value === 7.0)
      } finally q.stop()
    }
  }

  test("tws and fmgws sessionizers agree on a replayed stream") {
    // the flatMapGroupsWithState twin is retired: the replayed stream
    // answers to the batch reference, tel_sessionize, after every batch
    val events = (0 until 120).map { i =>
      StreamingParity.Ev(i.toLong, ts(i * 7L), (i % 5).toLong, "view", i.toDouble)
    } :+ StreamingParity.Ev(120L, ts(3000), 99L, "view", 0.0) // final watermark driver
    assert(StreamingParity.sessions(this, events.grouped(30).toSeq).nonEmpty)
  }
}
