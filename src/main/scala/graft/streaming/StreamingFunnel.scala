package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming conversion funnel on `transformWithState` — the
  * streaming twin of [[graft.telemetry.Telemetry.funnel]]: each user
  * carries a 3-long state (first view / first qualifying click / first
  * qualifying purchase, −1 = unreached) and a conversion event streams
  * out the moment a stage first completes, with the same strictly-after
  * semantics as the batch operator.
  *
  * Scale shape: one shuffle on user_id, 24 bytes of state per user.
  * Events are folded in event-time order within each batch (out-of-
  * order arrivals inside a batch are handled exactly); a stage reached
  * in an earlier batch is never re-emitted, so downstream consumers see
  * each (user, stage) at most once.
  */
object StreamingFunnel {

  case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  /** Stage entry times in millis; −1 = stage unreached. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class Conversion(user_id: Long, stage: String, ts: Timestamp)

  class Processor extends StatefulProcessor[Long, FunnelEvent, Conversion] {

    @transient private var stages: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stages = getHandle.getValueState[FunnelState]("stages",
        Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, events: Iterator[FunnelEvent],
                                 timers: TimerValues): Iterator[Conversion] = {
      var st = if (stages.exists()) stages.get() else FunnelState(-1L, -1L, -1L)
      val out = scala.collection.mutable.ArrayBuffer.empty[Conversion]
      events.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        e.event_type match {
          case "view" if st.t1 < 0 =>
            st = st.copy(t1 = t)
            out += Conversion(userId, "1_view", e.ts)
          case "click" if st.t2 < 0 && st.t1 >= 0 && t > st.t1 =>
            st = st.copy(t2 = t)
            out += Conversion(userId, "2_click", e.ts)
          case "purchase" if st.t3 < 0 && st.t2 >= 0 && t > st.t2 =>
            st = st.copy(t3 = t)
            out += Conversion(userId, "3_purchase", e.ts)
          case _ => // stage already reached, out of order, or unknown type
        }
      }
      stages.update(st)
      out.iterator
    }
  }

  /** Append-mode conversion stream. Event-time mode, so the watermark
    * drops late events; requires the RocksDB state store. */
  def conversions(events: Dataset[FunnelEvent]): Dataset[Conversion] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[Conversion] = Encoders.product[Conversion]
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.EventTime(), OutputMode.Append())
  }
}
