package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming z-score anomaly alerts on `transformWithState` — the
  * streaming twin of [[graft.telemetry.Telemetry.anomaly]]: each metric
  * series keeps running (n, Σ, Σ²) moments in state and every incoming
  * event is scored against the statistics of the events BEFORE it
  * (prequential scoring — the anomalous point never contaminates the
  * baseline it is judged against). Alerts stream out in append mode as
  * soon as the batch containing the offending event is processed.
  *
  * Scale shape: state is three longs per series (not per event — a
  * 100 TB stream with 10M series holds ~240 MB of state fleet-wide);
  * the stream shuffles once on the series key. Moments accumulate over
  * round(value·100) scaled integers, so state merges are exact and the
  * emitted z-scores are deterministic replays — identical after any
  * checkpoint recovery, exactly like the batch operator's oracle-exact
  * z-scores.
  */
object StreamingAnomaly {

  case class MetricEvent(series: String, event_id: Long, ts: Timestamp, value: Double)
  /** Exact integer moments over v100 = round(value·100). */
  case class SeriesStats(n: Long, s: Long, ss: Long)
  case class Alert(series: String, event_id: Long, ts: Timestamp,
                   value: Double, z: Double, n_baseline: Long)

  /** Score each event (in event-time order) against the prior
    * moments, then fold it in. Events arriving before `minN` baseline
    * points are absorbed silently (warmup). A zero-variance baseline
    * cannot be scored (z undefined) — such events only extend the
    * baseline. */
  class Processor(zThreshold: Double, minN: Long)
      extends StatefulProcessor[String, MetricEvent, Alert] {

    @transient private var stats: ValueState[SeriesStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle.getValueState[SeriesStats]("stats",
        Encoders.product[SeriesStats], TTLConfig.NONE)

    override def handleInputRows(series: String, events: Iterator[MetricEvent],
                                 timers: TimerValues): Iterator[Alert] = {
      var st = if (stats.exists()) stats.get() else SeriesStats(0L, 0L, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[Alert]
      events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val v = math.round(e.value * 100)
        if (st.n >= minN) {
          val n = st.n.toDouble
          val mean = st.s.toDouble / n
          val sd = math.sqrt((st.ss.toDouble - st.s.toDouble * st.s.toDouble / n) / (n - 1))
          if (sd > 0) {
            val z = (v - mean) / sd
            if (math.abs(z) >= zThreshold)
              out += Alert(series, e.event_id, e.ts, e.value, z, st.n)
          }
        }
        st = SeriesStats(st.n + 1, st.s + v, st.ss + v * v)
      }
      stats.update(st)
      out.iterator
    }
  }

  /** Append-mode alert stream. Event-time mode, so the watermark drops
    * late events; requires the RocksDB state store. */
  def alerts(events: Dataset[MetricEvent], zThreshold: Double = 3.0,
             minN: Long = 30): Dataset[Alert] = {
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val outEnc: Encoder[Alert] = Encoders.product[Alert]
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.series)
      .transformWithState(new Processor(zThreshold, minN),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
