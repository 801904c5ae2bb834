package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming "latest row per key" via Spark 4's `transformWithState` —
  * the streaming twin of [[graft.telemetry.Telemetry.dedupLatest]], and
  * the downstream view the reference's at-least-once delivery demands
  * (duplicate or out-of-order re-sends must never regress the served
  * value; SURVEY §1 "dedup-latest is a first-class query pattern").
  *
  * Semantics: an update-mode changelog of the per-(user, event_type)
  * latest event. A batch emits AT MOST one row per key — the new
  * winner — and only when the winner actually changed; replayed
  * duplicates and stale arrivals emit nothing (idempotent under
  * at-least-once upstream). Ordering is (event-time, event_id), the
  * same total order every batch twin uses, so replay after checkpoint
  * recovery converges to the identical view.
  *
  * Why transformWithState (the one stateful API every streaming op
  * here uses): the state TTL is declarative — RocksDB
  * expires idle keys itself (`TTLConfig`), so abandoned keys cost
  * nothing and state stays bounded by ACTIVE key cardinality without
  * hand-written timeout plumbing. State is one row per key; the stream
  * shuffles once on the key.
  */
object StreamingLatest {

  case class Event(user_id: Long, event_type: String, event_id: Long,
                   ts: Timestamp, value: Double)
  case class LatestRow(user_id: Long, event_type: String, event_id: Long,
                       ts: Timestamp, value: Double)

  class LatestProcessor(ttl: Duration)
      extends StatefulProcessor[(Long, String), Event, LatestRow] {

    @transient private var latest: ValueState[LatestRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[LatestRow](
        "latest", Encoders.product[LatestRow],
        if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))

    private def key(r: LatestRow): (Long, Long) = (r.ts.getTime, r.event_id)

    override def handleInputRows(k: (Long, String), rows: Iterator[Event],
                                 timers: TimerValues): Iterator[LatestRow] = {
      val prev = if (latest.exists()) Some(latest.get()) else None
      var best = prev
      rows.foreach { e =>
        val cand = LatestRow(e.user_id, e.event_type, e.event_id, e.ts, e.value)
        if (best.forall(b => Ordering[(Long, Long)].gt(key(cand), key(b))))
          best = Some(cand)
      }
      if (best != prev) { latest.update(best.get); Iterator.single(best.get) }
      else {
        // winner unchanged, but the key IS seeing traffic: re-write the
        // state so a configured TTL refreshes. Otherwise a key receiving
        // only duplicate/stale re-sends would expire despite ongoing
        // traffic, and the next stale replay would emit as a "new"
        // winner — regressing the served value (never-regress contract).
        if (ttl != null && best.isDefined) latest.update(best.get)
        Iterator.empty
      }
    }
  }

  /** Update-mode latest view. `ttl` bounds state for idle keys
    * (processing-time based, the TTLConfig contract); pass `null` for
    * no expiry. Requires the RocksDB state store provider — the only
    * backend implementing transformWithState.
    *
    * TimeMode follows the TTL choice: ProcessingTime mode makes the
    * engine trigger batches CONTINUOUSLY (TTL eviction and timers need
    * clock-driven batches even with no data), which is correct for a
    * long-running deployment but never quiesces — so without a TTL the
    * operator runs in TimeMode.None and batches fire only on data. */
  def latestView(events: Dataset[Event],
                 ttl: Duration = Duration.ofHours(1)): Dataset[LatestRow] = {
    implicit val keyEnc: Encoder[(Long, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    implicit val outEnc: Encoder[LatestRow] = Encoders.product[LatestRow]
    val mode = if (ttl == null) TimeMode.None() else TimeMode.ProcessingTime()
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new LatestProcessor(ttl), mode, OutputMode.Update())
  }
}
