package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingLatest
import graft.streaming.StreamingLatest.{Event, LatestRow}

class StreamingLatestSpec extends SparkSpec {

  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private def ts(minutes: Long): Timestamp = new Timestamp(base + minutes * 60000L)

  test("transformWithState latest view: emits only on change, idempotent on replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[Event]
      val q = StreamingLatest.latestView(input.toDS(), ttl = null)
        .writeStream.format("memory").queryName("latest_out")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      def got(): Seq[LatestRow] =
        spark.sql("select * from latest_out").as[LatestRow].collect().toSeq
      try {
        // batch 1: two keys; (1,view) sees two events — only the newest
        // emits, one row per key per batch
        input.addData(
          Event(1L, "view", 10L, ts(0), 1.0),
          Event(1L, "view", 11L, ts(5), 2.0),
          Event(2L, "click", 20L, ts(1), 9.0))
        q.processAllAvailable()
        assert(got().size === 2)
        assert(got().find(_.user_id == 1L).get.event_id === 11L)

        // batch 2: a STALE arrival (older event time) must not regress the
        // view and must not emit; an exact duplicate of the current winner
        // must not re-emit (at-least-once idempotence)
        input.addData(
          Event(1L, "view", 9L, ts(3), 0.5),
          Event(1L, "view", 11L, ts(5), 2.0))
        q.processAllAvailable()
        assert(got().size === 2)

        // batch 3: a genuinely newer event advances the view — exactly one
        // new changelog row, state carried across batches
        input.addData(Event(1L, "view", 12L, ts(9), 3.0))
        q.processAllAvailable()
        val rows = got()
        assert(rows.size === 3)
        val latest = rows.filter(r => r.user_id == 1L)
          .maxBy(r => (r.ts.getTime, r.event_id))
        assert(latest.event_id === 12L && latest.value === 3.0)

        // ts tie broken by event_id: same timestamp, higher id wins
        input.addData(Event(1L, "view", 13L, ts(9), 4.0))
        q.processAllAvailable()
        assert(got().size === 4)
        assert(got().filter(_.user_id == 1L).map(_.event_id).max === 13L)
      } finally q.stop()
    }
  }

  test("transformWithState state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val ckpt = tempDir("tws-restart")
      val input = MemoryStream[Event]
      // the memory sink cannot recover a checkpoint — collect emissions via
      // foreachBatch (which can) into a driver-side buffer
      val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      def start() = StreamingLatest.latestView(input.toDS(), ttl = null)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[LatestRow], _: Long) =>
          batch.collect().foreach(r => emitted.add(r.event_id)); ()
        }
        .outputMode("update").option("checkpointLocation", ckpt).start()
      val q1 = start()
      try {
        input.addData(Event(1L, "view", 10L, ts(0), 1.0))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(emitted.contains(10L))
      emitted.clear()
      // restart from the checkpoint: RocksDB state must carry, so a STALE
      // arrival still loses and a newer one still wins
      val q2 = start()
      try {
        input.addData(
          Event(1L, "view", 9L, ts(-5), 0.5),  // stale vs restored state
          Event(1L, "view", 12L, ts(9), 3.0))  // genuinely newer
        q2.processAllAvailable()
        // post-restart batch emitted exactly ONE change (the newer event);
        // the stale event did NOT regress the restored state
        assert(!emitted.contains(9L) && emitted.contains(12L))
      } finally q2.stop()
    }
  }
}
