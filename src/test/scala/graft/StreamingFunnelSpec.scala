package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingFunnel
import graft.streaming.StreamingFunnel.{Conversion, FunnelEvent}

class StreamingFunnelSpec extends SparkSpec {

  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private def ts(minutes: Long): Timestamp = new Timestamp(base + minutes * 60000L)

  test("stages convert once, strictly after the previous stage, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[FunnelEvent]
      val conv = StreamingFunnel.conversions(input.toDS())
      val q = conv.writeStream.format("memory").queryName("funnel_out")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // user 1: click BEFORE any view (ignored), then view; the click
        // arrives out of order inside the batch but sorts first
        // user 2: purchase with no prior stages (ignored)
        input.addData(
          FunnelEvent(1L, ts(5), "view"),
          FunnelEvent(1L, ts(2), "click"),
          FunnelEvent(2L, ts(3), "purchase"))
        q.processAllAvailable()
        val b1 = spark.sql("select * from funnel_out").as[Conversion].collect()
        assert(b1.toSet === Set(Conversion(1L, "1_view", ts(5))))

        // next batch: click after the view converts; a second view and a
        // second click do NOT re-emit; purchase after click converts
        input.addData(
          FunnelEvent(1L, ts(10), "click"),
          FunnelEvent(1L, ts(11), "view"),
          FunnelEvent(1L, ts(12), "click"),
          FunnelEvent(1L, ts(20), "purchase"))
        q.processAllAvailable()
        val b2 = spark.sql("select * from funnel_out").as[Conversion].collect()
        assert(b2.toSet === Set(
          Conversion(1L, "1_view", ts(5)),
          Conversion(1L, "2_click", ts(10)),
          Conversion(1L, "3_purchase", ts(20))))

        // user 2 never converted anything — its ignored purchase left no state trail
        assert(!b2.exists(_.user_id == 2L))
      } finally q.stop()
    }
  }
}
