package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingAnomaly
import graft.streaming.StreamingAnomaly.{Alert, MetricEvent}

class StreamingAnomalySpec extends SparkSpec {

  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private def ts(minutes: Long): Timestamp = new Timestamp(base + minutes * 60000L)

  test("alerts fire on >=3-sigma spikes against the prior baseline only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[MetricEvent]
      val alerts = StreamingAnomaly.alerts(input.toDS(), minN = 30)
      val q = alerts.writeStream.format("memory").queryName("anomaly_out")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // batch 1: 40 well-behaved points on two series (slight alternation
        // keeps sd > 0); no alerts expected — and the "quiet" series never
        // alerts no matter what "cpu" does (key isolation).
        val baseline = (0 until 40).flatMap { i =>
          val v = if (i % 2 == 0) 10.0 else 10.4
          Seq(MetricEvent("cpu", i.toLong, ts(i), v),
              MetricEvent("quiet", 1000L + i, ts(i), 5.0))
        }
        input.addData(baseline: _*)
        q.processAllAvailable()
        assert(spark.sql("select * from anomaly_out").count() === 0)

        // batch 2: a spike on cpu, plus more normal points AFTER it in
        // event time — prequential scoring still flags only the spike
        // (the spike itself never joins the baseline it is judged by).
        input.addData(
          MetricEvent("cpu", 100L, ts(40), 50.0),
          MetricEvent("cpu", 101L, ts(41), 10.0),
          MetricEvent("cpu", 102L, ts(42), 10.4),
          MetricEvent("quiet", 1100L, ts(40), 5.0))
        q.processAllAvailable()
        val got = spark.sql("select * from anomaly_out").as[Alert].collect()
        assert(got.map(_.event_id).toSet === Set(100L))
        assert(got.head.series === "cpu")
        assert(got.head.n_baseline === 40L)
        assert(math.abs(got.head.z) > 3.0)

        // batch 3: warmed-up state persists across batches — a second
        // spike alerts with the larger baseline count.
        input.addData(MetricEvent("cpu", 200L, ts(50), -30.0))
        q.processAllAvailable()
        val again = spark.sql("select * from anomaly_out").as[Alert].collect()
        assert(again.map(_.event_id).toSet === Set(100L, 200L))
        val second = again.find(_.event_id == 200L).get
        assert(second.z < -3.0)
        assert(second.n_baseline === 43L)
      } finally q.stop()
    }
  }
}
