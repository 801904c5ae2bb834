package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingHoltWinters
import graft.streaming.StreamingHoltWinters.{Ev, Forecast}

/** Streaming Holt-Winters: the incrementally-maintained (level, trend,
  * seasonals) state must be bit-identical to the batch fold over the
  * same closed hours when the corpus replays chronologically. */
class StreamingHoltWintersSpec extends SparkSpec {

  test("streamed hourly closes reproduce the batch Holt-Winters state exactly") {
    StreamingParity.check(this, "StreamingHoltWinters")
  }

  test("gap hours close as zero: sparse series match a dense-fold replica") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // synthetic sparse series: bursts with multi-hour gaps over 3 days
    val hour = 3600000000L
    val evs = (0 until 72).flatMap { h =>
      val cnt = if (h % 7 == 0) 3 else if (h % 11 == 0) 1 else 0
      Seq.fill(cnt)(Ev("sparse", h * hour + 1000L))
    } :+ Ev("sparse", 72 * hour) // sentinel closes hour 71
    // dense replica (same fold as the batch kernel)
    val xs = (0 until 72).map { h =>
      (if (h % 7 == 0) 3 else if (h % 11 == 0) 1 else 0).toDouble
    }.toArray
    val p = 24
    val l0 = xs.take(p).sum / p
    val b0 = (xs.slice(p, 2 * p).sum / p - l0) / p
    var m = Array(l0, b0) ++ xs.take(p).map(_ - l0)
    xs.drop(p).foreach { x =>
      // (1.0 - α) etc., NOT 0.7/0.9/0.8 literals: 1.0 − 0.3 is a
      // DIFFERENT double than 0.7 — the kernel computes the complement
      val l = (x - m(2)) * 0.3 + (m(0) + m(1)) * (1.0 - 0.3)
      val b = (l - m(0)) * 0.1 + m(1) * (1.0 - 0.1)
      val s = (x - l) * 0.2 + m(2) * (1.0 - 0.2)
      m = Array(l, b) ++ m.slice(3, 2 + p) ++ Array(s)
    }
    withRocksDb {
      val input = MemoryStream[Ev]
      val q = StreamingHoltWinters.forecasts(input.toDS(), p, 0L)
        .writeStream.format("memory").queryName("hw_sparse")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        input.addData(evs.toIndexedSeq)
        q.processAllAvailable()
        val f = spark.sql("select * from hw_sparse order by n_hours desc limit 1")
          .as[Forecast].collect().head
        assert(f.n_hours === 72L)
        assert(f.level === m(0) && f.trend === m(1) && f.s_next === m(2))
      } finally q.stop()
    }
  }
}
