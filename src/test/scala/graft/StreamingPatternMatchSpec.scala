package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingPatternMatch
import graft.streaming.StreamingPatternMatch.{Ev, PatternCounts}
import graft.telemetry.Telemetry

/** Streaming sequence-pattern detection: the O(1)-state automata must
  * reproduce the batch regex counts exactly when the corpus is replayed
  * chronologically across micro-batches. */
class StreamingPatternMatchSpec extends SparkSpec {

  test("streamed event replay reproduces the batch pattern counts exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) as ts", "event_id", "event_type")
      .as[Ev].collect().sortBy(e => (e.ts, e.event_id))
    // three chronological micro-batches (the ordered-replay contract)
    val third = events.length / 3
    val batches = Seq(events.take(third), events.slice(third, 2 * third),
                      events.drop(2 * third))
    val want = Telemetry.patternMatch(spark, sf).collect().map { r =>
      r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_vcp"),
         r.getAs[Long]("n_view_to_purchase"), r.getAs[Long]("n_double_error"))
    }.toMap
    withRocksDb {
      val input = MemoryStream[Ev]
      val q = StreamingPatternMatch.patternCounts(input.toDS())
        .writeStream.format("memory").queryName("pattern_out")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        batches.foreach { b =>
          input.addData(b.toIndexedSeq)
          q.processAllAvailable()
        }
        // per user, the LAST emitted row is the final counter state
        val got = spark.sql(
          "select * from (select *, row_number() over " +
          "(partition by user_id order by n_events desc) rn from pattern_out) " +
          "where rn = 1")
          .drop("rn").as[PatternCounts].collect()
          .map(p => p.user_id ->
            (p.n_events, p.n_vcp, p.n_view_to_purchase, p.n_double_error))
          .toMap
        assert(got === want)
      } finally q.stop()
    }
  }

  test("automaton counts equal Java-regex counts on adversarial strings") {
    // edge shapes: overlapping candidates, restarts, completed-char reuse
    val cases = Seq("vcp", "vvcp", "vcvcp", "vcpvcp", "eee", "eeee", "ee",
      "vpvp", "vvpp", "vcecp", "pvc", "", "v", "vc", "pppp", "vecp",
      "vcpeevcpee", "evcpe")
    def regexCount(s: String, p: String): Long = {
      val m = java.util.regex.Pattern.compile(p).matcher(s)
      var c = 0L; while (m.find()) c += 1; c
    }
    cases.foreach { s =>
      var st: (Long, Long, Int, Long, Boolean, Long, Int) =
        (0L, 0L, 0, 0L, false, 0L, 0)
      s.foreach(c => st = StreamingPatternMatch.step(st, c))
      assert(st._2 === regexCount(s, "vcp"), s"vcp on '$s'")
      assert(st._4 === regexCount(s, "v[^p]*p"), s"v[^p]*p on '$s'")
      assert(st._6 === regexCount(s, "ee"), s"ee on '$s'")
    }
  }
}
