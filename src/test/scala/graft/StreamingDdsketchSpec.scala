package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingDdsketch
import graft.streaming.StreamingDdsketch.{Ev, Sketch}
import graft.telemetry.Telemetry

/** Streaming DDSketch: the MapState bucket counts accumulated across
  * micro-batches must reproduce the batch sketch EXACTLY — the
  * mergeable-representation guarantee (bucket adds commute), so batch
  * split points and arrival order cannot matter. */
class StreamingDdsketchSpec extends SparkSpec {

  test("streamed sketches equal the batch ddsketch after full replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sf)
      .selectExpr("event_type", "value").as[Ev].collect()
    // out-of-order arrival: value-sorted, NOT time-sorted — bucket
    // accumulation must not care
    val shuffled = events.sortBy(_.value)
    val third = shuffled.length / 3
    val batches = Seq(shuffled.take(third),
      shuffled.slice(third, 2 * third), shuffled.drop(2 * third))
    val want = Telemetry.ddsketch(spark, sf).collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n"),
        r.getAs[Long]("n_buckets_raw"), r.getAs[Long]("n_buckets_kept"),
        r.getAs[Long]("collapsed_n"), r.getAs[Double]("p50_est"),
        r.getAs[Double]("p95_est"), r.getAs[Double]("p99_est"),
        r.getAs[Long]("max_idx")))
    }.toMap
    withRocksDb {
      val input = MemoryStream[Ev]
      val q = StreamingDdsketch.sketches(input.toDS())
        .writeStream.format("memory").queryName("dd_out")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        batches.foreach { b =>
          input.addData(b.toIndexedSeq)
          q.processAllAvailable()
        }
        val got = spark.sql(
          "select * from (select *, row_number() over " +
          "(partition by event_type order by n desc) rn from dd_out) " +
          "where rn = 1")
          .drop("rn").as[Sketch].collect()
          .map(s => s.event_type -> ((s.n, s.n_buckets_raw, s.n_buckets_kept,
            s.collapsed_n, s.p50_est, s.p95_est, s.p99_est, s.max_idx)))
          .toMap
        assert(got === want)
        assert(got.nonEmpty)
      } finally q.stop()
    }
  }

  test("mid-stream read-outs are valid sketches of the data so far") {
    // pure-function check on the read-out used for every emission: a
    // prefix of the bucket map reads out with the same invariants the
    // batch spec asserts (kept ≤ m, mass conserved, estimates on the
    // √2 midpoint lattice)
    val bm = Map(0L -> 5L, 3L -> 2L, 10L -> 40L, 12L -> 9L, 14L -> 1L,
      15L -> 7L, 17L -> 3L, 20L -> 30L, 21L -> 2L, 22L -> 8L, 23L -> 1L,
      24L -> 4L, 25L -> 2L, 30L -> 1L)
    val s = StreamingDdsketch.readOut("k", bm, 12)
    assert(s.n === bm.values.sum)
    assert(s.n_buckets_raw === bm.size.toLong)
    assert(s.n_buckets_kept <= 12L)
    // mass conservation: everything below the 12 highest buckets
    // folded into the cutoff bucket
    assert(s.collapsed_n === bm.toSeq.sortBy(-_._1).drop(12).map(_._2).sum)
    val gamma1 = 1.0 + math.sqrt(2.0)
    Seq(s.p50_est, s.p95_est, s.p99_est).foreach { e =>
      val onLattice = (0L to 40L).exists { i =>
        math.abs(e - BigDecimal(2.0 * math.sqrt(math.pow(2.0, i.toDouble)) /
          gamma1 / 100.0).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12
      }
      assert(onLattice, s"estimate $e not on the √2 midpoint lattice")
    }
  }
}
