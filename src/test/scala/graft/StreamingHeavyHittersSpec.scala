package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingHeavyHitters
import graft.streaming.StreamingHeavyHitters.{Ev, HH}

/** Streaming Misra-Gries: bit-replayable against a from-scratch serial
  * fold over the same batch cuts, and the MG candidate-set guarantee
  * (every item with true freq > n/(k+1) survives) holds at the end of
  * the stream. */
class StreamingHeavyHittersSpec extends SparkSpec {

  private val K = 16

  test("streamed MG equals a serial replay and keeps every true hitter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sf)
      .selectExpr("event_type", "user_id as item").as[Ev].collect()
    val third = events.length / 3
    val batches = Seq(events.take(third), events.slice(third, 2 * third),
      events.drop(2 * third))
    // from-scratch serial fold: same batch cuts, same sorted-within-batch
    // order the processor prescribes
    val expect = scala.collection.mutable.Map
      .empty[String, (Long, scala.collection.mutable.LongMap[Long])]
    batches.foreach { b =>
      b.groupBy(_.event_type).foreach { case (k, rows) =>
        val (n0, buf) = expect.getOrElseUpdate(k,
          (0L, scala.collection.mutable.LongMap.empty[Long]))
        var n = n0
        rows.sortBy(_.item).foreach { e =>
          n += 1
          if (buf.contains(e.item)) buf(e.item) += 1L
          else if (buf.size < K) buf(e.item) = 1L
          else {
            val dead = scala.collection.mutable.ArrayBuffer.empty[Long]
            buf.foreachEntry((key, c) =>
              if (c == 1L) dead += key else buf(key) = c - 1L)
            dead.foreach(buf.remove)
          }
        }
        expect(k) = (n, buf)
      }
    }
    withRocksDb {
      val input = MemoryStream[Ev]
      val q = StreamingHeavyHitters.hitters(input.toDS(), K)
        .writeStream.format("memory").queryName("hh_out")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        batches.foreach { b =>
          input.addData(b.toIndexedSeq)
          q.processAllAvailable()
        }
        val got = spark.sql(
          "select * from (select *, max(n_seen) over " +
          "(partition by event_type) mx from hh_out) where n_seen = mx")
          .drop("mx").as[HH].collect()
          .groupBy(_.event_type)
          .map { case (k, hs) =>
            k -> (hs.head.n_seen, hs.map(h => h.item -> h.est).toMap)
          }
        val want = expect.map { case (k, (n, buf)) => k -> (n, buf.toMap) }.toMap
        assert(got === want)
        // the guarantee: true hitters (freq > n/(k+1)) all survived
        events.groupBy(_.event_type).foreach { case (k, rows) =>
          val n = rows.length
          rows.groupBy(_.item).foreach { case (item, is) =>
            if (is.length > n.toDouble / (K + 1))
              assert(got(k)._2.contains(item),
                s"true hitter $item of $k lost (${is.length}/$n)")
          }
        }
      } finally q.stop()
    }
  }
}
