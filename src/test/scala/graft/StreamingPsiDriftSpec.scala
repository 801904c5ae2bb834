package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingPsiDrift
import graft.streaming.StreamingPsiDrift.{Drift, Ev}

/** Streaming PSI: the live monitor replays bit-identically against a
  * from-scratch fold over the same warm-up cut, stays quiet on a
  * stationary stream, and ALARMS when the distribution genuinely
  * shifts — the semantic contract a drift detector exists for. */
class StreamingPsiDriftSpec extends SparkSpec {

  test("streamed PSI equals a from-scratch fold; shifted stream alarms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two synthetic series: 'stable' keeps its distribution; 'shifted'
    // multiplies values 8x after warm-up (a real regime change)
    def v(i: Int): Double = 1.0 + (i * 37 % 100)
    val warm = 300L
    val stable = (0 until 600).map(i => Ev("stable", i.toLong, v(i)))
    val shifted = (0 until 600).map { i =>
      Ev("shifted", i.toLong, if (i < 300) v(i) else v(i) * 8)
    }
    val all = (stable ++ shifted).toArray
    val half = all.length / 2
    // scramble the order WITHIN each batch (batch membership unchanged):
    // the processor must restore seq order itself — Spark gives no
    // per-key iterator-order guarantee — so the replica below, which
    // folds in seq order, only matches if the warm-up cut is pinned by
    // the processor's sort, not by feed order
    val rnd = new scala.util.Random(42)
    val batches = Seq(
      rnd.shuffle(all.take(half).toVector).toArray,
      rnd.shuffle(all.drop(half).toVector).toArray)
    // replica: warm-up = first `warm` positive values per key in SEQ
    // order (each key's events all sit in one batch here, so per-batch
    // seq order == global seq order)
    def replica(evs: Seq[Ev]): (Long, Double, Long, Long) = {
      val ref = scala.collection.mutable.Map.empty[Long, Long]
      val cur = scala.collection.mutable.Map.empty[Long, Long]
      var nRef = 0L; var nCur = 0L
      evs.foreach { e =>
        val b = graft.functions.DdsketchKernel.bucketIdx(e.value)
        if (nRef < warm) { ref(b) = ref.getOrElse(b, 0L) + 1; nRef += 1 }
        else { cur(b) = cur.getOrElse(b, 0L) + 1; nCur += 1 }
      }
      val (nb, psi) = StreamingPsiDrift.psiOf(ref.toMap, cur.toMap, nRef, nCur)
      (nb, psi, nRef, nCur)
    }
    withRocksDb {
      val input = MemoryStream[Ev]
      val q = StreamingPsiDrift.drifts(input.toDS(), warm)
        .writeStream.format("memory").queryName("psi_out")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        batches.foreach { b =>
          input.addData(b.toIndexedSeq)
          q.processAllAvailable()
        }
        val got = spark.sql(
          "select * from (select *, row_number() over " +
          "(partition by event_type order by n_cur desc) rn from psi_out) " +
          "where rn = 1")
          .drop("rn").as[Drift].collect()
          .map(d => d.event_type -> d).toMap
        Seq("stable" -> stable, "shifted" -> shifted).foreach {
          case (k, evs) =>
            val (nb, psi, nRef, nCur) = replica(evs)
            val d = got(k)
            assert((d.n_bins, d.psi, d.n_ref, d.n_cur) === ((nb, psi, nRef, nCur)),
              s"$k mismatch")
        }
        // semantic contract: quiet on stationary, loud on regime change
        assert(!got("stable").drifted,
          s"false alarm on stable stream (psi ${got("stable").psi})")
        assert(got("shifted").drifted,
          s"missed regime change (psi ${got("shifted").psi})")
        assert(got("shifted").psi > 5 * math.max(got("stable").psi, 1e-4))
      } finally q.stop()
    }
  }
}
