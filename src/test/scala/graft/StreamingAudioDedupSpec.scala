package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.llm.AudioOps
import graft.streaming.StreamingAudioDedup
import graft.streaming.StreamingAudioDedup.{Clip, DupEdge}

/** Streaming acoustic near-dup: the band-bucket first-holder state must
  * reproduce the BATCH fingerprint computation's collision structure —
  * stream and batch share the decode + energy-delta kernel verbatim. */
class StreamingAudioDedupSpec extends SparkSpec {

  test("streamed clips reproduce the batch band-collision structure") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the SAME planted corpus the batch miner reads (fpWavs), split in
    // doc_id order across two micro-batches
    val clips = AudioOps.fpWavs(spark, sf).collect()
      .map(r => Clip(r.doc_id, r.wav)).sortBy(_.doc_id)
    // ground truth from the batch fingerprints: per band bucket, every
    // member except the smallest doc_id is an edge to that smallest
    // (doc_id-ordered batches make the stream's first holder the
    // global bucket minimum)
    val fps = AudioOps.fingerprints(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp"))
    val want = fps
      .flatMap { case (id, fp) =>
        AudioOps.fpBands(fp).map { case (b, v) => s"$b:$v" -> id } }
      .groupBy(_._1).values
      .flatMap { members =>
        val ids = members.map(_._2).sorted
        ids.tail.filter(_ != ids.head).map(DupEdge(_, ids.head))
      }.toSet
    val (batch1, batch2) = clips.splitAt(clips.length / 2)

    withRocksDb {
      val input = MemoryStream[Clip]
      val q = StreamingAudioDedup.nearDups(input.toDS())
        .writeStream.format("memory").queryName("audiodedup_out")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        input.addData(batch1.toIndexedSeq)
        q.processAllAvailable()
        input.addData(batch2.toIndexedSeq)
        q.processAllAvailable()
        val got = spark.sql("select * from audiodedup_out")
          .as[DupEdge].collect().toSet
        assert(got === want)
        // the planted pairs are in there: same-seed clips always share
        // a band (their fingerprints are equal or Hamming 1), so every
        // seed group reports its non-minimum members against SOME
        // earlier holder
        val reported = got.map(_.doc_id)
        clips.map(_.doc_id).groupBy(_ / 3).values
          .filter(_.length >= 2)
          .foreach { g =>
            g.sorted.tail.foreach(id =>
              assert(reported(id), s"planted member $id not flagged"))
          }
      } finally q.stop()
    }
  }
}
