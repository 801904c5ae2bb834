package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingNearDup
import graft.streaming.StreamingNearDup.{Doc, DupEdge}

/** Streaming MinHash/LSH near-dup: band-bucket first-holder state must
  * reproduce the BATCH band computation's collision structure exactly —
  * stream and batch share the same shingle/permutation/band kernel. */
class StreamingNearDupSpec extends SparkSpec {

  test("streamed corpus reproduces the batch band-collision edges exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ground truth from the BATCH signature pass: per band bucket, every
    // member except the smallest doc_id is a dup edge to that smallest.
    // Batches are split by doc_id, so the streaming first-holder is
    // always the global bucket minimum.
    val sigs = graft.llm.Dedup.signatures(spark, sf)
      .collect().map(s => s.doc_id -> s.bands)
    val want = sigs
      .flatMap { case (id, bands) => bands.distinct.map(_ -> id) }
      .groupBy(_._1).values
      .flatMap { members =>
        val ids = members.map(_._2).sorted
        ids.tail.map(DupEdge(_, ids.head))
      }.toSet
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, t) => Doc(id, t) }.sortBy(_.doc_id)
    val (batch1, batch2) = docs.splitAt(docs.length / 2)

    withRocksDb {
      val input = MemoryStream[Doc]
      val q = StreamingNearDup.nearDups(input.toDS())
        .writeStream.format("memory").queryName("neardup_out")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        input.addData(batch1.toIndexedSeq)
        q.processAllAvailable()
        input.addData(batch2.toIndexedSeq)
        q.processAllAvailable()
        val got = spark.sql("select * from neardup_out")
          .as[DupEdge].collect().toSet
        assert(got === want)
      } finally q.stop()
    }
  }

  test("cross-batch near-duplicates are flagged; unrelated docs are not") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val nearDup = base.replaceFirst("lazy", "sleepy") // high shingle overlap
    val unrelated = (1 to 64).map(i => s"token$i word$i item$i").mkString(" ")
    withRocksDb {
      val input = MemoryStream[Doc]
      val q = StreamingNearDup.nearDups(input.toDS())
        .writeStream.format("memory").queryName("neardup_syn")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        input.addData(Doc(1L, base), Doc(9L, unrelated))
        q.processAllAvailable()
        input.addData(Doc(5L, nearDup))
        q.processAllAvailable()
        val got = spark.sql("select * from neardup_syn").as[DupEdge]
          .collect().toSet
        assert(got.contains(DupEdge(5L, 1L)),
          "near-dup arriving a batch later must collide with the holder")
        assert(!got.exists(e => e.doc_id == 9L || e.first_doc_id == 9L),
          "unrelated doc must not appear in any edge")
      } finally q.stop()
    }
  }
}
