package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.{Doc, Kept}

/** Streaming exact dedup: first-seen-wins by content hash, within and
  * across micro-batches, canonical smallest doc_id inside a batch —
  * agreement with the batch dedup_exact semantics. */
class StreamingDedupSpec extends SparkSpec {

  test("first-seen wins within and across batches; duplicates never re-emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[Doc]
      val q = StreamingDedup.dedupStream(input.toDS())
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      def got(): Seq[Kept] =
        spark.sql("select * from dedup_out").as[Kept].collect().toSeq
      try {
        // batch 1: a within-batch duplicate (doc 7 vs 3 — smallest id is
        // canonical even when it arrives later) and one unique doc
        input.addData(Doc(7L, "hello world"), Doc(3L, "hello world"),
                      Doc(5L, "something else"))
        q.processAllAvailable()
        assert(got().map(k => k.content_md5 -> k.doc_id).toMap ===
          Map(StreamingDedup.md5Hex("hello world") -> 3L,
              StreamingDedup.md5Hex("something else") -> 5L))

        // batch 2: cross-batch duplicates (replay of 3, new id with old
        // content) drop silently; a new doc emits
        input.addData(Doc(3L, "hello world"), Doc(99L, "hello world"),
                      Doc(8L, "fresh content"))
        q.processAllAvailable()
        assert(got().size === 3)
        assert(got().map(_.doc_id).toSet === Set(3L, 5L, 8L))

        // n_chars rides the canonical doc
        assert(got().find(_.doc_id == 3L).get.n_chars === 11L)
      } finally q.stop()
    }
  }

  test("seen-set survives a checkpointed restart: replayed content stays deduped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val ckpt = tempDir("dedup-restart")
      val input = MemoryStream[Doc]
      val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      def start() = StreamingDedup.dedupStream(input.toDS())
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Kept], _: Long) =>
          batch.collect().foreach(k => emitted.add(k.doc_id)); ()
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val q1 = start()
      try {
        input.addData(Doc(1L, "payload one"), Doc(2L, "payload two"))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(emitted.contains(1L) && emitted.contains(2L))
      emitted.clear()
      // restart: the RocksDB seen-set must carry — old content under a
      // NEW id stays suppressed, genuinely new content emits
      val q2 = start()
      try {
        input.addData(Doc(50L, "payload one"), Doc(51L, "payload three"))
        q2.processAllAvailable()
        assert(!emitted.contains(50L) && emitted.contains(51L))
      } finally q2.stop()
    }
  }

  test("streaming keep-set equals the batch dedup_exact canonical set") {
    StreamingParity.check(this, "StreamingDedup")
  }
}
