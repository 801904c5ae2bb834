package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.{StreamingDedup, StreamingQualityGate}

/** The continuous LLM-curation pipeline COMPOSED end-to-end (r8): a
  * collector drops raw document batches → [[StreamingQualityGate]]
  * filters with auditable reasons → [[StreamingDedup]] admits each
  * distinct content hash once, across batches → the curated store.
  * Each stage is individually spec'd; this proves they CHAIN — stage
  * boundaries are parquet directories tailed by the next stage's file
  * source, so every hop keeps the checkpointed exactly-once batch
  * contract and stages can restart independently (the same decoupling
  * the sink/manifest layer gives the telemetry path). */
class CurationPipelineSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def writeDocs(dir: String, name: String, docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
    Files.write(Paths.get(s"$dir/$name"), lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  /** Save/restore the state-store provider around the test body — the
    * shared session must not leak RocksDB into later suites (same
    * helper as StreamingNearDupSpec). */
  test("collector drop → quality gate → streaming dedup → curated store") {
    import spark.implicits._
    withRocksDb {
    val base = tempDir("graft-curation")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))
    val good1 = "the quick brown fox jumps over a lazy dog in the garden every day"
    val good2 = "and when the dog finally woke up the fox was gone for good that time"
    // batch 1: two keepers (one duplicated in-batch), one reject
    writeDocs(srcDir, "b1.json", Seq(
      10L -> good1, 11L -> good1, 12L -> good2, 13L -> "x y"))

    def gateOnce(): Unit =
      StreamingQualityGate.run(
        spark.readStream.schema(docSchema).json(srcDir),
        s"$base/accept", s"$base/reject", s"$base/chk-gate").awaitTermination()
    def dedupOnce(): Unit = {
      val accepted = spark.readStream
        .schema(spark.read.parquet(s"$base/accept").schema)
        .parquet(s"$base/accept")
        .select($"doc_id", $"text").as[StreamingDedup.Doc]
      StreamingDedup.dedupStream(accepted).toDF()
        .writeStream
        .option("checkpointLocation", s"$base/chk-dedup")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/curated")
        .start().awaitTermination()
    }
    gateOnce(); dedupOnce()

    val curated = spark.read.parquet(s"$base/curated")
    // gate dropped 13; dedup kept the smallest doc_id of the 10/11 pair
    assert(curated.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(10L, 12L))

    // batch 2: a cross-batch duplicate of good1, a fresh keeper, junk
    writeDocs(srcDir, "b2.json", Seq(
      20L -> good1,
      21L -> "there will be many more documents arriving with the same kind of words",
      22L -> "zz"))
    gateOnce(); dedupOnce()

    val after = spark.read.parquet(s"$base/curated")
    // 20 is a duplicate of already-admitted content: dropped by keyed
    // state ACROSS the stage restart; 21 admitted; 22 gated out
    assert(after.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(10L, 12L, 21L))
    // content hashes in the curated store are unique — exactly-once
    // corpus membership end-to-end
    val hashes = after.select("content_md5").collect().map(_.getString(0))
    assert(hashes.length === hashes.distinct.length)

    // idle re-run: nothing changes anywhere
    gateOnce(); dedupOnce()
    assert(spark.read.parquet(s"$base/curated").count() === 3)
    }
  }

  test("curated store → streaming near-dup tail flags rewrites exact dedup admits") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    withRocksDb {
    val base = tempDir("graft-curation-nd")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))
    val original = "the committee reviewed all pending proposals during the morning " +
      "session and agreed that further analysis would be required before any " +
      "final decision could reach the board for approval next quarter"
    val unrelated = "heavy rainfall across the northern valleys filled every " +
      "reservoir beyond capacity while engineers monitored the dams and " +
      "prepared controlled releases for the downstream communities that evening"
    // a REWRITE: two word substitutions — different md5 (exact dedup
    // admits it) but near-identical shingle set (LSH must catch it)
    val rewrite = original.replace("morning", "evening")
      .replace("board", "panel")

    def gateOnce(): Unit =
      StreamingQualityGate.run(
        spark.readStream.schema(docSchema).json(srcDir),
        s"$base/accept", s"$base/reject", s"$base/chk-gate").awaitTermination()
    def dedupOnce(): Unit = {
      val accepted = spark.readStream
        .schema(spark.read.parquet(s"$base/accept").schema)
        .parquet(s"$base/accept")
        .select($"doc_id", $"text").as[StreamingDedup.Doc]
      StreamingDedup.dedupStream(accepted).toDF()
        .writeStream
        .option("checkpointLocation", s"$base/chk-dedup")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/curated")
        .start().awaitTermination()
    }
    // the near-dup TAIL: tails the ACCEPT stream (the curated store is
    // a hash view without text) in parallel with exact dedup — edges
    // flag later docs colliding with any earlier accepted content, and
    // the corpus view is curated minus flagged
    def nearDupOnce(): Unit = {
      val accepted = spark.readStream
        .schema(spark.read.parquet(s"$base/accept").schema)
        .parquet(s"$base/accept")
        .select($"doc_id", $"text").as[StreamingNearDup.Doc]
      StreamingNearDup.nearDups(accepted).toDF()
        .writeStream
        .option("checkpointLocation", s"$base/chk-neardup")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/neardup_edges")
        .start().awaitTermination()
    }

    writeDocs(srcDir, "b1.json", Seq(1L -> original, 2L -> unrelated))
    gateOnce(); dedupOnce(); nearDupOnce()
    assert(spark.read.parquet(s"$base/curated").count() === 2)
    assert(spark.read.parquet(s"$base/neardup_edges").count() === 0)

    writeDocs(srcDir, "b2.json", Seq(3L -> rewrite))
    gateOnce(); dedupOnce(); nearDupOnce()
    // exact dedup admitted the rewrite (content hash differs)...
    assert(spark.read.parquet(s"$base/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // ...and the near-dup tail flagged it against the original, so the
    // final corpus view drops it
    val edges = spark.read.parquet(s"$base/neardup_edges")
      .select("doc_id", "first_doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((3L, 1L)), s"rewrite not flagged; edges=$edges")
    assert(!edges.exists(e => e._1 == 2L || e._2 == 2L))
    val flagged = edges.map(_._1)
    val corpus = spark.read.parquet(s"$base/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet -- flagged
    assert(corpus === Set(1L, 2L))
    }
  }
}
