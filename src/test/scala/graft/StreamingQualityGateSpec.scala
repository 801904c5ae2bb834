package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.streaming.StreamingQualityGate

/** The streaming curation front door: batch-identical Gopher scoring,
  * accept/reject routing with auditable reasons, exactly-once batch
  * processing across restarts. */
class StreamingQualityGateSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def writeDocs(dir: String, name: String, docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"${t.replace("\"", "\\\"")}"}"""
    }.mkString("\n")
    Files.write(Paths.get(s"$dir/$name"), lines.getBytes("UTF-8"))
    ()
  }

  test("gate routes accept/reject with reasons, exactly once across restarts") {
    val base = tempDir("graft-qgate")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))
    val good = "the quick brown fox jumps over the lazy dog and then some more words"
    writeDocs(srcDir, "d1.json", Seq(
      1L -> good,
      2L -> "hi there",                        // too few words
      3L -> "aa bb cc dd ee ff gg hh"))        // short words + no stopwords

    def docsStream = spark.readStream.schema(docSchema).json(srcDir)
    def runOnce(): Unit =
      StreamingQualityGate.run(docsStream, s"$base/accept", s"$base/reject",
        s"$base/chk").awaitTermination()
    runOnce()

    val accept = spark.read.parquet(s"$base/accept")
    val reject = spark.read.parquet(s"$base/reject")
    assert(accept.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
    // the accepted row still carries the scoring metrics but no verdict cols
    assert(accept.columns.contains("n_words") &&
           !accept.columns.contains("keep") &&
           !accept.columns.contains("reject_reason"))
    val reasons = reject.select("doc_id", "reject_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons(2L) === "too_few_words")
    assert(reasons(3L) === "word_length")

    // streaming verdicts == the batch query's verdicts on the same docs
    val batchKeep = StreamingQualityGate.score(
        spark.read.schema(docSchema).json(s"$srcDir/d1.json"))
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchKeep === Map(1L -> 1L, 2L -> 0L, 3L -> 0L))

    // restart with no new input: nothing duplicated
    runOnce()
    assert(spark.read.parquet(s"$base/accept").count() === 1)
    assert(spark.read.parquet(s"$base/reject").count() === 2)

    // new file: only the delta lands
    writeDocs(srcDir, "d2.json", Seq(
      4L -> good,
      5L -> "x"))
    runOnce()
    assert(spark.read.parquet(s"$base/accept")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 4L))
    assert(spark.read.parquet(s"$base/reject").count() === 3)
  }
}
