package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** r16 optimization-equivalence pins: each rewritten operator is compared
  * row-for-row against its former (slower) DataFrame shape on the fixture,
  * so the speedup provably did not change what the query computes. */
class R16RewriteEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().map(_.toString).toSeq.sorted
  }

  test("dupNgramChars kernel matches the former 4-scan DataFrame shape") {
    // the pre-r16 pipeline, verbatim (explodes + window + joins)
    val d = Tables.documents(spark, sf)
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("toks"))
      .withColumn("n_tokens", size($"toks").cast("long"))
    val tk = d.select($"doc_id", posexplode($"toks").as(Seq("p", "w")))
      .select($"doc_id", $"p".cast("long").as("p"),
        (length($"w") + 1).cast("long").as("wl"))
    val tot = tk.groupBy($"doc_id").agg(sum($"wl").as("total_chars"))
    val top2 = d.filter($"n_tokens" >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, cast(n_tokens as int) - 2),
          |          i -> concat_ws(' ', slice(toks, i + 1, 2)))""".stripMargin))
        .as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"c".desc, $"g".asc)))
      .filter($"rn" === 1)
      .select($"doc_id",
        ($"c" * (length($"g") + 1)).cast("long").as("top2_chars"))
    val g5 = d.filter($"n_tokens" >= 5)
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, cast(n_tokens as int) - 5),
          |          i -> md5(concat_ws(' ', slice(toks, i + 1, 5))))""".stripMargin))
        .as(Seq("p", "h")))
      .select($"doc_id", $"p".cast("long").as("p"), $"h")
    val dupKeys = g5.groupBy($"doc_id", $"h")
      .agg(count(lit(1)).as("c")).filter($"c" > 1)
      .select($"doc_id", $"h")
    val covered = g5.join(dupKeys, Seq("doc_id", "h"))
      .select($"doc_id", explode(sequence($"p", $"p" + 4)).as("p"))
      .distinct()
      .join(tk, Seq("doc_id", "p"))
      .groupBy($"doc_id").agg(sum($"wl").as("dup5_chars"))
    val former = d.select($"doc_id", $"n_tokens")
      .join(tot, Seq("doc_id"))
      .join(top2, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .na.fill(0L, Seq("top2_chars", "dup5_chars"))
      .withColumn("top2_micro",
        round($"top2_chars" * lit(1e6) / $"total_chars", 0).cast("long"))
      .withColumn("dup5_micro",
        round($"dup5_chars" * lit(1e6) / $"total_chars", 0).cast("long"))
      .withColumn("keep",
        $"top2_micro" <= 200000L && $"dup5_micro" <= 150000L)

    val now = llm.TextOps.dupNgramChars(spark, sf)
    assert(now.columns.toSeq === former.columns.toSeq)
    assert(sortedRows(now) === sortedRows(former))
  }

  test("dupNgramChars kernel edge cases: short docs, within-doc repeats") {
    import java.nio.file.Files
    val dir = tempDir("graft-r16-dup")
    Seq(
      (0L, "", "en", "s0", 0L),                      // empty → 1 empty token
      (1L, "one", "en", "s0", 3L),                   // n=1: no 2/5-grams
      (2L, "a b", "en", "s0", 3L),                   // n=2: top2, no 5-grams
      (3L, "a b c d e a b c d e x", "en", "s0", 21L), // repeated 5-gram
      (4L, "w w w w w w", "en", "s0", 11L))           // overlapping repeats
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = llm.TextOps.dupNgramChars(spark, dir)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_tokens", $"total_chars", $"top2_chars",
        $"dup5_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows === Seq(
      (0L, 1L, 1L, 0L, 0L),
      (1L, 1L, 4L, 0L, 0L),
      (2L, 2L, 4L, 4L, 0L),
      // doc 3: "a b c d e" appears at 0 and 5 → covers positions 0..9
      // (10 tokens × 2 chars each = 20 covered chars); top2 "a b" ×2
      (3L, 11L, 22L, 8L, 20L),
      // doc 4: "w w" ×5 → top2 = 5·4; every 5-gram is "w w w w w" (×2)
      // → all 6 tokens covered
      (4L, 6L, 12L, 20L, 12L)))
  }

  test("dsirWeights n_tokens from the bucket aggregate matches the tokenizer") {
    val out = llm.TextOps.dsirWeights(spark, sf)
    val lens = Tables.documents(spark, sf).select($"doc_id",
      size(split(trim(lower($"text")), "\\s+")).cast("long").as("expected"))
    val bad = out.join(lens, "doc_id")
      .filter($"n_tokens" =!= $"expected").count()
    assert(bad === 0L)
  }

  test("lshRecall shared-signature arms match the standalone pipelines") {
    val exact = llm.Dedup.ngramJaccard(spark, sf)
    val lsh = llm.Dedup.minhashLsh(spark, sf)
      .select($"doc_a", $"doc_b").withColumn("captured", lit(1L))
    val former = exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket10", floor($"jaccard" * 10).cast("long"))
      .groupBy($"bucket10")
      .agg(count(lit(1)).as("n_exact"),
           sum(coalesce($"captured", lit(0L))).as("n_captured"))
      .withColumn("recall", $"n_captured".cast("double") / $"n_exact")
    val now = llm.Dedup.lshRecall(spark, sf)
    assert(sortedRows(now) === sortedRows(former))
  }
}
