package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.sortedIntersectCount

/** CROSS-MODAL caption↔image operators (r12): the image family
  * ([[ImageOps]], really-decoded PNG pixels) and the text family
  * ([[TextOps]]/[[Dedup]], the `documents` corpus) composed into the
  * joint ops a multimodal training-data pipeline runs — consistency
  * scoring against a stub joint-embedding model, joint (both-modality)
  * near-dup mining, and a two-modality curation matrix. Each document
  * doubles as a caption: `documents.text` is the caption of the
  * deterministic PNG [[ImageOps.images]] generates for the same
  * `doc_id` — the pairing a LAION-style (image, caption) corpus
  * ships natively.
  *
  * The model is STUBBED the way the repo's other learned components
  * are ([[TextOps]] fastText scorer, [[ImageOps]]'s analytic pixels):
  * the caption encoder is md5-derived — deterministic, SQL-replicable
  * — while the Spark-side plumbing (real PNG decode, banded joins,
  * exact integer scoring) is the production shape; swapping the stub
  * for a real CLIP tower changes one projection, not the plan.
  *
  * Scale shape: everything reduces each modality to per-doc integers
  * (quadrant sums, 64-bit hashes, shingle arrays) BEFORE any join —
  * media bytes and full texts never shuffle; pair mining is the
  * distinct-hash pigeonhole equi-join, never all-pairs. */
object CrossModal {

  /** Per-doc stub JOINT EMBEDDING + caption↔image consistency score —
    * the filter CLIP-score curation applies at corpus scale
    * (drop (image, caption) pairs whose modalities disagree).
    *
    * Image tower: the REALLY-decoded 8×8 luma plane reduced to 4
    * quadrant sums (16 px each, 0..4080) — an exact integer "pooled
    * patch embedding". Caption tower: bytes 0..3 of md5(text) scaled
    * ×16 to the same range. Consistency is the L1 distance between
    * the towers (exact integers, hash-green by construction);
    * `aligned` flags pairs under the curation threshold. */
  /** Image tower: the REALLY-decoded 8×8 luma plane reduced to 4
    * quadrant sums (16 px each, 0..4080) — shared by [[jointEmbed]]
    * and [[txtRetrieval]]. */
  private def imgTowers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ImageOps.images(spark, sfDir).mapPartitions { rows =>
      rows.map { r =>
        val (w, _, px) = ImageOps.decode(r.png)
        val q = new Array[Long](4)
        var i = 0
        while (i < px.length) {
          val quad = ((i / w) / 4) * 2 + (i % w) / 4
          q(quad) += px(i)
          i += 1
        }
        (r.doc_id, q(0), q(1), q(2), q(3))
      }
    }.toDF("doc_id", "q0", "q1", "q2", "q3")
  }

  /** Caption tower: bytes 0..3 of md5(text) scaled ×16 to the image
    * tower's range — shared by [[jointEmbed]] and [[txtRetrieval]]. */
  private def txtTowers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tCols = (0 until 4).map(k =>
      conv(substring($"h", 2 * k + 1, 2), 16, 10)
        .cast("long").as(s"t$k"))
    Tables.documents(spark, sfDir)
      .select($"doc_id", md5($"text").as("h"))
      .select(col("doc_id") +: tCols: _*)
  }

  def jointEmbed(spark: SparkSession, sfDir: String,
                 maxL1: Long = 6000L): DataFrame = {
    import spark.implicits._
    val img = imgTowers(spark, sfDir)
    val txt = txtTowers(spark, sfDir)
    img.join(txt, "doc_id")
      .withColumn("l1",
        abs($"q0" - $"t0" * 16) + abs($"q1" - $"t1" * 16) +
        abs($"q2" - $"t2" * 16) + abs($"q3" - $"t3" * 16))
      .withColumn("aligned", $"l1" <= maxL1)
      .select($"doc_id", $"q0", $"q1", $"q2", $"q3",
        $"t0", $"t1", $"t2", $"t3", $"l1", $"aligned")
  }

  /** JOINT near-dup pairs: candidates mined on the IMAGE side (aHash
    * 16-bit-band pigeonhole join over really-decoded pixels, hamming
    * ≤ `tau` — [[ImageOps.imgAhashPairs]]'s kernel), then VERIFIED on
    * the text side (word-3-gram Jaccard between the representative
    * docs' captions, exact micro-quantized integers via the codegen'd
    * two-pointer [[graft.functions.SortedIntersectCount]]).
    * `joint_dup` marks pairs duplicated in BOTH modalities — the drop
    * rule "discard a caption whose image is a perceptual dup AND whose
    * text is a near-dup" that protects caption diversity on shared
    * images (drop only one modality and you lose either distinct
    * captions of one image or distinct images of one caption).
    *
    * Scale: text verification touches only the image-candidate pairs —
    * the cheap modality gates the expensive one, so the Jaccard side
    * never sees the corpus-wide pair explosion. */
  def jointPairs(spark: SparkSession, sfDir: String,
                 tau: Int = 3, jaccMicro: Long = 200000L): DataFrame = {
    import spark.implicits._
    val pairs = ImageOps.imgAhashPairs(spark, sfDir, tau)
      .select($"doc_a", $"doc_b", $"hamming")
    val sh = Dedup.shingles(spark, sfDir).toDF()
      .select($"doc_id", $"sh", size($"sh").cast("long").as("n_sh"))
    pairs
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a"),
        $"n_sh".as("na")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b"),
        $"n_sh".as("nb")), "doc_b")
      .withColumn("inter", sortedIntersectCount($"sh_a", $"sh_b").cast("long"))
      // exact integer division on both engines (Spark `div`, DuckDB //)
      .withColumn("jacc_micro",
        expr("1000000 * inter div (na + nb - inter)"))
      .withColumn("joint_dup",
        $"hamming" <= 1 && $"jacc_micro" >= jaccMicro)
      .select($"doc_a", $"doc_b", $"hamming", $"inter",
        $"jacc_micro", $"joint_dup")
  }

  /** Caption→image RETRIEVAL eval (r17) — the contrastive-model eval
    * every (image, caption) corpus runs: for each query caption, rank
    * ALL images by tower L1 distance and report where the caption's
    * OWN image landed (`self_rank`, `hit_at_k`) — recall@k of paired
    * retrieval, the number a CLIP-style training run watches epoch
    * over epoch. Ranking is (l1, image_id)-lexicographic, exact
    * integers end to end.
    *
    * Signal caveat (documented, the [[graft.llm.SimOps.mrlRerank]]
    * discipline): the towers are STUBS — md5 captions vs pixel sums
    * share no learned structure, so self_rank is near-uniform here;
    * the pipeline's exactness is what's proven (oracle hash-green),
    * and swapping in real towers changes projections, not the plan.
    *
    * Scale shape: the query captions broadcast into one pass over the
    * image towers (the simTopkBruteforce shape) and `self_rank` is an
    * AGGREGATE — count of images strictly better than the paired one —
    * so no window, no top-k materialization, nothing beyond the one
    * narrow decode pass scales with the corpus. */
  def txtRetrieval(spark: SparkSession, sfDir: String,
                   nQueries: Int = 8, k: Int = 10): DataFrame = {
    import spark.implicits._
    val img = imgTowers(spark, sfDir)
    val q = txtTowers(spark, sfDir)
      .filter($"doc_id" < nQueries)
      .select($"doc_id".as("query_id"), $"t0", $"t1", $"t2", $"t3")
    // pin the one decode pass: scored is referenced by both the
    // self-distance probe and the counting aggregate
    val scored = img.join(broadcast(q))
      .withColumn("l1",
        abs($"q0" - $"t0" * 16) + abs($"q1" - $"t1" * 16) +
        abs($"q2" - $"t2" * 16) + abs($"q3" - $"t3" * 16))
      .select($"query_id", $"doc_id", $"l1")
      .localCheckpoint()
    val self = scored.filter($"doc_id" === $"query_id")
      .select($"query_id", $"l1".as("self_l1"))
    scored.join(broadcast(self), "query_id")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_images"),
           max($"self_l1").as("self_l1"),
           (lit(1L) + sum(when($"doc_id" =!= $"query_id" &&
               ($"l1" < $"self_l1" ||
                ($"l1" === $"self_l1" && $"doc_id" < $"query_id")), 1L)
             .otherwise(0L))).as("self_rank"))
      .withColumn("hit_at_k", $"self_rank" <= k)
      .select($"query_id", $"n_images", $"self_l1", $"self_rank",
        $"hit_at_k")
  }

  /** Cross-modal CURATION MATRIX: every (image-brightness × caption-
    * shortness) cell with counts and exact per-cell aggregates — the
    * 2×2 a curation run reads to decide joint drop rules ("dark image
    * AND short caption" is the junk cell; "dark image, rich caption"
    * often survives as a text-only document). The image dimension is
    * mean decoded luma below midscale (sum over 64 px < 64·127.5 —
    * the analytic pixels are never FLAT, so [[ImageOps.imgEntropy]]'s
    * flatness criterion would be a constant here; brightness is the
    * dimension with real signal on this corpus). Caption shortness is
    * a `n_chars` threshold on the text side. */
  def curationMatrix(spark: SparkSession, sfDir: String,
                     shortChars: Long = 200L): DataFrame = {
    import spark.implicits._
    val img = ImageOps.images(spark, sfDir).mapPartitions { rows =>
      rows.map { r =>
        val (_, _, px) = ImageOps.decode(r.png)
        (r.doc_id, px.map(_.toLong).sum)
      }
    }.toDF("doc_id", "sum_luma")
    val txt = Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
    img.join(txt, "doc_id")
      .groupBy(($"sum_luma" * 2 < 255L * 64).as("img_dark"),
               ($"n_chars" < shortChars).as("txt_short"))
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_chars").as("sum_chars"),
           sum($"sum_luma").as("sum_luma"),
           min($"doc_id").as("min_doc"))
  }
}
