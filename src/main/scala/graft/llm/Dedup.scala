package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.{bagBound, cosineSim, sortedIntersectCount}

/** Near-duplicate detection for training-data pipelines (SURVEY.md §2.3):
  * MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Signature computation (shingling, hashing, 64 MinHash permutations)
  * is a tight per-row loop — that's typed `mapPartitions` territory:
  * JIT-compiled primitive-array code, one pass, no shuffle, ~50× faster
  * than the equivalent interpreted higher-order expressions. Everything
  * relational (band join, candidate verification, pair aggregation)
  * stays in DataFrame ops so Catalyst owns the distribution.
  *
  * Scale shape: cost is O(rows) for signatures plus O(candidate pairs)
  * for verification — never O(rows²). The LSH bucket join shuffles on
  * (band, band_hash); the inverted-index join shuffles on shingle hash.
  */
object Dedup {

  private val P = 2147483647L   // 2^31 - 1 (Mersenne prime)
  private val MIX = 2654435761L // Knuth multiplicative constant
  private val PERMS = 64
  private val BANDS = 16
  private val ROWS_PER_BAND = PERMS / BANDS

  /** md5-hex of a UTF-8 string. md5 is the one hash both this engine and
    * ANSI SQL oracles (DuckDB included) compute bit-identically, which
    * makes every signature below hash-oracle-checkable end-to-end. */
  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    d.foreach { b =>
      sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      sb.append(Character.forDigit(b & 0xf, 16))
    }
    sb.toString
  }

  /** 60-bit shingle hash: the first 15 md5-hex nibbles parsed base-16 —
    * positive, fits a long, and SQL-side is `('0x'||substr(md5(g),1,15))
    * ::BIGINT`. */
  private def hash60(md: java.security.MessageDigest, s: String): Long =
    java.lang.Long.parseLong(md5Hex(md, s).substring(0, 15), 16)

  /** doc_id, distinct shingle hashes, MinHash signature, LSH band keys. */
  case class DocSig(doc_id: Long, sh: Array[Long], bands: Array[String])

  /** doc_id + distinct shingle hashes only (no MinHash). */
  case class DocShingles(doc_id: Long, sh: Array[Long])

  /** Tokenize → 3-gram shingles → distinct SORTED 60-bit hashes (shared
    * by the full-signature and shingles-only paths). Sorting at the
    * source costs one tiny per-doc sort and lets every set operation
    * downstream run as a codegen'd two-pointer merge
    * ([[graft.functions.SortedIntersectCount]]) instead of interpreted
    * array_intersect/array_union hash sets. */
  private def shinglesOf(md: java.security.MessageDigest, text: String): Array[Long] = {
    val toks = text.trim.toLowerCase.split("\\s+")
    val grams =
      if (toks.length >= 3)
        Array.tabulate(toks.length - 2)(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}")
      else Array(toks.mkString(" "))
    grams.map(hash60(md, _)).distinct.sorted
  }

  /** Shingle sets WITHOUT the MinHash pass — exact-Jaccard consumers
    * (ngram inverted index, contamination) only need `sh`, and the
    * 64-permutation sweep is ~100× the hashing cost at scale. */
  def shingles(spark: SparkSession, sfDir: String): Dataset[DocShingles] = {
    import spark.implicits._
    Tables.spreadBy(Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
      .as[(Long, String)], col("doc_id"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (docId, text) => DocShingles(docId, shinglesOf(md, text)) }
      }
  }

  /** Shingle hashes → 64-perm MinHash → 16 band keys. Shared by the
    * batch [[signatures]] pass and the streaming near-dup processor
    * ([[graft.streaming.StreamingNearDup]]), so stream and batch band
    * keys are bit-identical by construction. */
  private[graft] def bandsOfShingles(md: java.security.MessageDigest,
                                     sh: Array[Long]): Array[String] = {
    // MinHash: perm_i(h) = (a_i*(h mod P) + b_i) mod P, a_i = 2i+1
    val sig = new Array[Long](PERMS)
    var i = 0
    while (i < PERMS) {
      var mn = Long.MaxValue
      var j = 0
      while (j < sh.length) {
        val hm = sh(j) % P // hash60 is non-negative
        val v = (hm * (2L * i + 1) + i * MIX) % P
        if (v < mn) mn = v
        j += 1
      }
      sig(i) = mn
      i += 1
    }
    // band key = md5 of the band's sig values as "v1-v2-v3-v4" —
    // string-identical to SQL md5(string_agg(v,'-' ORDER BY i))
    Array.tabulate(BANDS) { b =>
      md5Hex(md, sig.slice(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND).mkString("-"))
    }
  }

  /** Text → LSH band keys in one pass (tokenize + shingle + MinHash). */
  private[graft] def bandsOfText(md: java.security.MessageDigest,
                                 text: String): Array[String] =
    bandsOfShingles(md, shinglesOf(md, text))

  /** Shingles → 64-perm MinHash → 16 band hashes, one JIT'd pass per
    * partition. */
  def signatures(spark: SparkSession, sfDir: String): Dataset[DocSig] = {
    import spark.implicits._
    Tables.spreadBy(Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
      .as[(Long, String)], col("doc_id"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (docId, text) =>
          val sh = shinglesOf(md, text)
          DocSig(docId, sh, bandsOfShingles(md, sh))
        }
      }
  }

  /** MinHash + LSH near-dup pairs: collide in ≥1 of 16 bands, then
    * verify every candidate with exact Jaccard over the shingle sets. */
  def minhashLsh(spark: SparkSession, sfDir: String,
                 threshold: Double = 0.2): DataFrame =
    // materialize once: `docs` feeds three subtrees (band explode + both
    // shingle-verify sides) and the 64-perm MinHash pass would otherwise
    // run three times
    minhashLshOf(spark, signatures(spark, sfDir).toDF().localCheckpoint(),
      threshold)

  /** [[minhashLsh]] over an already-materialized signature frame
    * `(doc_id, sh, bands)` — callers that need BOTH the LSH pairs and
    * another consumer of the same signatures ([[lshRecall]]) pass one
    * shared checkpoint instead of paying the corpus scan + shingling
    * twice. */
  private[llm] def minhashLshOf(spark: SparkSession, docs: DataFrame,
                                threshold: Double): DataFrame = {
    import spark.implicits._
    val bands = docs.select($"doc_id",
        posexplode($"bands").as(Seq("band_idx", "band_hash")))
    val a = bands.select($"band_idx", $"band_hash", $"doc_id".as("doc_a"))
    val b = bands.select($"band_idx", $"band_hash", $"doc_id".as("doc_b"))
    // dedupe candidate PAIRS before touching the shingle arrays — a pair
    // colliding in many bands would otherwise drag its arrays through
    // the shuffle once per band.
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    val shA = docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val shB = docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
    candidates.join(shA, "doc_a").join(shB, "doc_b")
      // shingle arrays are sorted at the source → codegen'd two-pointer
      // intersect; |A∪B| = |A|+|B|−|A∩B| (arrays are distinct)
      .withColumn("inter", sortedIntersectCount($"sh_a", $"sh_b"))
      .withColumn("jaccard", round(
        $"inter" / (size($"sh_a") + size($"sh_b") - $"inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** LSH quality evaluation — the empirical S-CURVE every banded-LSH
    * deployment should publish: bucket the EXACT near-dup pairs
    * ([[ngramJaccard]] ground truth) by true similarity decile and
    * measure what fraction the MinHash index ([[minhashLsh]]) captured.
    * Low-similarity buckets are EXPECTED to leak (that's the bands'
    * threshold curve doing its job); a leak in a high bucket means the
    * band/row geometry no longer matches the dedup threshold. Both
    * inputs are the already-proven pipelines; the comparison is one
    * left join on the pair key + a 10-row rollup — evaluation cost is
    * dominated by the two candidate generations themselves. */
  def lshRecall(spark: SparkSession, sfDir: String,
                threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    // ONE signature pass feeds both arms: the exact inverted index only
    // needs `sh`, the LSH arm needs `sh` + `bands`; sharing the
    // checkpoint (the same one [[minhashLsh]] pays anyway) removes a
    // duplicate corpus scan + shingling pass (r16, guide §2.4)
    val docs = signatures(spark, sfDir).toDF().localCheckpoint()
    val exact = ngramJaccardOf(docs, threshold, None)
    val lsh = minhashLshOf(spark, docs, threshold)
      .select($"doc_a", $"doc_b").withColumn("captured", lit(1L))
    exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket10", floor($"jaccard" * 10).cast("long"))
      .groupBy($"bucket10")
      .agg(count(lit(1)).as("n_exact"),
           sum(coalesce($"captured", lit(0L))).as("n_captured"))
      .withColumn("recall", $"n_captured".cast("double") / $"n_exact")
  }

  /** 64-bit SimHash over token hashes: per bit, sum +1/-1 and keep the
    * sign. Same mapPartitions shape as [[signatures]]. */
  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.spreadBy(Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
      .as[(Long, String)], col("doc_id"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (docId, text) =>
          val counts = new Array[Int](64)
          text.trim.toLowerCase.split("\\s+").foreach { t =>
            // token hash = first 16 md5-hex nibbles as unsigned 64-bit
            // (big-endian) — bit j recoverable in SQL from two 32-bit
            // halves: hi = hex[1..8], lo = hex[9..16]
            val hx = md5Hex(md, t)
            val hi = java.lang.Long.parseLong(hx.substring(0, 8), 16)
            val lo = java.lang.Long.parseLong(hx.substring(8, 16), 16)
            val h = (hi << 32) | lo
            var j = 0
            while (j < 64) {
              if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
              j += 1
            }
          }
          var sim = 0L
          var j = 0
          while (j < 64) { if (counts(j) > 0) sim |= (1L << j); j += 1 }
          (docId, sim, sim >>> 48)
        }
      }
      .toDF("doc_id", "simhash64", "band16")
  }

  /** SimHash near-dup pairs: candidates collide on the 16-bit band
    * prefix (equi-join — never all-pairs), then verify Hamming distance
    * over the full 64-bit signature with bit_count(xor). The
    * complete simhash dedup loop: [[simhash]] signatures are the index,
    * this is the detection pass. */
  def simhashPairs(spark: SparkSession, sfDir: String,
                   maxHamming: Int = 6): DataFrame = {
    import spark.implicits._
    val sigs = simhash(spark, sfDir)
    val a = sigs.select($"band16", $"doc_id".as("doc_a"), $"simhash64".as("sim_a"))
    val b = sigs.select($"band16", $"doc_id".as("doc_b"), $"simhash64".as("sim_b"))
    a.join(b, "band16").filter($"doc_a" < $"doc_b")
      .withColumn("hamming", bit_count($"sim_a".bitwiseXOR($"sim_b")).cast("long"))
      .filter($"hamming" <= maxHamming)
      .select($"doc_a", $"doc_b", $"hamming")
  }

  /** Embedding-cosine near-duplicate pairs, blocked on `label` (the
    * cluster/bucket a scale pipeline would block on — full pairwise at
    * 100 TB is never an option; within-block pairs are). Cosine runs
    * through the native codegen expression [[graft.functions.CosineSim]]. */
  def embeddingCosine(spark: SparkSession, sfDir: String,
                      threshold: Double = 0.35): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label",
              $"embedding".cast("array<double>").as("vec"))
    val a = emb.select($"label", $"vec_id".as("vec_a"), $"vec".as("va"))
    val b = emb.select($"label", $"vec_id".as("vec_b"), $"vec".as("vb"))
    a.join(b, "label").filter($"vec_a" < $"vec_b")
      .withColumn("cosine", round(cosineSim($"va", $"vb"), 6))
      .filter($"cosine" >= threshold)
      .select($"vec_a", $"vec_b", $"label", $"cosine")
  }

  /** Near-duplicate clusters: connected components over the exact-Jaccard
    * pair graph ([[ngramJaccard]]), labels = min doc_id per component —
    * the step that turns pair lists into per-document keep/drop
    * decisions. Iterative min-label propagation (the standard large-scale
    * connected-components algorithm — GraphX/Pregel shape): each round is
    * one join + one aggregate, and the round count is bounded by the
    * component diameter (≤ log n rounds with doubling in practice; near-
    * dup clusters are tiny cliques, so 2-3 rounds). The per-round
    * `count()` action is loop control, not data movement. */
  def dedupClusters(spark: SparkSession, sfDir: String,
                    threshold: Double = 0.2, maxIters: Int = 20,
                    smallGraphEdges: Long = 100000L): DataFrame = {
    import spark.implicits._
    // cut once: the pair mining is the expensive subtree and feeds both
    // the size probe and the CC input
    val pairs = ngramJaccard(spark, sfDir, threshold)
      .select($"doc_a", $"doc_b").localCheckpoint()
    adaptiveComponents(pairs, maxIters, smallGraphEdges)
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max($"doc_id").as("max_doc_id"))
  }

  /** CANONICAL SELECTION per near-dup cluster (r10) — the decision step
    * a curation pipeline runs after [[dedupClusters]]: inside each
    * cluster keep ONE member and account for what the drop costs. The
    * keep policy is the Lee et al. production default — longest member
    * (token count), ties to the smallest doc_id — so reruns and other
    * engines pick identical survivors. Output per cluster: the kept
    * doc, its length, and the token mass the deletion reclaims.
    *
    * Scale shape: pair mining + pointer-jump CC are the shared
    * [[dedupClusters]] kernel; the selection itself is one row_number
    * window PARTITIONED BY cluster label (keyed — never a global
    * window) over the |clustered docs| table, then a hash aggregate.
    * Token counts ride along from a narrow map of the docs table. */
  def dedupCanonical(spark: SparkSession, sfDir: String,
                     threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccard(spark, sfDir, threshold)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val toksz = Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(split(trim(lower($"text")), "\\s+")).cast("long").as("n_toks"))
    val w = Window.partitionBy($"label")
      .orderBy($"n_toks".desc, $"doc_id".asc)
    adaptiveComponents(pairs, 20, 100000L)
      .join(toksz, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
           max(when($"rn" === 1, $"doc_id")).as("kept_doc"),
           max(when($"rn" === 1, $"n_toks")).as("kept_tokens"),
           sum(when($"rn" > 1, $"n_toks").otherwise(0L)).as("dropped_tokens"))
  }

  /** LEAKAGE-SAFE train/val/test split (r12) — [[graft.llm.TextOps
    * .trainSplit]]'s assignment hashed on the NEAR-DUP CLUSTER
    * representative instead of the document: two near-duplicates can
    * never straddle train and val/test, closing the contamination
    * path a doc-hashed split leaves open (train on one copy, evaluate
    * on the other — the eval-set leak Lee et al. ACL'22 measure).
    * Unclustered docs are their own representative, so assignment
    * stays a pure function of stable ids: reruns, backfills, and the
    * DuckDB twin route every doc identically. Report per (source,
    * split): docs, near-dup members, token mass.
    *
    * Scale shape: pair mining + pointer-jump CC are the shared
    * [[dedupClusters]] kernel (band/df valves bound the pair volume);
    * the label table is |clustered docs| rows — a left equi-join onto
    * the corpus — and the report is one map-side-combined aggregate.
    * Nothing new scales beyond the clustering already paid for. */
  def clusterSplit(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccard(spark, sfDir, threshold)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val labels = adaptiveComponents(pairs, 20, 100000L)
    val bucket = substring(md5($"rep".cast("string")), 1, 2)
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"label", $"doc_id"))
      .withColumn("split",
        when(bucket < lit("cd"), "train")
          .when(bucket < lit("e6"), "val")
          .otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"),
           sum(when($"label".isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
           sum($"n_tok").as("sum_tokens"))
  }

  /** INCREMENTAL near-dup check (r11) — the nightly-ingest production
    * shape: a NEW batch of documents probes the EXISTING corpus's
    * banded MinHash index instead of re-deduplicating the world.
    * Existing = every source except the probe shards; new = the probe
    * shards. Build-once/probe-many mirrors [[graft.llm.SimOps
    * .ivfPersisted]]: at 100 TB the index side is a parquet table of
    * (band_idx, band_hash, doc_id) maintained across ingests, and each
    * batch pays only its own band hashing + an equi-join against the
    * index — never a corpus×corpus pass.
    *
    * Per new doc the verdict a curation pipeline acts on: how many
    * index candidates its bands hit, whether any verified at
    * `threshold` (exact Jaccard over sorted shingle hashes), and the
    * smallest matching existing doc id (its canonical predecessor).
    * New docs with no collisions appear with zeros — absence of
    * evidence is the common case and must be visible. */
  def incrementalDedup(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.2,
                       probeSources: Seq[String] = Seq("src18", "src19"))
      : DataFrame = {
    import spark.implicits._
    val docs = signatures(spark, sfDir).toDF()
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"source"),
            "doc_id")
      .localCheckpoint()
    val isProbe = $"source".isin(probeSources: _*)
    val existing = docs.filter(!isProbe)
    val fresh = docs.filter(isProbe)
    def bandsOf(df: DataFrame, idCol: String) =
      df.select(col("doc_id").as(idCol),
        posexplode($"bands").as(Seq("band_idx", "band_hash")))
    val candidates = bandsOf(fresh, "new_id")
      .join(bandsOf(existing, "old_id"), Seq("band_idx", "band_hash"))
      .select($"new_id", $"old_id").distinct()
    val verified = candidates
      .join(fresh.select($"doc_id".as("new_id"), $"sh".as("sh_n")), "new_id")
      .join(existing.select($"doc_id".as("old_id"), $"sh".as("sh_o")), "old_id")
      .withColumn("inter", sortedIntersectCount($"sh_n", $"sh_o"))
      .withColumn("jaccard", round(
        $"inter" / (size($"sh_n") + size($"sh_o") - $"inter"), 4))
      .groupBy($"new_id")
      .agg(count(lit(1)).as("n_candidates"),
           sum(when($"jaccard" >= threshold, 1L).otherwise(0L)).as("n_dups"),
           min(when($"jaccard" >= threshold, $"old_id")).as("dup_of"))
    fresh.select($"doc_id", $"source")
      .join(verified.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", $"source",
              coalesce($"n_candidates", lit(0L)).as("n_candidates"),
              (coalesce($"n_dups", lit(0L)) > 0).as("is_dup"),
              $"dup_of")
  }

  /** Per-SOURCE dedup impact (r17) — the "which crawls are redundant"
    * report a curation owner reads after [[dedupApply]]: per source,
    * how many docs the near-dup pass drops, in exact basis points, and
    * how many of those drops lose to a canonical living in a DIFFERENT
    * source (`n_cross_source` — high means the source is largely
    * contained in earlier crawls and its next refresh can be demoted;
    * low means its duplication is internal and a within-source cleanup
    * suffices). Composes [[dedupApply]]'s verdicts with the source
    * column; every cluster has exactly one keeper, so the canonical-
    * source join is |clusters| rows — the aggregate adds one narrow
    * join and one map-side-combined hash agg to machinery already
    * paid for. */
  def sourceImpact(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    // pin the verdict frame: it feeds BOTH the canonical-source probe
    // and the per-source aggregate — without the checkpoint each
    // SortMergeJoin input re-executes the label + source joins
    val v = dedupApply(spark, sfDir, threshold)
      .select($"doc_id", $"cluster_id", $"keep")
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"source"),
        "doc_id")
      .localCheckpoint()
    val canon = v.filter($"keep")
      .select($"cluster_id", $"source".as("canon_source"))
    v.join(canon, "cluster_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(!$"keep", 1L).otherwise(0L)).as("n_dropped"),
           sum(when(!$"keep" && $"canon_source" =!= $"source", 1L)
             .otherwise(0L)).as("n_cross_source"))
      .withColumn("dropped_bp", expr("n_dropped * 10000 div n_docs"))
  }

  /** Cross-SHARD overlap estimation (r11) — the dump-vs-dump planning
    * question ("how much of crawl N+1 is already in crawl N?") answered
    * two ways from one pass: EXACT per-shard-pair Jaccard over distinct
    * shingle hashes, and the MERGEABLE MinHash estimate (per-shard
    * 64-perm signature = min-per-perm over the shard's shingles, the
    * same permutation family as [[bandsOfShingles]]; estimate =
    * fraction of agreeing perms). At 100 TB the sketch is the point:
    * per-shard signatures are 64 longs regardless of shard size,
    * min-merge happens map-side, and comparing S shards costs S²·64
    * integer compares on metadata — while the exact path (kept here as
    * its own ground truth) needs the full distinct-shingle shuffle.
    *
    * Physical shape: ONE distinct (source, hash) shuffle feeds sizes,
    * the in-place posting-list pair expansion (shingle df across shards
    * ≤ #shards), and the per-partition running-min signature partials
    * (#shards × 64 longs each, min-merged on the driver — metadata
    * scale). Only pairs sharing ≥ 1 shingle are emitted. */
  def shardOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val srcSh = Tables.spread(Tables.documents(spark, sfDir)
      .select($"source", $"text").as[(String, String)])
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (src, text) => shinglesOf(md, text).map(src -> _) }
      }
      .toDF("source", "h").distinct()
      .localCheckpoint() // feeds sizes + pairs + signature partials
    val sizes = srcSh.groupBy($"source").agg(count(lit(1)).as("n"))
    val pairs = srcSh.groupBy($"h")
      .agg(collect_list($"source").as("ss"))
      .filter(size($"ss") > 1)
      .select(explode($"ss").as("a"), $"ss")
      .select($"a", explode($"ss").as("b"))
      .filter($"a" < $"b")
      .groupBy($"a".as("source_a"), $"b".as("source_b"))
      .agg(count(lit(1)).as("inter"))
    // mergeable signatures: running mins per partition, min-merged on
    // the driver (#shards × 64 longs — metadata scale)
    val partials = srcSh.as[(String, Long)].mapPartitions { rows =>
      val mins = scala.collection.mutable.Map.empty[String, Array[Long]]
      rows.foreach { case (src, h) =>
        val m = mins.getOrElseUpdate(src, Array.fill(PERMS)(Long.MaxValue))
        val hm = h % P
        var i = 0
        while (i < PERMS) {
          val v = (hm * (2L * i + 1) + i * MIX) % P
          if (v < m(i)) m(i) = v
          i += 1
        }
      }
      mins.iterator
    }.collect()
    val sig = scala.collection.mutable.Map.empty[String, Array[Long]]
    partials.foreach { case (src, m) =>
      val acc = sig.getOrElseUpdate(src, Array.fill(PERMS)(Long.MaxValue))
      var i = 0
      while (i < PERMS) { if (m(i) < acc(i)) acc(i) = m(i); i += 1 }
    }
    val est = (for {
      (a, sa) <- sig.toSeq
      (b, sb) <- sig.toSeq if a < b
    } yield {
      var agree = 0
      var i = 0
      while (i < PERMS) { if (sa(i) == sb(i)) agree += 1; i += 1 }
      (a, b, agree.toLong)
    }).toDF("source_a", "source_b", "agree")
    pairs
      .join(broadcast(sizes.select($"source".as("source_a"), $"n".as("n_a"))),
            "source_a")
      .join(broadcast(sizes.select($"source".as("source_b"), $"n".as("n_b"))),
            "source_b")
      .join(broadcast(est), Seq("source_a", "source_b"), "left")
      .select($"source_a", $"source_b", $"n_a", $"n_b", $"inter",
              round($"inter" / ($"n_a" + $"n_b" - $"inter"), 6)
                .as("exact_jaccard"),
              round(coalesce($"agree", lit(0L)) / 64.0, 6).as("est_jaccard"))
  }

  /** Dedup PLANNING report (r11) — the numbers every dedup run publishes
    * before anyone green-lights the drop: the cluster-size histogram,
    * how many docs sit in near-dup families, and how many would be
    * dropped by a keep-one policy (Σ(size−1) per size), as a fraction
    * of the corpus. Composes [[dedupClusters]]' component solve with
    * one tiny rollup (≤ #distinct-sizes rows) and a 1-row corpus-count
    * broadcast — the report costs one extra agg over the solve. */
  def clusterStats(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val hist = dedupClusters(spark, sfDir, threshold)
      .groupBy($"n_docs".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
           sum($"n_docs").as("docs"),
           sum($"n_docs" - 1).as("drop_docs"))
    val tot = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("corpus_n"))
    hist.crossJoin(broadcast(tot))
      .select($"cluster_size", $"n_clusters", $"docs", $"drop_docs",
              round($"docs" / $"corpus_n", 6).as("frac_corpus"))
  }

  /** ADAPTIVE component solve: near-dup graphs are usually tiny next to
    * the corpus — below the edge threshold a driver union-find (min
    * root wins every union, so labels are exactly the distributed
    * solver's min-label semantics) replaces 6-8 scheduler round-trips
    * of iterative propagation (the same driver-solve escape hatch as
    * the OPQ 64×64 eigensolve); above it, the pointer-jumping
    * distributed loop takes over, so the 100 TB worst case never lands
    * on the driver. */
  private[llm] def adaptiveComponents(pairs: DataFrame, maxIters: Int = 20,
                                      smallGraphEdges: Long = 100000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    if (pairs.count() <= smallGraphEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      pairs.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = parent.keySet ++ parent.values
      nodes.toSeq.map(n => (n, find(n))).toDF("doc_id", "label")
    } else connectedComponents(pairs, maxIters)
  }

  /** The APPLY step that completes the dedup story: materialize the
    * per-document keep/drop verdict — every near-dup cluster keeps its
    * smallest doc_id as the canonical representative, everything else
    * drops; unclustered documents keep trivially. Downstream the
    * surviving corpus is `filter($"keep")` — the rewrite a curation
    * pipeline actually ships, not just the cluster report.
    *
    * Same machinery as [[dedupClusters]] (pair mining + pointer-jump
    * CC) plus ONE left join back to the corpus; docs without pairs
    * never enter the label frame, so the join's right side is bounded
    * by near-dup membership, orders of magnitude below corpus size. */
  def dedupApply(spark: SparkSession, sfDir: String,
                 threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccard(spark, sfDir, threshold)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val labels = adaptiveComponents(pairs)
    Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
      .join(labels.select($"doc_id", $"label"), Seq("doc_id"), "left")
      .select($"doc_id",
              coalesce($"label", $"doc_id").as("cluster_id"),
              ($"label".isNull || $"label" === $"doc_id").as("keep"),
              $"n_chars")
  }

  /** The ACTION step of exact-substring dedup (Lee et al. ACL'22 §4.2
    * applied as a document filter): keep a document iff at most
    * `maxFrac` of its tokens sit inside cross-doc duplicated k-token
    * spans ([[spanCoverage]]). This is what the span signal is FOR —
    * RefinedWeb/Dolma-style pipelines cut at 20–50% coverage — and the
    * keep-decision output mirrors [[dedupApply]]'s shape so downstream
    * curation composes identically. Same scale shape as spanCoverage
    * (the decision is a projection over its per-doc aggregate). */
  def spanApply(spark: SparkSession, sfDir: String, k: Int = 10,
                maxFrac: Double = 0.2): DataFrame = {
    import spark.implicits._
    spanCoverage(spark, sfDir, k)
      .select($"doc_id", $"n_tokens", $"dup_frac",
              ($"dup_frac" <= maxFrac).as("keep"))
  }

  /** Min-label propagation with POINTER JUMPING: each round propagates
    * neighbor minima (one hop) and then shortcuts `label ← label(label)`
    * (doubling the effective reach), so convergence takes O(log diameter)
    * rounds instead of O(diameter) — the difference between 8 and 10 000
    * shuffles on a pathological chain at 100 TB. Near-dup clusters are
    * tiny cliques (1-3 rounds) either way; the jump is what makes the
    * worst case safe. Labels/edges are near-dup docs only — orders of
    * magnitude smaller than the corpus — and every round localCheckpoints
    * to stop Catalyst from re-optimizing an ever-deeper plan. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.toDF("src", "dst")
    val edges = p
      .union(p.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint()
    var labels = edges.select($"src".as("doc_id")).distinct()
      .withColumn("label", $"doc_id")
      .localCheckpoint()
    // sum(label) is monotone non-increasing under min-propagation and
    // stalls exactly at convergence — one tiny agg replaces a join+count.
    // coalesce: sum over zero rows is NULL (empty pair graph at a high
    // threshold must yield an empty result, not an NPE).
    def labelSum(): Long =
      labels.agg(coalesce(sum($"label"), lit(0L))).first().getLong(0)
    var prevSum = labelSum()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy($"dst".as("doc_id"))
        .agg(min($"label").as("nmin"))
      val propagated = labels.join(neighborMin, Seq("doc_id"), "left")
        .select($"doc_id", least($"label", $"nmin").as("label"))
      // Adaptive pointer jump (label ← label(label)): near-dup graphs
      // are overwhelmingly tiny cliques that converge in ≤2 one-hop
      // rounds — the jump join would be pure overhead there. Surviving
      // past round 2 means a deeper component, so start shortcutting
      // and reach grows geometrically from then on.
      labels = (if (i < 2) propagated
                else {
                  val parents = propagated
                    .select($"doc_id".as("label"), $"label".as("plabel"))
                  propagated.join(parents, Seq("label"), "left")
                    .select($"doc_id",
                            coalesce(least($"plabel", $"label"), $"label").as("label"))
                }).localCheckpoint()
      val s = labelSum()
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    labels
  }

  /** Exact n-gram Jaccard via a distributed shingle inverted index:
    * postings group to per-shingle doc LISTS and candidate pairs expand
    * IN PLACE inside each posting list (two nested Generates — codegen,
    * no join); |A∪B| = |A|+|B|-|A∩B|. One shuffle builds the index and
    * one aggregates pair intersections — the r7 sf1 sweep showed the
    * former self-JOIN shape (both sides shuffled + a checkpoint
    * materialization) cost 6.6× at 10× data on linear candidate counts;
    * this shape halves the shuffled posting volume and drops the
    * materialization entirely.
    *
    * `maxDocFreq` (off by default, so the oracle stays exact) is the
    * scale valve: a shingle appearing in f documents generates O(f²)
    * candidate pairs, so one boilerplate shingle shared by 10⁶ docs
    * detonates the expansion. Capping document frequency drops only
    * near-stopword shingles — they carry almost no Jaccard signal but
    * all of the quadratic cost. Results become a slight underestimate;
    * the spec quantifies recall vs exact. */
  def ngramJaccard(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.2,
                   maxDocFreq: Option[Long] = None): DataFrame =
    ngramJaccardOf(shingles(spark, sfDir).toDF(), threshold, maxDocFreq)

  /** [[ngramJaccard]] over an already-computed shingle frame — any
    * frame with `(doc_id, sh)` columns works ([[signatures]]' output
    * included), so [[lshRecall]] can share one materialized pass. */
  private[llm] def ngramJaccardOf(shFrame: DataFrame, threshold: Double,
                                  maxDocFreq: Option[Long]): DataFrame = {
    import shFrame.sparkSession.implicits._
    val docs = shFrame
      .select($"doc_id", $"sh", size($"sh").cast("long").as("n_sh"))
    val posting = docs.select($"doc_id", $"n_sh", explode($"sh").as("shingle"))
    val lists = posting.groupBy($"shingle")
      .agg(collect_list(struct($"doc_id", $"n_sh")).as("ds"))
      .filter(size($"ds") > 1)
    val capped = maxDocFreq.fold(lists)(cap => lists.filter(size($"ds") <= cap))
    capped
      .select(explode($"ds").as("a"), $"ds")
      .select($"a", explode($"ds").as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      // size-ratio prune: I ≤ min(na,nb) so J = I/(na+nb-I) ≤ min/max;
      // J ≥ t therefore forces max·t ≤ min — pairs beyond the ratio can
      // never reach the threshold and drop before the pair-count shuffle.
      // Slack of 1e-4 keeps pairs whose ROUNDED jaccard (the downstream
      // filter) could still equal t from just below it.
      .filter($"a.n_sh" * (threshold - 1e-4) <= $"b.n_sh" &&
              $"b.n_sh" * (threshold - 1e-4) <= $"a.n_sh")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
               $"a.n_sh".as("na"), $"b.n_sh".as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round($"inter" / ($"na" + $"nb" - $"inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"inter", $"jaccard")
  }

  /** Asymmetric n-gram CONTAINMENT near-dup pairs: C = |A∩B| / min(|A|,
    * |B|) — the fraction of the SMALLER document's shingles that also
    * appear in the larger one. Jaccard misses subset duplication by
    * construction (a doc quoted whole inside a 10× larger page has
    * J ≈ 0.1 but C = 1.0), and subset dups are the dominant near-dup
    * mode in web corpora (boilerplate-wrapped articles, quoted posts,
    * concatenated shards) — the measure Broder'97 defines alongside
    * resemblance and the one suffix-style dedup pipelines act on.
    *
    * Physical shape is [[ngramJaccard]]'s in-place posting-list pair
    * expansion (one shuffle builds the inverted index, one aggregates
    * pair intersections; candidates never leave their posting list).
    * The size-ratio prune is deliberately ABSENT: containment is
    * exactly the regime where sizes differ wildly, so the only scale
    * valve is the document-frequency cap (same trade-off note as
    * [[ngramJaccard]]). */
  def containment(spark: SparkSession, sfDir: String,
                  threshold: Double = 0.6,
                  maxDocFreq: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val docs = shingles(spark, sfDir).toDF()
      .select($"doc_id", $"sh", size($"sh").cast("long").as("n_sh"))
    val posting = docs.select($"doc_id", $"n_sh", explode($"sh").as("shingle"))
    val lists = posting.groupBy($"shingle")
      .agg(collect_list(struct($"doc_id", $"n_sh")).as("ds"))
      .filter(size($"ds") > 1)
    val capped = maxDocFreq.fold(lists)(cap => lists.filter(size($"ds") <= cap))
    capped
      .select(explode($"ds").as("a"), $"ds")
      .select($"a", explode($"ds").as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
               $"a.n_sh".as("na"), $"b.n_sh".as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", round($"inter" / least($"na", $"nb"), 4))
      .filter($"containment" >= threshold)
      .select($"doc_a", $"doc_b", $"inter", $"na", $"nb", $"containment")
  }

  /** Prefix-filtered EXACT set-similarity join (ppjoin's prefix filter)
    * — the same output as [[ngramJaccard]] from a different physical
    * strategy: under ONE global total shingle order, any pair with
    * J ≥ t must share a shingle inside BOTH docs' first n−⌈t·n⌉+1
    * shingles, so only PREFIX postings join; full sets verify just the
    * surviving candidates via a codegen'd two-pointer merge over the
    * source-sorted arrays. The global shingle order is plain
    * hash order, making the prefix a NARROW `slice(sh)` —
    * no document-frequency pass, no per-doc window, no extra shuffle
    * (rarest-first ordering prunes more on boilerplate-heavy corpora
    * at the price of a df aggregation + rank). The prefix join touches
    * a fraction of the co-occurrence pairs the full inverted-index
    * join grinds through when shingles repeat across docs;
    * [[ngramJaccard]]'s single join wins where they don't. Threshold
    * is slackened by the same 1e-4 as the size-ratio prune so pairs
    * whose ROUNDED jaccard reaches t are never pruned — outputs match
    * bit-for-bit. */
  def ngramJaccardPrefix(spark: SparkSession, sfDir: String,
                         threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val docs = shingles(spark, sfDir).toDF()
      .select($"doc_id", $"sh", size($"sh").cast("long").as("n_sh"))
      .localCheckpoint()
    val t = threshold - 1e-4
    // `sh` is sorted at the source, so the prefix is a plain slice
    val prefix = docs.select(
        explode(slice($"sh", lit(1),
          ($"n_sh" - ceil(lit(t) * $"n_sh") + 1).cast("int"))).as("shingle"),
        $"doc_id")
    val cand = prefix.select($"shingle", $"doc_id".as("doc_a"))
      .join(prefix.select($"shingle", $"doc_id".as("doc_b")), "shingle")
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a"),
                        $"n_sh".as("na")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b"),
                        $"n_sh".as("nb")), "doc_b")
      .withColumn("inter", sortedIntersectCount($"sh_a", $"sh_b").cast("long"))
      .withColumn("jaccard", round($"inter" / ($"na" + $"nb" - $"inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"inter", $"jaccard")
  }

  /** Edit-distance near-dup pairs: all pairs with levenshtein(a, b) ≤ τ
    * — the character-level notion of "near duplicate" (typo/OCR
    * variants) that token-set measures miss. Deliberately NOT
    * language-blocked: near-dups here routinely carry mutated metadata
    * (19 of the 25 true pairs in this corpus cross languages).
    *
    * Blocking is LOSSLESS: ed(a,b) ≥ |len(a)−len(b)|, so a qualifying
    * pair's lengths differ by ≤ τ; banding lengths into width-2τ
    * buckets and probing each doc against its own and the NEXT bucket
    * covers every such pair exactly once (band < band', or same band
    * with id order) — a pure equi-join on the bucket, no inequality
    * join, no O(n²) blow-up. Verification uses Spark's BANDED 3-arg
    * levenshtein (O(len·τ) per pair, not O(len²)); the kept distances
    * are exact, so the quadratic oracle matches them bit-for-bit.
    *
    * Two LOSSLESS prefilters run before the (still costly) banded DP,
    * both standard edit-distance lower bounds:
    *  1. ed ≥ |len(a) − len(b)| — a join predicate, kills pairs whose
    *     bands touch but whose lengths are > τ apart (bands are 2τ
    *     wide);
    *  2. ed ≥ max(insertions, deletions) of the CHARACTER BAG — a
    *     27-slot letter histogram per doc (one narrow pass), compared
    *     with zip_with/aggregate per pair: ~30 integer ops replacing a
    *     len·τ DP for the overwhelming majority of candidates (measured
    *     99.97% of length-close pairs at sf0.1). Histogramming only a
    *     subset of the alphabet stays a valid bound — ignored
    *     characters can only lower both sides.
    * Candidate generation is unchanged, so results are identical; the
    * DP now runs on ~bag-survivors only.
    *
    * The candidate join itself is SLIM: only (id, len, band, histogram)
    * flows through the million-pair stream — texts re-attach by id
    * AFTER both prefilters, when only the handful of DP-worthy pairs
    * remain, so the wide string columns never ride the candidate
    * explosion (at 100 TB that's the difference between shuffling
    * ids+108-byte histograms and shuffling the corpus²).
    *
    * Scale: candidates per block ≈ docs within ±2τ chars of each other
    * — the length-histogram bound any engine gets; a corpus whose
    * lengths concentrate into few bands re-salts the band key and
    * replicates probes, the [[graft.operators.SkewOps]] pattern. */
  def editDistance(spark: SparkSession, sfDir: String,
                   tau: Int = 8): DataFrame = {
    import spark.implicits._
    val width = 2 * tau
    val alphabet = "abcdefghijklmnopqrstuvwxyz " // the corpus charset
    def freqArr(c: Column): Column = array(alphabet.map { ch =>
      (length(c) - length(replace(c, lit(ch.toString), lit("")))).cast("int")
    }: _*)
    // the 27-counter char-frequency projection scans the text 27×; it
    // feeds BOTH join sides, so spread it across cores and materialize
    // once (r15 — it used to run twice, single-partition)
    val slim = Tables.spreadBy(Tables.documents(spark, sfDir)
      .select($"doc_id", length($"text").as("len"),
              expr(s"length(text) div $width").as("band"),
              freqArr($"text").as("freq")), col("doc_id"))
      .localCheckpoint()
    val probe = slim.select($"doc_id", $"len", $"freq", $"band",
        explode(array($"band", $"band" + 1)).as("key"))
    val survivors = probe.join(
        slim.select($"doc_id".as("doc_b"), $"len".as("len_b"),
                    $"freq".as("freq_b"), $"band".as("band_b")),
        $"key" === $"band_b" &&
          ($"band" < $"band_b" ||
           ($"band" === $"band_b" && $"doc_id" < $"doc_b")) &&
          abs($"len" - $"len_b") <= tau)
      .filter(bagBound($"freq", $"freq_b") <= tau)
      .select($"doc_id", $"doc_b")
    val texts = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    survivors
      .join(texts, "doc_id")
      .join(texts.select($"doc_id".as("doc_b"), $"text".as("text_b")), "doc_b")
      .withColumn("ed", levenshtein($"text", $"text_b", tau))
      .filter($"ed" >= 0) // 3-arg levenshtein returns -1 past the bound
      .select(least($"doc_id", $"doc_b").as("id1"),
              greatest($"doc_id", $"doc_b").as("id2"),
              $"ed".cast("long").as("edit_dist"))
  }

  /** Threshold-sweep planning: how many near-dup pairs would each
    * cosine threshold flag? One pass over the label-blocked pair
    * stream bins pairs by cosine decile, then a cumulative window
    * (descending) turns bins into "pairs at or above τ" — the curve a
    * curation run consults before committing to a dedup threshold,
    * WITHOUT re-running the pair join per candidate τ.
    *
    * Bin ids are exact integers (floor of a 6-rounded cosine × 10,
    * clamped); the cumulative window runs over ≤ 21 bins. */
  def thresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("vec"))
    val a = emb.select($"label", $"vec_id".as("vec_a"), $"vec".as("va"))
    val b = emb.select($"label", $"vec_id".as("vec_b"), $"vec".as("vb"))
    val bins = a.join(b, Seq("label"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("cos6", round(cosineSim($"va", $"vb"), 6))
      .withColumn("bin",
        greatest(least(floor($"cos6" * 10).cast("long"), lit(10L)), lit(-10L)))
      .groupBy($"bin").agg(count(lit(1)).as("n_pairs"))
    val cum = Window.orderBy($"bin".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("tau", ($"bin".cast("double")) / 10.0)
      .withColumn("pairs_at_or_above", sum($"n_pairs").over(cum))
      .select($"tau", $"n_pairs", $"pairs_at_or_above")
  }

  /** SemDeDup-shape semantic dedup: near-duplicate embedding pairs
    * blocked by LEARNED k-means cluster instead of a given label —
    * [[embeddingCosine]]'s label blocks replaced by
    * [[SimOps.clusterAssignments]]' trained partition of the space
    * (Abbas et al. 2023, "SemDeDup": cluster first, then compare only
    * within clusters).
    *
    * Scale: assignment is a narrow broadcast-centroids pass; the pair
    * join shuffles on (cid, salt) — candidate pairs are Σ|cluster|²,
    * the quadratic confined to clusters, and since r5 the WORST cluster
    * is task-bounded too: [[SimOps.cappedClusterPairs]] salts any
    * cluster above `cap` into size-capped blocks that preserve the pair
    * set exactly (one mega-cluster fans out instead of stalling a
    * task). Since r6, k itself is data-dependent BY DEFAULT
    * ([[SimOps.autoK]]: k = max(4, ⌈N/cap⌉)), so Σ|cluster|² ≈ N·cap —
    * linear in the corpus by construction, not by caller discipline.
    * The recall-trading second-nearest-centroid re-block from
    * the SemDeDup paper changes results and stays a knob. The cosine
    * threshold and 6-decimal rounding match the label-blocked twin, so
    * the two strategies are directly comparable. */
  /** SemDeDup APPLY (r8): the per-vector keep/drop verdict — semantic
    * near-dup pairs ([[semantic]]) → connected components
    * ([[adaptiveComponents]], pointer-jumping at scale) → every
    * component keeps its smallest vec_id, everything else drops;
    * vectors without a near-dup keep trivially. The embedding twin of
    * [[dedupApply]] and the output a curation pipeline actually ships
    * (`filter($"keep")`): Abbas et al. 2023 report ~50% web-corpus
    * drops at this stage. The label frame holds only near-dup members —
    * orders of magnitude below corpus size — so the final left join is
    * corpus-scan-dominated. */
  def semanticApply(spark: SparkSession, sfDir: String,
                    threshold: Double = 0.35, cap: Int = 64): DataFrame = {
    import spark.implicits._
    val pairs = semantic(spark, sfDir, threshold, cap)
      .select($"vec_a", $"vec_b").localCheckpoint()
    val labels = adaptiveComponents(pairs)
    Tables.embeddings(spark, sfDir).select($"vec_id")
      .join(labels.select($"doc_id".as("vec_id"), $"label"),
        Seq("vec_id"), "left")
      .select($"vec_id",
              coalesce($"label", $"vec_id").as("cluster_id"),
              ($"label".isNull || $"label" === $"vec_id").as("keep"))
  }

  def semantic(spark: SparkSession, sfDir: String,
               threshold: Double = 0.35, cap: Int = 64): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val idx = SimOps.clusterAssignments(spark, sfDir).join(emb, "vec_id")
    SimOps.cappedClusterPairs(idx, cap, "vec_a", "va", "vec_b", "vb")
      .filter($"vec_a" < $"vec_b")
      .withColumn("cosine", round(cosineSim($"va", $"vb"), 6))
      .filter($"cosine" >= threshold)
      .select($"vec_a", $"vec_b", $"cid", $"cosine")
  }

  /** Duplicated-SPAN coverage (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22 — exact substring dedup at
    * token-shingle granularity): for every document, the fraction of
    * its TOKENS covered by at least one `k`-token span that also
    * appears verbatim in another document. Span-level coverage is the
    * signal substring dedup cuts on (docs above ~20% cross-doc span
    * coverage are mostly boilerplate/quotes), and is strictly stronger
    * than [[graft.llm.TextOps.lineDedup]]'s fixed-chunk version: spans
    * are position-independent and overlapping.
    *
    * Plan: posexplode token positions → md5 over the k-token window
    * (`array_join(slice(...))` — native expressions, stays in codegen)
    * → the duplicated-shingle set is one hash aggregate keyed by the
    * 16-byte digest (never span text) → join back and MERGE the
    * overlapping [p, p+k-1] intervals per doc with the classic
    * gaps-and-islands cummax window (partitioned by doc_id, so docs
    * merge in parallel). Only duplicated positions reach the window —
    * at 100 TB that's the (small) dirty subset, not the token stream.
    * All-integer interval arithmetic → engine-exact fractions. */
  def spanCoverage(spark: SparkSession, sfDir: String,
                   k: Int = 10): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("toks"))
      .withColumn("n_tokens", size($"toks").cast("long"))
    // one row per k-token span start position
    val spans = docs
      .filter($"n_tokens" >= k)
      .select($"doc_id", $"n_tokens",
              posexplode(expr(
                s"transform(sequence(0, CAST(n_tokens - $k AS INT)), " +
                s"i -> md5(array_join(slice(toks, i + 1, $k), ' ')))"))
                .as(Seq("pos", "span_md5")))
    val dupSpans = spans.groupBy($"span_md5")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" > 1)
      .select($"span_md5")
    // interval union of the duplicated [pos, pos+k-1] windows per doc
    val byDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val covered = spans.join(dupSpans, "span_md5")
      .select($"doc_id", $"pos", ($"pos" + lit(k - 1)).as("span_end"))
      .withColumn("prev_max_end", max($"span_end").over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"prev_max_end".isNull || $"pos" > $"prev_max_end" + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum($"new_island").over(byDoc))
      .groupBy($"doc_id", $"island")
      .agg((max($"span_end") - min($"pos") + 1).as("island_len"),
           count(lit(1)).as("n_spans"))
      .groupBy($"doc_id")
      .agg(sum($"island_len").as("covered_tokens"),
           sum($"n_spans").as("n_dup_spans"))
    docs.select($"doc_id", $"n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
              coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"),
              coalesce($"covered_tokens", lit(0L)).as("covered_tokens"),
              (coalesce($"covered_tokens", lit(0L)).cast("double") /
                $"n_tokens").as("dup_frac"))
  }

  /** VARIABLE-LENGTH exact-substring dedup (r12) — the suffix-array
    * answer of Lee et al. ACL'22 ("Deduplicating Training Data Makes
    * Language Models Better") for matches ≥ `kMin`, distributed
    * without building a suffix array: every maximal common token-run
    * of length L ≥ kMin between two docs appears as EXACTLY the run of
    * consecutive anchor matches (pa+i, pb+i), i ∈ [0, L−kMin], on one
    * DIAGONAL pa−pb of the match matrix — so mining kMin-token span
    * digests (the [[spanCoverage]] kernel), grouping matches by
    * (pair, diagonal), and interval-packing consecutive positions
    * recovers each maximal run with its EXACT length. [[spanCoverage]]
    * answers "which tokens sit under some duplicated k-window"; this
    * answers the question substring dedup actually cuts on — "what are
    * the maximal duplicated passages and how long are they" — and
    * catches both runs SHORTER than a fixed k=10 window and the true
    * extent of longer ones (a 200-token quote is one row with
    * longest=200 here, not just '200 tokens covered').
    *
    * Plan shape: one hash aggregate groups the distinct span digests
    * (16-byte md5, never span text); candidate anchors expand IN PLACE
    * inside each posting list (nested Generates — the [[ngramJaccard]]
    * discipline, no self-join); islands pack per (doc_a, doc_b, diag)
    * partition with the pos−row_number trick (anchor positions are
    * unique per diagonal, so no cummax pass). Only matched anchors
    * reach the window — the dirty subset, not the token stream. The
    * `maxDocFreq` valve (None = exact, like [[ngramJaccard]]) caps the
    * O(f²) expansion of near-universal kMin-grams at corpus scale. */
  def substringPairs(spark: SparkSession, sfDir: String,
                     kMin: Int = 5, minLen: Int = 8,
                     maxDocFreq: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // spread BEFORE the span-digest expansion: the per-doc
    // (n_tokens−kMin+1) md5 digests are the dominant map work and the
    // one-file scan would run them on a single core (r16, guide §2.5)
    val spans = Tables.spreadBy(Tables.documents(spark, sfDir)
      .select($"doc_id", $"text"), col("doc_id"))
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("toks"))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .filter($"n_tokens" >= kMin)
      .select($"doc_id",
        posexplode(expr(
          s"transform(sequence(0, CAST(n_tokens - $kMin AS INT)), " +
          s"i -> md5(array_join(slice(toks, i + 1, $kMin), ' ')))"))
          .as(Seq("pos", "h")))
    val lists = spans.groupBy($"h")
      .agg(collect_list(struct($"doc_id", $"pos")).as("ds"))
      .filter(size(array_distinct(expr("transform(ds, x -> x.doc_id)"))) > 1)
    val capped = maxDocFreq.fold(lists)(cap =>
      lists.filter(size($"ds") <= cap))
    val anchors = capped
      .select(explode($"ds").as("a"), $"ds")
      .select($"a", explode($"ds").as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
              $"a.pos".cast("long").as("pa"), $"b.pos".cast("long").as("pb"))
    val byDiag = Window.partitionBy($"doc_a", $"doc_b", $"diag")
      .orderBy($"pa")
    anchors
      .withColumn("diag", $"pa" - $"pb")
      .withColumn("grp", $"pa" - row_number().over(byDiag))
      .groupBy($"doc_a", $"doc_b", $"diag", $"grp")
      .agg((max($"pa") - min($"pa") + lit(kMin.toLong)).as("run_len"),
           min($"pa").as("start_a"))
      .filter($"run_len" >= minLen)
      .groupBy($"doc_a", $"doc_b")
      .agg(max($"run_len").as("longest"),
           count(lit(1)).as("n_runs"),
           sum($"run_len").as("run_tokens"),
           min($"start_a").as("first_start_a"))
  }

  /** WEIGHTED lexical near-dup — tf-idf cosine over the rare-term
    * vocabulary: the Jaccard family ([[ngramJaccard]]) treats every
    * shingle equally; the cosine family weights by informativeness, so
    * two docs sharing rare vocabulary score high even when their
    * boilerplate differs (the Common-Crawl "same article, different
    * chrome" case Jaccard under-ranks).
    *
    * Truncated-idf metric, defined (not approximated): both the dot
    * product AND the norms run over V = {terms with df ≤ maxDf} — the
    * df valve that keeps posting-list pair volume Σ_{t∈V} df² bounded
    * by maxDf·Σdf (the ngramJaccard discipline; common terms carry
    * near-zero idf anyway). Weights are INTEGER 1e-4 units
    * (tf · round4(ln N/df)·1e4), so dot and norms are exact integer
    * sums; cosine is sqrt/multiply/divide — correctly-rounded IEEE,
    * bit-exact in the oracle with no display rounding.
    *
    * Scale shape: the [[ngramJaccard]] kernel on WEIGHTED postings —
    * ONE groupBy(term) builds (doc, tf) lists whose LENGTH is the df,
    * so df-valve, idf, and the weighted postings all derive in place
    * (no separate df table, and — the r13 fix — no vocabulary-sized
    * broadcast, which grew linearly with the corpus: ~2M distinct
    * shingles at the 20k-doc sweep already). Candidate pairs expand IN
    * PLACE via two nested Generates (no posting self-join: the r7 sf1
    * sweep showed that shape cost 6.6× at 10× data); norms explode the
    * SAME lists — Spark reuses the one exchange (ReusedExchange) for
    * both branches. N (the idf numerator) rides along as a 1-row
    * broadcast crossJoin — query construction triggers no driver-side
    * action. */
  def tfidfCosine(spark: SparkSession, sfDir: String,
                  maxDf: Int = 20, minCos: Double = 0.5): DataFrame = {
    import spark.implicits._
    // terms are 3-gram shingles, not unigrams: the fixture vocabulary
    // is 31 words with df ≈ 390/500 each — no unigram is rare, and no
    // unigram discriminates; shingles are the discriminative unit the
    // whole dedup family weighs (and what makes the df valve bite)
    // spread BEFORE shingling: per-doc 3-gram construction (split +
    // posexplode + two element_at concats per token) dominates the map
    // side and the one-file scan would run it single-core (r16, §2.5)
    val terms = Tables.spreadBy(graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text"), col("doc_id"))
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id", $"t",
        posexplode(expr("slice(t, 3, size(t) - 2)")).as(Seq("p", "w3")))
      .select($"doc_id",
        concat_ws(" ", element_at($"t", $"p" + 1),
          element_at($"t", $"p" + 2), $"w3").as("term"))
    val nDocsDf = graft.Tables.documents(spark, sfDir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // one per-term aggregation: size(ds) IS the df — valve, idf, and
    // weighted postings derive without any second table or join
    val wlists = tf.groupBy($"term")
      .agg(collect_list(struct($"doc_id", $"tf")).as("ds"))
      .filter(size($"ds") <= maxDf)
      .crossJoin(broadcast(nDocsDf))
      .withColumn("idf_e4",
        round(round(log($"n_docs" / size($"ds")), 4) * 1e4, 0).cast("long"))
      .select(transform($"ds", d =>
        struct(d("doc_id").as("doc_id"),
               (d("tf") * $"idf_e4").as("w_e4"))).as("ws"))
    val norms = wlists.select(explode($"ws").as("w"))
      .groupBy($"w.doc_id".as("doc_id"))
      .agg(sum($"w.w_e4" * $"w.w_e4").as("norm_e8"))
    wlists
      .filter(size($"ws") > 1)
      .select(explode($"ws").as("a"), $"ws")
      .select($"a", explode($"ws").as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(sum($"a.w_e4" * $"b.w_e4").as("dot_e8"),
           count(lit(1)).as("n_shared_terms"))
      .join(norms.select($"doc_id".as("doc_a"), $"norm_e8".as("na")), "doc_a")
      .join(norms.select($"doc_id".as("doc_b"), $"norm_e8".as("nb")), "doc_b")
      .withColumn("cos",
        $"dot_e8".cast("double") /
          (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))))
      .filter($"cos" >= minCos)
      .select($"doc_a", $"doc_b", $"n_shared_terms", $"dot_e8", $"cos")
  }

  /** Cross-source redundancy MATRIX (r18) — the pairwise view
    * [[sourceImpact]]'s per-source roll-up summarizes away: for every
    * (source_a, source_b) pair, how many near-dup clusters contain
    * docs from BOTH. The crawl-planning read-out: a row with a high
    * count means the two feeds mirror each other and one refresh can
    * be demoted; a source whose row set is empty duplicates only
    * internally. Shape: the shared pair-mining + CC kernel, then the
    * matrix is built on the DISTINCT (cluster, source) frame —
    * ≤ clusters×sources rows, and the self-join output is bounded by
    * sources² (~400 cells), never by docs. */
  def sourceMatrix(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccard(spark, sfDir, threshold)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val m = adaptiveComponents(pairs)
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"source"),
        "doc_id")
      .select($"label", $"source").distinct()
      .localCheckpoint() // both self-join sides reuse the tiny frame
    m.as("a").join(m.as("b"),
        $"a.label" === $"b.label" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"))
  }
}
