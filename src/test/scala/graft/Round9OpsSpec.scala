package graft

import scala.math.BigDecimal.RoundingMode

import graft.functions.GraftFunctions.cosineSim
import graft.llm.{Dedup, SimOps, TextOps}

/** r9 additions: BM25 lexical retrieval, hybrid RRF fusion, duplicated
  * token-span coverage (exact substring dedup), and concat-and-chunk
  * sequence packing. Every test is a from-scratch Scala re-derivation
  * compared EXACTLY against the Spark pipeline — no tolerance, same
  * integer quantization.
  */
class Round9OpsSpec extends SparkSpec {

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, RoundingMode.HALF_UP).toDouble
  private def roundL(x: Double): Long =
    BigDecimal(x).setScale(0, RoundingMode.HALF_UP).toLong

  private lazy val docs: Array[(Long, String)] = {
    import spark.implicits._
    Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().sortBy(_._1)
  }

  private val queryTerms = Seq("dup", "vector", "scan")

  /** Plain-Scala BM25 (k1=1.2, b=0.75) with the pipeline's exact
    * quantization: ln rounded to 4 decimals, per-term contribution to
    * integer micro-units. */
  private def referenceBm25(): Map[Long, (Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+") }
    val n = toks.length.toLong
    val sumDl = toks.map(_._2.length.toLong).sum
    val avgDl = sumDl.toDouble / n
    val df = queryTerms.map { q =>
      q -> toks.count(_._2.contains(q)).toLong
    }.toMap
    toks.flatMap { case (id, ts) =>
      val dl = ts.length.toLong
      val contribs = queryTerms.flatMap { q =>
        val cnt = ts.count(_ == q).toLong
        if (cnt == 0) None
        else {
          val idf4 = round4(math.log(1.0 + (n - df(q) + 0.5) / (df(q) + 0.5)))
          Some(roundL(1e6 * idf4 * (cnt * (1.2 + 1.0)) /
            (cnt + 1.2 * (0.25 + 0.75 * dl / avgDl))))
        }
      }
      if (contribs.isEmpty) None
      else Some(id -> (contribs.length.toLong, contribs.sum))
    }.toMap
  }

  test("bm25Scores matches a from-scratch Okapi BM25 exactly (integer micro-units)") {
    val got = TextOps.bm25Scores(spark, sf, queryTerms).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hit_terms"), r.getAs[Long]("score_micro"))).toMap
    val want = referenceBm25()
    assert(got.keySet === want.keySet)
    got.foreach { case (id, v) => assert(v === want(id), s"doc $id") }
    assert(got.nonEmpty)
  }

  test("bm25 top-k ranking is the reference ordering with doc_id tie-break") {
    val want = referenceBm25().toSeq
      .sortBy { case (id, (_, score)) => (-score, id) }.take(20)
      .zipWithIndex.map { case ((id, (hits, score)), i) =>
        (id, hits, score, i + 1L) }
    val got = TextOps.bm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit_terms"),
        r.getAs[Long]("score_micro"), r.getAs[Long]("rnk")))
      .sortBy(_._4)
    assert(got.toSeq === want)
  }

  test("spanCoverage equals brute-force duplicated-span interval union") {
    val k = 10
    val toks = docs.map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+") }
    val spanHolders = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    toks.foreach { case (id, ts) =>
      (0 to ts.length - k).foreach { i =>
        val key = ts.slice(i, i + k).mkString(" ")
        spanHolders.getOrElseUpdate(key, scala.collection.mutable.Set.empty) += id
      }
    }
    val dup = spanHolders.filter(_._2.size > 1).keySet
    val want = toks.map { case (id, ts) =>
      val positions = (0 to ts.length - k)
        .filter(i => dup.contains(ts.slice(i, i + k).mkString(" ")))
      val covered = positions.flatMap(i => i until i + k).toSet.size.toLong
      id -> (ts.length.toLong, positions.length.toLong, covered)
    }.toMap
    val got = Dedup.spanCoverage(spark, sf, k).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_spans"),
         r.getAs[Long]("covered_tokens"), r.getAs[Double]("dup_frac")))
      .toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, (n, nd, cov)) =>
      val (gn, gnd, gcov, gfrac) = got(id)
      assert(gn === n, s"doc $id n_tokens")
      assert(gnd === nd, s"doc $id n_dup_spans")
      assert(gcov === cov, s"doc $id covered_tokens")
      assert(gfrac === cov.toDouble / n, s"doc $id dup_frac")
    }
    // the signal is non-trivial on the test corpus: some doc has a
    // duplicated span, and no doc exceeds full coverage
    assert(got.values.exists(_._3 > 0))
    got.values.foreach { case (n, _, cov, _) => assert(cov <= n) }
  }

  test("spanApply keeps exactly the docs at or under the coverage cutoff") {
    val cov = Dedup.spanCoverage(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_frac")).toMap
    val got = Dedup.spanApply(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(got.keySet === cov.keySet)
    got.foreach { case (id, keep) => assert(keep === (cov(id) <= 0.2), s"doc $id") }
    // the cutoff bites on the test corpus: both outcomes occur
    assert(got.values.exists(identity) && got.values.exists(!_))
  }

  test("packSequences: full sequences hold exactly the budget; totals and continuations conserved") {
    import spark.implicits._
    val budget = 256
    val rows = Tables.documents(spark, sf)
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect()
    val want = scala.collection.mutable.Map.empty[(String, Long), (Long, Long, Long)]
    rows.groupBy(_._1).foreach { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).foreach { case (_, _, text) =>
        val nTok = text.trim.toLowerCase.split("\\s+").length.toLong
        val start = cum; val end = cum + nTok; cum = end
        (start / budget to (end - 1) / budget).foreach { seq =>
          val inSeq = math.min(end, (seq + 1) * budget) -
            math.max(start, seq * budget)
          val cont = if (start < seq * budget) 1L else 0L
          val prev = want.getOrElse((src, seq), (0L, 0L, 0L))
          want((src, seq)) = (prev._1 + 1, prev._2 + cont, prev._3 + inSeq)
        }
      }
    }
    val got = TextOps.packSequences(spark, sf, budget).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("seq_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_continuations"),
         r.getAs[Long]("n_tokens"))).toMap
    assert(got === want.toMap)
    // every sequence except each source's last is packed to the budget
    got.groupBy(_._1._1).foreach { case (src, seqs) =>
      val lastSeq = seqs.keys.map(_._2).max
      seqs.foreach { case ((_, seq), (_, _, nTok)) =>
        if (seq < lastSeq) assert(nTok === budget.toLong, s"$src seq $seq")
        else assert(nTok <= budget.toLong)
      }
    }
  }

  test("bigramSurprisal matches a from-scratch interpolated bigram LM exactly") {
    val lambda = 0.75
    val toks = docs.map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+") }
    val uni = scala.collection.mutable.Map.empty[String, Long]
    toks.foreach(_._2.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1))
    val total = uni.values.sum
    val cb = scala.collection.mutable.Map.empty[(String, String), Long]
    toks.foreach { case (_, ts) =>
      ts.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        cb((a, b)) = cb.getOrElse((a, b), 0L) + 1
      }
    }
    def sMicro(w1: String, w2: String): Long = {
      val p = lambda * cb((w1, w2)) / uni(w1) +
        (1.0 - lambda) * uni(w2) / total
      roundL(1e6 * round4(-math.log(p) / math.log(2.0)))
    }
    val want = toks.flatMap { case (id, ts) =>
      val bigrams = ts.sliding(2).filter(_.length == 2).toSeq
      if (bigrams.isEmpty) None
      else {
        val s = bigrams.map { case Array(a, b) => sMicro(a, b) }.sum
        val mean = BigDecimal(s.toDouble / (1e6 * bigrams.length))
          .setScale(4, RoundingMode.HALF_UP).toDouble
        Some(id -> (bigrams.length.toLong, s, mean))
      }
    }.toMap
    val got = TextOps.bigramSurprisal(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_s_micro"),
         r.getAs[Double]("mean_bits"))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, w) => assert(got(id) === w, s"doc $id") }
    assert(got.nonEmpty)
  }

  test("quantized PageRank conserves mass and matches a from-scratch power iteration") {
    import spark.implicits._
    // reference: same integer micro-unit update, computed in plain Scala
    val le = Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_partkey").as[(Long, Long)].collect()
      .groupBy(identity).map { case ((s, p), xs) =>
        (s"s$s", s"p$p", xs.length.toLong) }.toSeq
    val edges = le ++ le.map { case (s, p, w) => (p, s, w) }
    val outW = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    val verts = edges.map(_._1).distinct.sorted
    val n = verts.length.toLong
    var rm = verts.map(_ -> math.round(1e6 / n)).toMap
    val base = math.round(0.15 * 1e6 / n)
    (1 to 6).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, w) =>
          math.round(0.85 * rm(src) * w / outW(src)) }.sum
      }
      rm = verts.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
    }
    val want = rm.toSeq.sortBy { case (v, r) => (-r, v) }.take(25)
      .zipWithIndex.map { case ((v, r), i) => (v, r, i + 1L) }
    val got = graft.operators.PageRank.bipartiteExact(spark, sf).collect()
      .map(r => (r.getAs[String]("vertex"), r.getAs[Long]("rank_micro"),
        r.getAs[Long]("rnk"))).sortBy(_._3)
    assert(got.toSeq === want)
    // damped rank mass stays within quantization slack of 1e6
    val total = rm.values.sum
    assert(math.abs(total - 1000000L) < n * 2,
      s"rank mass $total drifted from 1e6")
    // parts and suppliers both appear in the top-25 of a bipartite graph
    assert(got.exists(_._1.startsWith("p")) && got.exists(_._1.startsWith("s")))
  }

  test("dsirWeights ranks target-domain docs above the corpus average") {
    import spark.implicits._
    val res = TextOps.dsirWeights(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("weight_micro"), r.getAs[Long]("wpk_milli"),
        r.getAs[Long]("rnk")))
    assert(res.length === 100)
    assert(res.map(_._5).sorted.toSeq === (1L to 100L))
    // ranking is by normalized weight with doc_id tie-break
    val sorted = res.sortBy(_._5)
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && a._1 < b._1))
    }
    // importance weighting favors the target domain: the mean normalized
    // weight of selected target-source docs exceeds the selection's mean
    val srcOf = Tables.documents(spark, sf)
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val tgtSel = sorted.filter(r => Set("src7", "src18")(srcOf(r._1)))
    assert(tgtSel.nonEmpty, "no target-domain doc selected")
    val meanTgt = tgtSel.map(_._4).sum.toDouble / tgtSel.length
    val meanAll = sorted.map(_._4).sum.toDouble / sorted.length
    assert(meanTgt >= meanAll,
      s"target-domain mean $meanTgt below selection mean $meanAll")
  }

  test("triangleSupport matches brute-force triangle enumeration") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)]
      .collect().distinct
    val edges = li.groupBy(_._1).values.toSeq.flatMap { grp =>
      val ps = grp.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    // brute force: adjacency sets, count triangles a<b<c by id
    val nbr = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      nbr.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      nbr.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val nodes = nbr.keys.toSeq.sorted
    var totalTri = 0L
    // per-ORIENTED-edge support under the operator's (degree, id) rank:
    val deg = nodes.map(n => n -> nbr(n).size.toLong).toMap
    val rank = nodes.sortBy(n => (deg(n), n)).zipWithIndex
      .map { case (n, i) => n -> (i + 1).toLong }.toMap
    val supWant = scala.collection.mutable.Map.empty[(Long, Long), Long]
    edges.foreach { case (a, b) =>
      val (s, t) = if (rank(a) < rank(b)) (a, b) else (b, a)
      // common neighbors with rank above BOTH (out-neighbors of each)
      val cs = nbr(s).filter(c => rank(c) > rank(s) && rank(c) > rank(t) &&
        nbr(t).contains(c))
      supWant((s, t)) = cs.size.toLong
      totalTri += cs.size
    }
    val got = graft.operators.Triangles.triangleSupport(spark, sf).collect()
      .map(r => (r.getAs[Long]("part_u"), r.getAs[Long]("part_v"),
        r.getAs[Long]("support"), r.getAs[Long]("total_triangles"),
        r.getAs[Long]("rnk"))).sortBy(_._5)
    assert(got.nonEmpty && got.forall(_._4 === totalTri),
      s"global count mismatch: got=${got.headOption.map(_._4)} want=$totalTri")
    val wantTop = supWant.toSeq
      .map { case ((s, t), c) => (s, t, c) }
      .sortBy { case (s, t, c) => (-c, s, t) }.take(20)
      .zipWithIndex.map { case ((s, t, c), i) => (s, t, c, totalTri, i + 1L) }
    assert(got.toSeq === wantTop)
    assert(totalTri > 0L, "test graph has no triangles — fixture too weak")
  }

  test("hybridRrf equals RRF fusion of the two independently-derived rank lists") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // dense list via an independent window formulation
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val q = emb.filter($"vec_id" === 0).select($"vec".as("qvec"))
    val vecRanks = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .withColumn("cos6", round(cosineSim($"vec", $"qvec"), 6))
      .withColumn("rnk", row_number().over(
        Window.orderBy($"cos6".desc, $"vec_id".asc)))
      .filter($"rnk" <= 30)
      .select($"vec_id", $"rnk").as[(Long, Int)].collect().toMap
    val lexRanks = referenceBm25().toSeq
      .sortBy { case (id, (_, s)) => (-s, id) }.take(30)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val ids = vecRanks.keySet ++ lexRanks.keySet
    def contrib(r: Option[Int]): Long =
      r.map(rr => roundL(1e6 / (60.0 + rr))).getOrElse(0L)
    val want = ids.map { id =>
      id -> (contrib(vecRanks.get(id)) + contrib(lexRanks.get(id)),
             vecRanks.get(id).map(_.toLong), lexRanks.get(id).map(_.toLong))
    }.toSeq.sortBy { case (id, (s, _, _)) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, (s, rv, rl)), i) => (id, rv, rl, s, i + 1L) }
    val got = SimOps.hybridRrf(spark, sf).collect()
      .map(r => (r.getAs[Long]("item_id"),
        Option(r.getAs[java.lang.Long]("rank_vec")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("rank_lex")).map(_.toLong),
        r.getAs[Long]("rrf_micro"), r.getAs[Long]("rnk")))
      .sortBy(_._5)
    assert(got.toSeq === want)
    assert(got.length === 10)
    got.foreach(g => assert(g._4 > 0L))
  }
}
