package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{bagBound, sortedIntersectCount}
import graft.llm.Dedup

/** Property-based checks (ScalaCheck) for the custom operators whose
  * correctness depends on algebra, not on any one fixture:
  *  - TopKStructs must agree with sort-take-k on arbitrary data
  *    (partial aggregation + merge across partitions included);
  *  - connectedComponents must agree with a sequential union-find on
  *    arbitrary graphs (pointer jumping included).
  */
class PropertySpec extends SparkSpec {

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"$name: $res")
  }

  test("top_k_structs equals sort-take-k on arbitrary (group, score, id) data") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rowsGen = Gen.nonEmptyListOf(for {
      g <- Gen.choose(0L, 6L)
      s <- Gen.choose(-100L, 100L)
      i <- Gen.choose(0L, 1000L)
    } yield (g, s, i))
    check("topk", Prop.forAll(rowsGen, Gen.choose(1, 5)) { (rows, k) =>
      val df = rows.toDF("g", "s", "i").repartition(4)
      val got = df.groupBy($"g")
        .agg(expr(s"top_k_structs(struct(s, i), $k, array(false, true), array(false, false))").as("t"))
        .select($"g", explode($"t").as("x"))
        .select($"g", $"x.s", $"x.i").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toList).toMap
      val expected = rows.groupBy(_._1).view.mapValues {
        _.map(t => (t._2, t._3)).sortBy { case (s, i) => (-s, i) }.take(k)
      }.toMap
      got == expected
    })
  }

  test("winnow fingerprints equal a reference implementation on random ASCII text") {
    import spark.implicits._
    val textGen = Gen.nonEmptyListOf(
      Gen.frequency(8 -> Gen.alphaLowerChar, 2 -> Gen.const(' ')))
      .map(_.mkString)
    check("winnow", Prop.forAll(Gen.nonEmptyListOf(textGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src") }
        .toDF("doc_id", "text", "lang", "source")
      val tmp = tempDir("winnow-prop")
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.llm.TextOps.winnowFingerprints(spark, tmp)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // reference: direct Rabin-Karp + window-min in plain Scala
      val (b, m, k, w) = (1000003L, 2147483647L, 8, 4)
      val expected = texts.zipWithIndex.map { case (text, i) =>
        val s = text.trim.toLowerCase
        val n = math.max(0, s.length - k + 1)
        val hs = (0 until n).map { p =>
          s.substring(p, p + k).foldLeft(0L)((h, c) => (h * b + c) % m)
        }
        val fps = (0 to hs.length - w).map(p => hs.slice(p, p + w).min).distinct
        i.toLong -> ((fps.size.toLong,
          if (fps.isEmpty) 0L else fps.min, if (fps.isEmpty) 0L else fps.max))
      }.toMap
      got == expected
    })
  }

  test("connectedComponents equals sequential union-find on arbitrary graphs") {
    import spark.implicits._
    val edgesGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 30L)
      b <- Gen.choose(0L, 30L)
      if a != b
    } yield (math.min(a, b), math.max(a, b)))
    check("cc", Prop.forAll(edgesGen) { edges =>
      val labels = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"), maxIters = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sequential union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // same components ⟺ identical min-label per node
      val expected = nodes.map { n =>
        val root = find(n)
        n -> nodes.filter(m => find(m) == root).min
      }.toMap
      labels == expected
    })
  }

  test("pagerank conserves mass and matches dense iteration on random graphs") {
    import spark.implicits._
    import graft.operators.PageRank
    val edgesGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 8L)
      b <- Gen.choose(0L, 8L)
      if a != b
    } yield (a, b)).map(_.distinct)
    // fewer cases than the cheap properties: each run is a full
    // iterative job chain
    def checkFew(name: String, prop: Prop): Unit = {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
      assert(res.passed, s"$name: $res")
    }
    checkFew("pagerank", Prop.forAll(edgesGen) { edges =>
      val iters = 8
      val got = PageRank.run(spark, edges.toDF("src", "dst"), iters = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var r = vs.map(_ -> 1.0 / vs.size).toMap
      for (_ <- 1 to iters) {
        val dangling = vs.filterNot(out.contains).map(r).sum
        r = vs.map { v =>
          val in = out.collect { case (s, ds) if ds.contains(v) =>
            r(s) / ds.size }.sum
          v -> ((1.0 - 0.85) / vs.size + 0.85 * (in + dangling / vs.size))
        }.toMap
      }
      val close = vs.forall(v => math.abs(got(v) - r(v)) < 1e-9)
      close && math.abs(got.values.sum - 1.0) < 1e-9
    })
  }

  test("packSequences conserves tokens/docs and fills every non-final sequence on random corpora") {
    import spark.implicits._
    val budget = 16
    // small vocab, doc lengths 1..40 so docs regularly span boundaries
    val docGen = for {
      n <- Gen.choose(1, 40)
      ws <- Gen.listOfN(n, Gen.choose(0, 30).map(i => s"w$i"))
      src <- Gen.oneOf("a", "b")
    } yield (ws.mkString(" "), src)
    def checkFew(name: String, prop: Prop): Unit = {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
      assert(res.passed, s"$name: $res")
    }
    checkFew("pack", Prop.forAll(Gen.nonEmptyListOf(docGen)) { docs =>
      val rows = docs.zipWithIndex.map { case ((t, s), i) => (i.toLong, t, "en", s) }
      val tmp = tempDir("pack-prop")
      rows.toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.llm.TextOps.packSequences(spark, tmp, budget)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val bySrc = rows.groupBy(_._4)
      bySrc.forall { case (src, ds) =>
        val lens = ds.sortBy(_._1)
          .map(_._2.trim.toLowerCase.split("\\s+").length.toLong)
        val totalToks = lens.sum
        val seqs = got.filter(_._1._1 == src)
        val lastSeq = (totalToks - 1) / budget
        // token conservation, budget-exact non-final sequences, and
        // continuation counts derived from the prefix-sum intervals
        val starts = lens.scanLeft(0L)(_ + _).dropRight(1)
        val contWant = starts.zip(lens).flatMap { case (st, n) =>
          (st / budget to (st + n - 1) / budget)
            .filter(seq => st < seq * budget).map(seq => seq)
        }.groupBy(identity).view.mapValues(_.size.toLong).toMap
        seqs.values.map(_._3).sum == totalToks &&
          seqs.forall { case ((_, seq), (nd, nc, nt)) =>
            nd >= 1 &&
              (if (seq < lastSeq) nt == budget.toLong else nt <= budget.toLong) &&
              nc == contWant.getOrElse(seq, 0L)
          } &&
          seqs.keySet.map(_._2) == (0L to lastSeq).toSet
      }
    })
  }

  test("spanCoverage equals brute-force interval union on random small-vocab corpora") {
    import spark.implicits._
    val k = 3
    // 4-word vocab + short docs: duplicated k-spans arise constantly
    val docGen = for {
      n <- Gen.choose(k, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("x", "y", "z", "q"))
    } yield ws.mkString(" ")
    def checkFew(name: String, prop: Prop): Unit = {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
      assert(res.passed, s"$name: $res")
    }
    checkFew("span", Prop.forAll(Gen.nonEmptyListOf(docGen)) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      val tmp = tempDir("span-prop")
      rows.toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.llm.Dedup.spanCoverage(spark, tmp, k)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val toks = rows.map { case (id, t, _, _) => id -> t.split("\\s+") }
      val holders = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
      toks.foreach { case (id, ts) =>
        (0 to ts.length - k).foreach { i =>
          holders.getOrElseUpdate(ts.slice(i, i + k).mkString(" "),
            scala.collection.mutable.Set.empty) += id
        }
      }
      val dup = holders.filter(_._2.size > 1).keySet
      toks.forall { case (id, ts) =>
        val pos = (0 to ts.length - k)
          .filter(i => dup.contains(ts.slice(i, i + k).mkString(" ")))
        val covered = pos.flatMap(i => i until i + k).toSet.size.toLong
        got(id) == ((ts.length.toLong, pos.length.toLong, covered))
      }
    })
  }

  test("sorted_intersect_count equals set intersection on sorted arrays") {
    import spark.implicits._
    val genSet = Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct.sorted)
    check("sorted merge == set intersect", Prop.forAll(genSet, genSet) {
      (a: List[Long], b: List[Long]) =>
        val got = Seq((a, b)).toDF("a", "b")
          .select(sortedIntersectCount(col("a"), col("b")))
          .first().getInt(0)
        got == (a.toSet intersect b.toSet).size
    })
  }

  test("bag_bound never exceeds true edit distance on arbitrary strings") {
    import spark.implicits._
    val alphabet = "abcd " // small alphabet maximizes histogram collisions
    val genStr = for {
      n <- Gen.choose(0, 30)
      cs <- Gen.listOfN(n, Gen.oneOf(alphabet.toSeq))
    } yield cs.mkString
    def hist(s: String): Seq[Int] = alphabet.map(c => s.count(_ == c))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    check("bag_bound lower-bounds levenshtein", Prop.forAll(genStr, genStr) {
      (a: String, b: String) =>
        val got = Seq((hist(a), hist(b))).toDF("fa", "fb")
          .select(bagBound(col("fa"), col("fb")))
          .first().getInt(0)
        // the Catalyst expression computes the bag bound exactly...
        val ins = alphabet.map(c => math.max(0, a.count(_ == c) - b.count(_ == c))).sum
        val del = alphabet.map(c => math.max(0, b.count(_ == c) - a.count(_ == c))).sum
        got == math.max(ins, del) &&
          // ...and that bound never exceeds the true edit distance
          got <= lev(a, b)
    })
  }

  test("BloomKeys: driver probe equals executor build key on arbitrary values") {
    import spark.implicits._
    import graft.functions.BloomKeys
    import org.apache.spark.sql.types.{LongType, StringType}
    // strings (incl. unicode + empties) — the trace_id path
    val strGen = Gen.listOfN(16, for {
      s <- Gen.oneOf(Gen.alphaNumStr, Gen.const(""),
        Gen.nonEmptyListOf(Gen.oneOf('α', 'β', '中', '✓', 'a', '0'))
          .map(_.mkString))
    } yield s)
    check("bloomkeys-string", Prop.forAll(strGen) { ss =>
      val built = ss.toDF("s")
        .select(BloomKeys.keyCol(col("s"), StringType))
        .collect().map(_.getLong(0)).toSeq
      built == ss.map(BloomKeys.keyOf)
    })
    // longs across the full range — the event_id / micros path
    val longGen = Gen.listOfN(16, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    check("bloomkeys-long", Prop.forAll(longGen) { ls =>
      val built = ls.toDF("l")
        .select(BloomKeys.keyCol(col("l"), LongType))
        .collect().map(_.getLong(0)).toSeq
      built == ls.map(BloomKeys.keyOf)
    })
  }

  test("iceberg bucket transform: range, determinism, int-long promotion agreement") {
    import graft.catalog.IcebergPartitioning
    val nGen = Gen.oneOf(2, 4, 16, 128, 1021)
    check("bucket-range", Prop.forAll(
      Gen.chooseNum(Long.MinValue, Long.MaxValue), nGen) { (v, n) =>
      val b = IcebergPartitioning.bucketValue(n, v)
      b >= 0 && b < n && b == IcebergPartitioning.bucketValue(n, v)
    })
    // spec: int promotes to long before hashing — same bucket for the
    // same numeric value regardless of declared width
    check("bucket-promotion", Prop.forAll(
      Gen.chooseNum(Int.MinValue, Int.MaxValue), nGen) { (v, n) =>
      IcebergPartitioning.bucketValue(n, v.toLong) ==
        IcebergPartitioning.transformValue(s"bucket[$n]", v.toLong)
    })
    check("bucket-string-range", Prop.forAll(
      Gen.alphaNumStr.suchThat(_.nonEmpty), nGen) { (s, n) =>
      val b = IcebergPartitioning.bucketValueString(n, s)
      b >= 0 && b < n
    })
    // truncate: floors toward -inf, idempotent, order-preserving
    check("truncate", Prop.forAll(
      Gen.chooseNum(-1000000L, 1000000L),
      Gen.chooseNum(-1000000L, 1000000L),
      Gen.oneOf(1, 7, 10, 100)) { (a, b, w) =>
      val t = s"truncate[$w]"
      def tr(v: Long) = IcebergPartitioning.transformValue(t, v)
      tr(a) <= a && a - tr(a) < w &&
        tr(tr(a)) == tr(a) &&
        (a > b) == false || tr(a) >= tr(b) // monotone
    })
  }

  test("viterbi segmentation: coverage and optimality on random words and costs") {
    import graft.llm.TextOps
    val wordGen = Gen.chooseNum(1, TextOps.UniMaxWordLen).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val costGen = Gen.mapOf(Gen.zip(
      Gen.chooseNum(1, 4).flatMap(l =>
        Gen.listOfN(l, Gen.oneOf('a', 'b', 'c')).map(_.mkString)),
      Gen.chooseNum(1L, 1000000L)))
    check("viterbi", Prop.forAll(wordGen, costGen) { (w, extra) =>
      // chars always present (the seed's coverage guarantee)
      val cost = Map("a" -> 500000L, "b" -> 500000L, "c" -> 500000L) ++
        extra.filter(_._1.length > 1)
      val pieces = TextOps.viterbiPieces(w, cost)
      val covers = pieces.mkString == w
      val total = pieces.map(cost).sum
      // optimality vs brute force over all segmentations (len ≤ 12,
      // pieces ≤ 4 — the search space is small)
      def allCosts(s: String): Seq[Long] =
        if (s.isEmpty) Seq(0L)
        else (1 to math.min(4, s.length)).flatMap { k =>
          cost.get(s.substring(0, k)).toSeq.flatMap(c =>
            allCosts(s.substring(k)).map(_ + c))
        }
      covers && total == allCosts(w).min
    })
  }
}
