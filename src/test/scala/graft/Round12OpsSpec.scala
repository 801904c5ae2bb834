package graft

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.functions.{round, when, lit, year}

import graft.llm.{Dedup, TextOps}
import graft.telemetry.Telemetry

/** r12 additions: DDSketch quantiles, PSI drift, classical seasonal
  * decomposition, fastText-style quality scoring. Every test is a
  * from-scratch Scala re-derivation compared EXACTLY against the Spark
  * pipeline (same integer quantization, same rounding), plus the
  * operator-defining analytic properties: the DDSketch relative-error
  * guarantee and shard-merge associativity, PSI term non-negativity,
  * and the additive-decomposition identity y = trend + seasonal +
  * residual.
  */
class Round12OpsSpec extends SparkSpec {

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, RoundingMode.HALF_UP).toDouble
  private def roundL(x: Double): Long =
    BigDecimal(x).setScale(0, RoundingMode.HALF_UP).toLong

  private def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  // ---- shared event fixture ------------------------------------------

  private lazy val events: Array[(String, Long, Double)] = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select($"event_type", org.apache.spark.sql.functions.unix_micros($"ts"),
        $"value")
      .as[(String, Long, Double)].collect()
  }

  /** √2-grid DDSketch bucket index: ⌈log2 v100²⌉ = bits(v100²−1). */
  private def bucketIdx(v100: Long): Long =
    if (v100 == 1) 0L else 64L - java.lang.Long.numberOfLeadingZeros(v100 * v100 - 1)

  private def v100Of(value: Double): Long =
    math.max(roundL(value * 100), 1L)

  // from-scratch sketch per key: (bucketIdx -> count)
  private lazy val rawBuckets: Map[String, Map[Long, Long]] =
    events.filter(_._3 > 0).groupBy(_._1).map { case (k, rows) =>
      k -> rows.groupBy(r => bucketIdx(v100Of(r._3)))
        .map { case (i, rs) => i -> rs.length.toLong }
    }

  test("ddsketch matches a from-scratch collapse + quantile read-out") {
    val m = 12
    val gamma1 = 1.0 + math.sqrt(2.0)
    val want = rawBuckets.map { case (k, bm) =>
      val sortedDesc = bm.keys.toSeq.sorted.reverse
      val cutoff = sortedDesc.take(m).min
      val collapsedN = sortedDesc.drop(m).map(bm).sum
      val kept = bm.groupBy { case (i, _) => math.max(i, cutoff) }
        .map { case (ki, e) => ki -> e.values.sum }
      val n = kept.values.sum
      val asc = kept.toSeq.sortBy(_._1)
      def est(rank: Long): Double = {
        var cum = 0L
        var out = Double.NaN
        asc.foreach { case (ki, c) =>
          val prev = cum; cum += c
          if (out.isNaN && cum >= rank && prev < rank)
            out = round4(2.0 * math.sqrt(math.pow(2.0, ki.toDouble)) / gamma1 / 100.0)
        }
        out
      }
      def rank(q: Double): Long = math.ceil(q * n).toLong
      k -> ((n, bm.size.toLong, kept.size.toLong, collapsedN,
        est(rank(0.50)), est(rank(0.95)), est(rank(0.99)), asc.last._1))
    }
    val got = Telemetry.ddsketch(spark, sf).collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n"),
        r.getAs[Long]("n_buckets_raw"), r.getAs[Long]("n_buckets_kept"),
        r.getAs[Long]("collapsed_n"), r.getAs[Double]("p50_est"),
        r.getAs[Double]("p95_est"), r.getAs[Double]("p99_est"),
        r.getAs[Long]("max_idx")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // collapse actually engaged on the fixture
    assert(got.values.exists(_._4 > 0L), "no bucket mass was collapsed")
  }

  test("ddsketch estimates honor the (γ−1)/(γ+1) relative-error bound") {
    val alpha = (math.sqrt(2.0) - 1) / (math.sqrt(2.0) + 1) // ≈ 0.1716
    val exactByKey = events.filter(_._3 > 0).groupBy(_._1).map { case (k, rows) =>
      k -> rows.map(r => v100Of(r._3).toDouble / 100.0).sorted
    }
    Telemetry.ddsketch(spark, sf).collect().foreach { r =>
      val k = r.getAs[String]("event_type")
      val sorted = exactByKey(k)
      Seq(0.50 -> "p50_est", 0.95 -> "p95_est", 0.99 -> "p99_est").foreach {
        case (q, col) =>
          val exact = sorted((math.ceil(q * sorted.length) - 1).toInt)
          val est = r.getAs[Double](col)
          assert(math.abs(est - exact) / exact <= alpha + 1e-9,
            s"$k $col: est $est vs exact $exact exceeds α")
      }
    }
  }

  test("bucketIdx satisfies the defining γ-bucket inequality on random input") {
    // i = ⌈log_√2 v100⌉ must mean γ^(i−1) < v100 ≤ γ^i, i.e.
    // 2^(i−1) < v100² ≤ 2^i — checked EXACTLY with BigInt, no floats,
    // against the bits(v100²−1) implementation trick
    val rnd = new scala.util.Random(7)
    val values = Seq(0.005, 0.01, 0.015, 490.02, 1e6,
      // past the squared-bits wrap point (v100 > ~3.04e9, where the old
      // bits(v100²−1) form overflowed int64 and silently yielded 64) up
      // to the edge of the centi-unit grid itself
      3.1e7, 4.0e7, 1e9, 1e12, 8.9e16) ++
      (1 to 2000).map(_ => rnd.nextDouble() * rnd.nextInt(100000) + 0.001) ++
      // magnitude sweep across the whole grid incl. huge values
      (1 to 500).map(_ => math.pow(10, rnd.nextDouble() * 18 - 2)) ++
      // power-of-two and ±1 edges of v100 (exact-boundary cases of the
      // no-squaring index: 2f vs 2f+1 vs 2f+2)
      (1 to 62).flatMap(f => Seq((1L << f) - 1, 1L << f, (1L << f) + 1)
        .map(_ / 100.0))
    values.filter(_ <= graft.functions.DdsketchKernel.MaxValue).foreach { v =>
      val i = graft.functions.DdsketchKernel.bucketIdx(v)
      val v100 = math.max(roundL(v * 100), 1L)
      val sq = BigInt(v100) * BigInt(v100)
      if (v100 == 1L) assert(i === 0L)
      else {
        assert(sq <= BigInt(2).pow(i.toInt), s"v=$v v100=$v100 i=$i upper")
        assert(sq > BigInt(2).pow(i.toInt - 1), s"v=$v v100=$v100 i=$i lower")
      }
    }
    // values beyond the grid fail loud, never bucket wrong
    val ex = intercept[IllegalArgumentException] {
      graft.functions.DdsketchKernel.bucketIdx(1e17)
    }
    assert(ex.getMessage.contains("int64 range"))
  }

  test("ddsketch bucket maps merge associatively across shards") {
    // the representation the 100 TB path shuffles: per-shard bucket
    // maps summed key-wise equal the global map
    val byShard = events.filter(_._3 > 0)
      .groupBy(r => (r._1, hash60(r._2.toString) % 4))
      .map { case (sk, rows) =>
        sk -> rows.groupBy(r => bucketIdx(v100Of(r._3)))
          .map { case (i, rs) => i -> rs.length.toLong }
      }
    val merged = byShard.toSeq.groupBy(_._1._1).map { case (k, shards) =>
      k -> shards.flatMap(_._2.toSeq).groupBy(_._1)
        .map { case (i, cs) => i -> cs.map(_._2).sum }
    }
    assert(merged === rawBuckets)
  }

  test("ddsketch_agg native aggregate equals the relational pipeline") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n"),
        r.getAs[Long]("n_buckets_raw"), r.getAs[Long]("n_buckets_kept"),
        r.getAs[Long]("collapsed_n"), r.getAs[Double]("p50_est"),
        r.getAs[Double]("p95_est"), r.getAs[Double]("p99_est"),
        r.getAs[Long]("max_idx")))
    }.toMap
    val native = rows(Telemetry.ddsketchNative(spark, sf))
    val relational = rows(Telemetry.ddsketch(spark, sf))
    assert(native === relational)
    assert(native.nonEmpty)
  }

  // ---- PSI drift ------------------------------------------------------

  test("psiDrift matches a from-scratch micro-quantized recompute") {
    val pos = events.filter(_._3 > 0)
    val lo = pos.map(_._2).min
    val hi = pos.map(_._2).max
    val mid = lo + (hi - lo) / 2
    val want = pos.groupBy(_._1).map { case (k, rows) =>
      val binned = rows.groupBy(r => bucketIdx(v100Of(r._3))).map {
        case (i, rs) =>
          i -> (rs.count(_._2 < mid).toLong, rs.count(_._2 >= mid).toLong)
      }
      val nRef = binned.values.map(_._1).sum
      val nCur = binned.values.map(_._2).sum
      val nb = binned.size.toLong
      val termsMicro = binned.values.map { case (cRef, cCur) =>
        val lnr = round4(math.log(
          ((cRef + 1) * (nCur + nb)).toDouble / ((cCur + 1) * (nRef + nb)).toDouble))
        val pdiff = (cRef + 1).toDouble / (nRef + nb) -
          (cCur + 1).toDouble / (nCur + nb)
        // the un-rounded PSI term is non-negative by construction:
        // sign(p−q) = sign(ln(p/q))
        assert(pdiff * lnr >= -1e-12, s"negative PSI term in $k")
        roundL(1e6 * pdiff * lnr)
      }
      val psi = termsMicro.sum.toDouble / 1e6
      k -> ((nRef, nCur, nb, psi, psi >= 0.2))
    }
    val got = Telemetry.psiDrift(spark, sf).collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_cur"), r.getAs[Long]("n_bins"),
        r.getAs[Double]("psi"), r.getAs[Boolean]("drifted")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  // ---- seasonal decomposition ----------------------------------------

  test("seasonal matches a from-scratch decomposition and reconstructs y") {
    val hourUs = 3600L * 1000000L
    val hourly = events.groupBy(r => (r._1, r._2 / hourUs))
      .map { case (k, rows) => k -> rows.length.toLong }
    val want = hourly.keys.groupBy(_._1).flatMap { case (k, ks) =>
      val h0 = ks.map(_._2).min
      val h1 = ks.map(_._2).max
      val dense = (h0 to h1).map(h => h -> hourly.getOrElse((k, h), 0L))
      val interior = dense.indices
        .filter(i => i >= 12 && i + 12 < dense.length)
        .map { i =>
          val sum25 = (i - 12 to i + 12).map(j => dense(j)._2).sum
          val (h, y) = dense(i)
          (h, y, sum25, 40000L * (25L * y - sum25))
        }
      val sMicro = interior.groupBy(t => (t._1 % 24))
        .map { case (hod, rs) =>
          hod -> roundL(rs.map(_._4).sum.toDouble / rs.length)
        }
      interior.map { case (h, y, sum25, detr) =>
        val s = sMicro(h % 24)
        val ts = java.time.Instant.ofEpochSecond(h * 3600)
        val str = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss")
          .withZone(java.time.ZoneOffset.UTC).format(ts)
        (k, str) -> ((y, sum25.toDouble / 25,
          s.toDouble / 1e6, (detr - s).toDouble / 1e6))
      }
    }
    val got = Telemetry.seasonal(spark, sf).collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[String]("hour_start")) ->
        ((r.getAs[Long]("y"), r.getAs[Double]("trend"),
          r.getAs[Double]("seasonal"), r.getAs[Double]("residual")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // additive identity up to the three display roundings
    got.values.foreach { case (y, t, s, res) =>
      assert(math.abs(y - (t + s + res)) <= 2e-4)
    }
  }

  // ---- interval overlap join ------------------------------------------

  test("intervalOverlap matches brute-force per-supplier pair counting") {
    import spark.implicits._
    val iv = Tables.lineitem(spark, sf)
      .selectExpr("l_suppkey", "l_orderkey", "CAST(l_linenumber AS LONG)",
        "CAST(l_quantity AS LONG)",
        "unix_micros(l_shipdate) div 86400000000",
        "unix_micros(l_shipdate) div 86400000000 + 1 + CAST(l_quantity AS LONG) % 14")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val want = iv.groupBy(_._1).map { case (s, rows) =>
      // the operator's pair identity: strict lexicographic (ok, ln, lo, q)
      val sorted = rows.sortBy(r => (r._2, r._3, r._5, r._4))
      val overlaps = for {
        i <- sorted.indices
        j <- (i + 1) until sorted.length
        a = sorted(i); b = sorted(j)
        if a._5 <= b._6 && b._5 <= a._6
      } yield math.min(a._6, b._6) - math.max(a._5, b._5) + 1
      s -> ((rows.length.toLong, overlaps.length.toLong,
        overlaps.sum, if (overlaps.isEmpty) 0L else overlaps.max))
    }
    val got = graft.operators.RangeJoin.intervalOverlap(spark, sf).collect()
      .map { r =>
        r.getAs[Long]("suppkey") -> ((r.getAs[Long]("n_intervals"),
          r.getAs[Long]("n_overlap_pairs"), r.getAs[Long]("sum_overlap_days"),
          r.getAs[Long]("max_overlap_days")))
      }.toMap
    assert(got === want)
    assert(got.values.exists(_._2 > 0L))
  }

  // ---- A/B test --------------------------------------------------------

  test("abTest matches a from-scratch Welch t-test on the hash split") {
    import spark.implicits._
    val evu = Tables.events(spark, sf)
      .selectExpr("event_type", "user_id", "value")
      .as[(String, Long, Double)].collect()
    val expect = evu.groupBy(_._1).map { case (k, rows) =>
      val armed = rows.map { case (_, u, v) =>
        (hash60(u.toString) % 2, math.max(roundL(v * 100), 1L))
      }
      val a = armed.filter(_._1 == 0L).map(_._2)
      val b = armed.filter(_._1 == 1L).map(_._2)
      val (na, nb) = (a.length.toLong, b.length.toLong)
      val (sa, sb) = (a.sum, b.sum)
      val (qa, qb) = (a.map(x => x * x).sum.toDouble, b.map(x => x * x).sum.toDouble)
      val va = (qa - sa.toDouble * sa.toDouble / na) / (na - 1)
      val vb = (qb - sb.toDouble * sb.toDouble / nb) / (nb - 1)
      val varTerm = va / na + vb / nb
      val t = (sa.toDouble / na - sb.toDouble / nb) / math.sqrt(varTerm)
      val df = varTerm * varTerm /
        ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
      k -> ((na, nb, sa.toDouble / na / 100, sb.toDouble / nb / 100,
        sa.toDouble / na / 100 - sb.toDouble / nb / 100, t, df,
        math.abs(t) > 1.96))
    }
    val got = Telemetry.abTest(spark, sf).collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Double]("mean_a"),
        r.getAs[Double]("mean_b"), r.getAs[Double]("mean_diff"),
        r.getAs[Double]("t_stat"), r.getAs[Double]("df_welch"),
        r.getAs[Boolean]("significant")))
    }.toMap
    assert(got === expect)
    // a null split on uniform data should (almost surely) NOT alarm —
    // the gate must not fire on noise
    assert(got.values.count(_._8) <= 1)
  }

  // ---- BPE training ----------------------------------------------------

  test("bpeTrain matches a from-scratch merge loop and feeds back merges") {
    import spark.implicits._
    val texts = Tables.documents(spark, sf).select($"text")
      .as[String].collect()
    var words: Map[String, Long] = texts
      .flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      .map { case (w, f) => (" " + w.map(c => s"$c ").mkString) -> f }
      // distinct words map to distinct syms — no key collision
    val expect = Seq.newBuilder[(Long, String, String, Long)]
    for (step <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (sym, f) =>
        val t = sym.trim.split(" ")
        (0 until t.length - 1).foreach { i =>
          val p = s"${t(i)} ${t(i + 1)}"
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      val merged = pair.replace(" ", "")
      expect += ((step.toLong, pair, merged, n))
      words = words.toSeq.map { case (sym, f) =>
        sym.replace(s" $pair ", s" $merged ") -> f
      }.groupBy(_._1).map { case (sym, fs) => sym -> fs.map(_._2).sum }
    }
    val got = TextOps.bpeTrain(spark, sf).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("n")))
      .sortBy(_._1).toSeq
    assert(got === expect.result())
    // the loop genuinely feeds back: some later pair contains an
    // earlier step's merged multi-char symbol
    val mergedSyms = got.map(_._3).toSet
    assert(got.exists { case (_, pair, _, _) =>
      pair.split(" ").exists(s => s.length >= 2 && mergedSyms.contains(s))
    }, "no second-order merge learned in 8 steps")
  }

  test("bpeCurve: each merge saves exactly its pair count of tokens") {
    val merges = TextOps.bpeTrain(spark, sf).collect()
      .map(r => r.getAs[Long]("step") -> r.getAs[Long]("n")).toMap
    val curve = TextOps.bpeCurve(spark, sf).collect()
      .map(r => r.getAs[Long]("step") ->
        ((r.getAs[Long]("total_tokens"), r.getAs[Long]("total_words"),
          r.getAs[Double]("tokens_per_word"))))
      .toMap
    assert(curve.size === 9)
    // words never change count; tokens drop by exactly n_k per step
    (1L to 8L).foreach { k =>
      assert(curve(k)._2 === curve(0L)._2)
      assert(curve(k)._1 === curve(k - 1)._1 - merges(k),
        s"step $k: merge accounting broken")
    }
    // step 0 is the character baseline: Σ freq·|word|
    import spark.implicits._
    val charBase = Tables.documents(spark, sf).select($"text").as[String]
      .collect().flatMap(_.trim.toLowerCase.split("\\s+"))
      .filter(_.length >= 2).map(_.length.toLong).sum
    assert(curve(0L)._1 === charBase)
    assert(curve(8L)._3 === curve(8L)._1.toDouble / curve(8L)._2)
  }

  /** r12 (VERDICT #8): the batched trainer must hold the sequential
    * trainer's guarantees at a real merge count — 64 merges in ~8
    * driver rounds instead of 64, batch=1 degenerating to the
    * sequential picks bit-for-bit, and every round's batch saving
    * EXACTLY the sum of its counted pair frequencies (the disjointness
    * admission rule is what makes that identity exact). */
  test("bpeTrainBatched: 64 merges in bounded driver rounds, exact per-round accounting") {
    import spark.implicits._
    // batch=1 ≡ sequential (same argmax, same tie-break)
    val seq8 = TextOps.bpeTrain(spark, sf, steps = 8).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged"),
        r.getAs[Long]("n"))).toSeq
    val b1 = TextOps.bpeTrainBatched(spark, sf, steps = 8, batch = 1)
      .collect().sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged"),
        r.getAs[Long]("n"))).toSeq
    assert(b1 === seq8)

    val merges = TextOps.bpeTrainBatched(spark, sf, steps = 64, batch = 8)
      .collect().sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("round"),
        r.getAs[String]("pair"), r.getAs[String]("merged"),
        r.getAs[Long]("n")))
    assert(merges.length === 64)
    assert(merges.map(_._1).toSeq === (1L to 64L))
    assert(merges.map(_._3).distinct.length === 64, "a pair merged twice")
    // the wall-time bound: driver rounds collapse ~8× (fallback rounds
    // may add a few; 2× slack, far under the sequential 64)
    val rounds = merges.map(_._2).max
    assert(rounds <= 16L, s"batching degenerated: $rounds driver rounds")

    // per-round accounting identity on a local replica
    var words: Map[String, Long] = Tables.documents(spark, sf)
      .select($"text").as[String].collect()
      .flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) =>
        (" " + w.map(c => s"$c ").mkString) -> ws.length.toLong }
    def total(ws: Map[String, Long]): Long =
      ws.map { case (sym, f) => f * sym.trim.split(" ").length }.sum
    merges.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (round, ms) =>
      val before = total(words)
      ms.sortBy(_._1).foreach { case (_, _, pair, merged, _) =>
        words = words.toSeq.map { case (sym, f) =>
          sym.replace(s" $pair ", s" $merged ") -> f
        }.groupBy(_._1).map { case (s2, fs) => s2 -> fs.map(_._2).sum }
      }
      assert(total(words) === before - ms.map(_._5).sum,
        s"round $round: batched merge accounting broken")
    }
  }

  // ---- embedding health ------------------------------------------------

  test("embedStats matches a from-scratch micro-quantized recompute") {
    import spark.implicits._
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .select($"embedding").as[Seq[Float]].collect()
    val byDim = vecs.flatMap(_.zipWithIndex)
      .groupBy(_._2).map { case (d, vs) =>
        val ms = vs.map { case (v, _) => roundL(v.toDouble * 1e6) }
        val n = ms.length.toLong
        val s = ms.sum
        val q = ms.map(m => m * m).sum.toDouble
        val variance = (q - s.toDouble * s.toDouble / n) / (n - 1) / 1e12
        d.toLong -> ((n, s.toDouble / n / 1e6, variance,
          roundL(variance * 1e6)))
      }
    val totalVarMicro = byDim.values.map(_._4).sum
    val want = byDim.map { case (d, (n, mean, variance, vm)) =>
      d -> ((n, mean, variance, vm, vm.toDouble / totalVarMicro))
    }
    val got = graft.llm.SimOps.embedStats(spark, sf).collect().map { r =>
      r.getAs[Long]("dim") -> ((r.getAs[Long]("n"), r.getAs[Double]("mean"),
        r.getAs[Double]("variance"), r.getAs[Long]("var_micro"),
        r.getAs[Double]("var_share")))
    }.toMap
    assert(got === want)
    assert(got.size === 64)
    // shares form a distribution (integer-sum construction is exact)
    assert(math.abs(got.values.map(_._5).sum - 1.0) < 1e-9)
  }

  // ---- Q9 profit -------------------------------------------------------

  test("q9Profit matches an integer-exact replica and plans 3 broadcasts") {
    import spark.implicits._
    val parts = Tables.part(spark, sf)
      .filter($"p_name".contains("bolt"))
      .select($"p_partkey", round($"p_retailprice" * 100, 0).cast("long"))
      .as[(Long, Long)].collect().toMap
    val supp = Tables.supplier(spark, sf)
      .select($"s_suppkey", $"s_nationkey").as[(Long, Long)].collect().toMap
    val nation = Tables.nation(spark, sf)
      .select($"n_nationkey", $"n_name").as[(Long, String)].collect().toMap
    val years = Tables.orders(spark, sf)
      .select($"o_orderkey", year($"o_orderdate").cast("long"))
      .as[(Long, Long)].collect().toMap
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        round($"l_extendedprice" * 100, 0).cast("long"),
        round($"l_discount" * 100, 0).cast("long"),
        $"l_quantity".cast("long"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val agg = scala.collection.mutable.Map.empty[(String, Long), (Long, Long)]
    li.foreach { case (ok, pk, sk, e100, d100, q) =>
      parts.get(pk).foreach { r100 =>
        val key = (nation(supp(sk)), years(ok))
        val (s0, n0) = agg.getOrElse(key, (0L, 0L))
        agg(key) = (s0 + (e100 * (100L - d100) - 80L * r100 * q), n0 + 1L)
      }
    }
    val want = agg.map { case (k, (s, n)) => k -> ((s.toDouble / 1e4, n)) }.toMap
    val df = graft.operators.Core.q9Profit(spark, sf)
    val got = df.collect().map { r =>
      (r.getAs[String]("nation"), r.getAs[Long]("o_year")) ->
        ((r.getAs[Double]("profit"), r.getAs[Long]("n_lines")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // the planner test the query exists for: dimension sides broadcast
    // and nothing degenerates to a nested loop / cartesian. (At
    // sf0.001 AQE may ALSO broadcast the orders side — tiny data — so
    // assert ≥3 in the final adaptive plan, not exactly 3.)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3, plan.take(500))
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"))
  }

  // ---- data-quality suite ---------------------------------------------

  test("dqSuite flags injected corruption with exact violation counts") {
    import spark.implicits._
    // clean synthetic data: every check passes
    val clean = graft.operators.Core.dqSuite(spark, sf).collect()
      .map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Long]("violations"), r.getAs[Boolean]("pass")))).toMap
    assert(clean.size === 6)
    clean.foreach { case (name, (v, pass)) =>
      assert(v === 0L && pass, s"clean data failed $name")
    }
    // corrupted copy: drop 10 orders (orphans its lineitems), null 3
    // dates, duplicate 2 orders, negate 5 quantities
    val dir = tempDir("graft-dq")
    val ord = Tables.orders(spark, sf)
    val orphanKeys = ord.select($"o_orderkey").as[Long].collect().sorted.take(10)
    val orphanedLi = Tables.lineitem(spark, sf)
      .filter($"l_orderkey".isin(orphanKeys: _*)).count()
    val corruptOrd = ord.filter(!$"o_orderkey".isin(orphanKeys: _*))
      .withColumn("o_orderdate",
        when($"o_orderkey" % 97 === 11, lit(null)).otherwise($"o_orderdate"))
    val duped = corruptOrd.orderBy($"o_orderkey").limit(2)
    val finalOrd = corruptOrd.unionByName(duped)
    // count nulls AFTER the union: a duplicated key can also match the
    // null-date rule (key 11 did — %97 == 11)
    val nulled = finalOrd.filter($"o_orderdate".isNull).count()
    finalOrd.write.parquet(s"$dir/orders.parquet")
    val corruptLi = Tables.lineitem(spark, sf)
      .withColumn("l_quantity",
        when($"l_orderkey" % 101 === 7 && $"l_linenumber" === 1,
          -$"l_quantity").otherwise($"l_quantity"))
    val negd = corruptLi.filter($"l_quantity" <= 0).count()
    corruptLi.write.parquet(s"$dir/lineitem.parquet")
    Tables.customer(spark, sf).write.parquet(s"$dir/customer.parquet")
    val dirty = graft.operators.Core.dqSuite(spark, dir).collect()
      .map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Long]("violations"), r.getAs[Boolean]("pass")))).toMap
    assert(dirty("fk_lineitem_orderkey") === ((orphanedLi, false)))
    assert(dirty("not_null_orderdate") === ((nulled, false)))
    assert(dirty("pk_orders_unique") === ((2L, false)))
    assert(dirty("range_quantity_pos") === ((negd, false)))
    assert(dirty("range_discount_0_1") === ((0L, true)))
    assert(orphanedLi > 0 && nulled > 0 && negd > 0)
  }

  test("bpeTokenize agrees with the curve totals and a per-doc replica") {
    import spark.implicits._
    val tok = TextOps.bpeTokenize(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_words"),
        r.getAs[Long]("bpe_tokens"), r.getAs[Long]("char_tokens"),
        r.getAs[Double]("tokens_per_word")))).toMap
    // corpus identity: Σ_doc bpe_tokens = curve step-8 total + 1 per
    // short (len<2) word — the apply path must agree with the trainer's
    // own accounting
    val curve8 = TextOps.bpeCurve(spark, sf).collect()
      .find(_.getAs[Long]("step") == 8L).get.getAs[Long]("total_tokens")
    val words = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+") }
    val nShort = words.map(_._2.count(_.length < 2)).sum.toLong
    assert(tok.values.map(_._2).sum === curve8 + nShort)
    // per-doc replica via the trainer's merges applied from scratch
    val merges = TextOps.bpeTrain(spark, sf).collect()
      .sortBy(_.getAs[Long]("step"))
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged")))
    def wTok(w: String): Long =
      if (w.length < 2) 1L
      else {
        val sym0 = " " + w.map(c => s"$c ").mkString
        val sym = merges.foldLeft(sym0) { case (s, (p, m)) =>
          s.replace(s" $p ", s" $m ")
        }
        sym.trim.split(" ").length.toLong
      }
    words.take(40).foreach { case (id, ws) =>
      val want = (ws.length.toLong, ws.map(wTok).sum,
        ws.map(_.length.toLong).sum)
      val (n, bpe, chars, tpw) = tok(id)
      assert((n, bpe, chars) === want, s"doc $id")
      assert(tpw === bpe.toDouble / n)
      // subword compression is real: fewer than chars, no fewer than words
      assert(bpe <= chars && bpe >= n)
    }
  }

  test("tfidfCosine matches a brute-force weighted recompute") {
    import spark.implicits._
    val maxDf = 20
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val nDocs = docs.length
    def shingles(t: String): Seq[String] = {
      val toks = t.trim.toLowerCase.split("\\s+")
      if (toks.length < 3) Nil
      else (0 to toks.length - 3).map(i =>
        s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}")
    }
    val tf = docs.map { case (id, t) =>
      id -> shingles(t).groupBy(identity).map { case (s, xs) =>
        s -> xs.length.toLong }
    }.toMap
    val dfm = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (s, xs) => s -> xs.size.toLong }
      .filter(_._2 <= maxDf)
    def idfE4(df: Long): Long =
      roundL(round4(math.log(nDocs.toDouble / df)) * 1e4)
    val w = tf.map { case (id, m) =>
      id -> m.collect { case (s, c) if dfm.contains(s) =>
        s -> c * idfE4(dfm(s)) }
    }
    val norm = w.map { case (id, m) =>
      id -> m.values.map(v => v * v).sum }
    val want = (for {
      (a, wa) <- w.toSeq; (b, wb) <- w.toSeq; if a < b
      shared = wa.keySet & wb.keySet
      if shared.nonEmpty
      dot = shared.toSeq.map(s => wa(s) * wb(s)).sum
      cos = dot.toDouble / (math.sqrt(norm(a).toDouble) *
        math.sqrt(norm(b).toDouble))
      if cos >= 0.5
    } yield (a, b) -> ((shared.size.toLong, dot, cos))).toMap
    val got = Dedup.tfidfCosine(spark, sf).collect().map { r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("n_shared_terms"), r.getAs[Long]("dot_e8"),
          r.getAs[Double]("cos")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty, "no weighted near-dups found in the fixture")
  }

  // ---- KMV / theta-sketch overlap -------------------------------------

  test("kmvOverlap matches a from-scratch theta estimator within bounds") {
    import spark.implicits._
    // k BELOW the 15-user sf0.001 audiences so the θ<1 path runs here
    // too (the sf0.01 driver check exercises the default k=64)
    val k = 8
    val tu = Tables.events(spark, sf)
      .selectExpr("event_type", "user_id").distinct()
      .as[(String, Long)].collect()
    val byType = tu.groupBy(_._1).map { case (t, rows) =>
      t -> rows.map(_._2).toSet
    }
    val sketches = byType.map { case (t, users) =>
      t -> users.toSeq.map(u => (hash60(u.toString), u)).sorted.take(k)
        .map(_._1).toSet
    }
    val want = (for {
      ta <- byType.keys; tb <- byType.keys; if ta < tb
    } yield {
      val merged = (sketches(ta) ++ sketches(tb)).toSeq.sorted.take(k)
      val nUnion = merged.length
      val kth = merged.max
      val bb = merged.count(h => sketches(ta).contains(h) &&
        sketches(tb).contains(h) && (nUnion < k || h < kth)).toLong
      val est = if (nUnion < k) bb.toDouble
        else bb.toDouble / (kth.toDouble / 1152921504606846976L.toDouble)
      (ta, tb) -> ((byType(ta).size.toLong, byType(tb).size.toLong,
        (byType(ta) & byType(tb)).size.toLong, est))
    }).toMap
    val got = Telemetry.kmvOverlap(spark, sf, k = k).collect().map { r =>
      (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("exact_overlap"), r.getAs[Double]("kmv_est")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // the θ path genuinely engages (audiences exceed k); estimates stay
    // in the right ballpark even at this deliberately tiny k
    got.values.foreach { case (_, _, exact, est) =>
      assert(exact > k, "fixture too small to exercise the θ path")
      assert(est > 0.0 && math.abs(est - exact) / exact < 4.0 / math.sqrt(k),
        s"est $est vs exact $exact outside 4/√k")
    }
  }

  // ---- DP release ------------------------------------------------------

  test("dpCounts matches the derandomized Laplace mechanism exactly") {
    import spark.implicits._
    val half = 576460752303423488L
    val full = 1152921504606846976L
    val counts = Tables.events(spark, sf)
      .selectExpr("event_type", "date_format(to_date(ts), 'yyyy-MM-dd')")
      .as[(String, String)].collect()
      .groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    val want = counts.map { case ((t, day), n) =>
      val h = math.max(hash60(s"dp:$t:$day"), 1L)
      val noise =
        if (h < half) round4(math.log(h.toDouble / half.toDouble))
        else -round4(math.log((full - h).toDouble / half.toDouble))
      (t, day) -> ((n, noise, n + noise))
    }
    val got = Telemetry.dpCounts(spark, sf).collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[String]("day")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("noise"),
          r.getAs[Double]("released")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // Laplace(1) calibration on the hash draws: mean |noise| ≈ b = 1
    val absNoise = got.values.map(v => math.abs(v._2))
    val meanAbs = absNoise.sum / absNoise.size
    assert(meanAbs > 0.4 && meanAbs < 2.5, s"mean |noise| $meanAbs off scale")
    // release ≠ truth almost surely, but stays within a few b of it
    assert(got.values.forall { case (n, _, rel) => math.abs(rel - n) < 15 })
  }

  test("kAnon matches a from-scratch quasi-identifier grouping") {
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .selectExpr("event_type", "CAST(dayofweek(ts) AS LONG)",
        "CAST(floor(value/10)*10 AS LONG)")
      .as[(String, Long, Long)].collect()
    val want = rows.groupBy(_._1).map { case (t, rs) =>
      val groups = rs.groupBy(identity).map(_._2.length.toLong)
      val small = groups.filter(_ < 10)
      t -> ((groups.size.toLong, small.size.toLong, small.sum,
        rs.length.toLong, 10L, small.isEmpty))
    }
    val got = Telemetry.kAnon(spark, sf).collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n_groups"),
        r.getAs[Long]("n_small_groups"), r.getAs[Long]("rows_at_risk"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("k"),
        r.getAs[Boolean]("anonymous")))
    }.toMap
    assert(got === want)
    // the decade×weekday grid at sf0.001 is sparse: risk is nonzero,
    // so the report has something to say
    assert(got.values.exists(_._2 > 0L))
  }

  test("seasonalBacktest matches a from-scratch out-of-sample evaluation") {
    val hourUs = 3600L * 1000000L
    val hourly = events.groupBy(r => (r._1, r._2 / hourUs))
      .map { case (k, rows) => k -> rows.length.toLong }
    val want = hourly.keys.groupBy(_._1).map { case (k, ks) =>
      val h0 = ks.map(_._2).min
      val h1 = ks.map(_._2).max
      val dense = (h0 to h1).map(h => h -> hourly.getOrElse((k, h), 0L))
      val nTrain = dense.length / 2
      val (train, test) = dense.splitAt(nTrain)
      val profile = train.groupBy(_._1 % 24).map { case (hod, rs) =>
        hod -> roundL(1e6 * rs.map(_._2).sum / rs.length)
      }
      val errs = test.map { case (h, y) =>
        (y, math.abs(y * 1000000L - profile(h % 24)))
      }
      val errMilli = errs.map(_._2 / 1000L)
      k -> ((errs.length.toLong,
        errs.map(_._2).sum.toDouble / errs.length / 1e6,
        math.sqrt(errMilli.map(e => e * e).sum.toDouble / errs.length) / 1e3,
        errs.map(_._1).sum.toDouble / errs.length))
    }
    val got = Telemetry.seasonalBacktest(spark, sf).collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n_test_hours"),
        r.getAs[Double]("mae"), r.getAs[Double]("rmse"),
        r.getAs[Double]("mean_actual")))
    }.toMap
    assert(got === want)
    got.values.foreach { case (_, mae, rmse, mean) =>
      assert(rmse >= mae - 1e-12) // Jensen
      assert(mae <= 2 * mean)     // the baseline is not absurd
    }
  }

  // ---- fastText-style quality scoring --------------------------------

  test("fasttextQuality matches a from-scratch hashed-linear recompute") {
    import spark.implicits._
    val want = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().map { case (id, text) =>
        val toks = text.trim.toLowerCase.split("\\s+")
        val feats = toks ++ toks.sliding(2).collect {
          case Array(a, b) => s"${a}_$b"
        }
        val ws = feats.map { f =>
          val bucket = hash60(f) % 4096
          hash60(s"w:$bucket") % 2000001L - 1000000L
        }
        val scoreMicro = roundL(ws.sum.toDouble / ws.length)
        id -> ((ws.length.toLong, scoreMicro,
          scoreMicro.toDouble / 1e6, scoreMicro > 0))
      }.toMap
    val got = TextOps.fasttextQuality(spark, sf).collect().map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_feats"),
        r.getAs[Long]("score_micro"), r.getAs[Double]("score"),
        r.getAs[Boolean]("keep")))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // the gate splits the corpus — not all-keep / all-drop
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }
}
