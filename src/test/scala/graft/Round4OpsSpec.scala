package graft

import org.apache.spark.sql.functions._

import graft.llm.{SimOps, TextOps}
import graft.operators.Core
import graft.telemetry.Telemetry

/** Semantic properties of the round-4 operators (oracle hash-parity is
  * the driver's job; these pin the invariants a hash can't express). */
class Round4OpsSpec extends SparkSpec {

  test("ewma equals a direct sequential fold per series") {
    import spark.implicits._
    val got = Telemetry.ewma(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("ewma")).toMap
    // reference: collect the series and fold on the driver
    val series = Tables.events(spark, sf)
      .select($"event_type", $"ts", $"event_id", $"value")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000 + r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    series.foreach { case (et, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
      val expect = ordered.tail.foldLeft(ordered.head)((acc, x) => acc * 0.75 + x * 0.25)
      assert(got(et) === expect, s"series $et")
    }
  }

  test("hopping windows assign every event to exactly 4 windows") {
    import spark.implicits._
    val n = Tables.events(spark, sf).count()
    val windowed = Telemetry.hoppingWindow(spark, sf)
    assert(windowed.agg(sum($"n_events")).collect()(0).getLong(0) === n * 4)
    // window starts are 15-minute aligned and each covers 1 hour:
    // per (event_type, window) sums re-aggregate to the tumbling total
    val starts = windowed.select($"win_start").distinct().collect().map(_.getString(0))
    assert(starts.forall(s => Set("00", "15", "30", "45").contains(s.substring(14, 16))))
  }

  test("chunking covers every character with stride-overlap") {
    import spark.implicits._
    val chunks = TextOps.chunking(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", length($"text").cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet === docs.filter(_._2 > 0).keySet)
    byDoc.foreach { case (id, cs) =>
      val len = docs(id)
      // starts are exactly 0, 80, ... < len, so chunk count is fixed
      assert(cs.length === ((len - 1) / 80 + 1), s"doc $id")
      // every chunk is non-empty and at most `size`
      assert(cs.forall(c => { val l = c.getAs[Long]("chunk_len"); l > 0 && l <= 120 }))
      // last chunk reaches the end of the document
      val last = cs.maxBy(_.getAs[Long]("chunk_start"))
      assert(last.getAs[Long]("chunk_start") + last.getAs[Long]("chunk_len") === len)
    }
  }

  test("doc_freq counts distinct-document occurrences") {
    import spark.implicits._
    val rows = TextOps.docFreq(spark, sf).collect()
    assert(rows.length === 30)
    val n = Tables.documents(spark, sf).count()
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      assert(df > 0 && df <= n)
      assert(r.getAs[Double]("df_frac") === df.toDouble / n)
    }
    // spot-check one term against a direct count
    val term = rows.head.getAs[String]("term")
    val direct = Tables.documents(spark, sf)
      .filter(array_contains(split(trim(lower($"text")), "\\s+"), term)).count()
    assert(rows.head.getAs[Long]("df") === direct)
  }

  test("range search returns all-and-only neighbors above the threshold") {
    import spark.implicits._
    val got = SimOps.rangeSearch(spark, sf, tau = 0.25).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // brute-force reference with a much larger k: every returned pair is
    // above tau, and every top-k pair above tau is returned
    val ref = SimOps.simTopkBruteforce(spark, sf, k = Int.MaxValue)
    val above = ref.filter($"cosine" >= 0.25)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === above)
    assert(got.nonEmpty)
  }

  test("median quartiles are ordered and bracket the group range") {
    val rows = Core.qMedian(spark, sf).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (q1, m, q3) = (r.getAs[Double]("q1_qty"), r.getAs[Double]("med_qty"),
                         r.getAs[Double]("q3_qty"))
      assert(q1 <= m && m <= q3)
      assert(q1 >= 1 && q3 <= 50) // TPC-H quantity domain
    }
  }

  test("listagg emits sorted, complete nation lists per region") {
    val rows = Core.qListagg(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val names = r.getAs[String]("nations").split(",")
      assert(names.length === r.getAs[Long]("n_nations"))
      assert(names.sameElements(names.sorted))
    }
    assert(rows.map(_.getAs[Long]("n_nations")).sum === 25)
  }

  test("count-min sketch estimates respect the one-sided error bound") {
    val rows = Telemetry.cmsCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.head.getAs[Long]("n_total")
    val eps = 0.0001
    rows.foreach { r =>
      val (exact, est) = (r.getAs[Long]("exact_cnt"), r.getAs[Long]("est_cnt"))
      // CMS never undercounts; overcount bounded by eps*N (all rows must
      // hold here — with 99% confidence per query a rare excursion is
      // possible, but at this scale the margin is enormous)
      assert(est >= exact, s"CMS undercounted: $est < $exact")
      assert(est <= exact + math.ceil(eps * n).toLong + 1,
        s"CMS overcount beyond bound: $est vs $exact (n=$n)")
    }
    // totals reconcile: exact counts sum to the stream size
    assert(rows.map(_.getAs[Long]("exact_cnt")).sum === n)
  }

  test("anomaly flags are exactly the >=3-sigma events") {
    import spark.implicits._
    val flagged = Telemetry.anomaly(spark, sf).collect()
    // reference: compute per-series stats on the driver
    val all = Tables.events(spark, sf)
      .select($"event_type", $"event_id", $"value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byType = all.groupBy(_._1)
    val expect = byType.toSeq.flatMap { case (_, rows) =>
      val v100 = rows.map(t => math.round(t._3 * 100))
      val nn = v100.length.toDouble
      val s = v100.sum.toDouble
      val ss = v100.map(v => v * v).sum.toDouble
      val mean = s / nn
      val sd = math.sqrt((ss - s * s / nn) / (nn - 1))
      rows.zip(v100).collect { case ((_, id, _), v) if math.abs((v - mean) / sd) >= 3 => id }
    }.toSet
    assert(flagged.map(_.getAs[Long]("event_id")).toSet === expect)
    assert(flagged.nonEmpty)
  }

  test("compaction merges a fragmented table and preserves rows") {
    import graft.sink.PartitionedParquetSink
    import graft.sink.PartitionedParquetSink.SinkConfig
    val base = tempDir("graft-compact")
    val events = Tables.events(spark, sf)
    val frag = SinkConfig(base, "frag", tsColumn = "ts", granularity = "monthly")
    // fragment: 40 tiny appends, like 40 micro-batch commits
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "25")
    try PartitionedParquetSink.writeBatch(events, frag)
    finally spark.conf.unset(key)
    val nFrag = graft.recovery.Recovery
      .listDataFiles(spark, s"$base/frag").count()
    assert(nFrag > 20, s"fragmentation setup produced only $nFrag files")

    val tidy = SinkConfig(base, "tidy", tsColumn = "ts", granularity = "monthly")
    val (before, after) = graft.recovery.Recovery
      .compact(spark, frag, tidy, targetFileBytes = 8L << 20)
    assert(before === nFrag)
    assert(after < before / 2, s"no compaction: $before -> $after")
    val back = spark.read.parquet(s"$base/tidy")
    assert(back.count() === events.count())
    // layout contract unchanged: partition dirs survive
    assert(back.columns.contains("month"))
  }

  test("kmeans: Lloyd iterations never increase cost; sizes partition the corpus") {
    import graft.llm.SimOps
    val corpus = graft.Tables.embeddings(spark, sf).count()
    val costs = (0 to 3).map { it =>
      val rows = SimOps.kmeansCentroids(spark, sf, iters = it).collect()
      assert(rows.map(_.getAs[Long]("cluster_n")).sum === corpus)
      rows.map(_.getAs[Double]("cost")).sum
    }
    costs.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev + 1e-6, s"Lloyd cost increased: $prev -> $next")
    }
    // training must actually move: iter-1 strictly improves on the
    // raw-vector init codebook
    assert(costs(1) < costs(0))
  }

  test("trained-IVF probe returns k in-list neighbors consistent with assignments") {
    import graft.llm.SimOps
    val res = SimOps.ivfKmeansAnn(spark, sf).collect()
    assert(res.length === 8 * 5)
    res.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq === (1L to 5L))
      // ranking is by descending cosine
      val cos = byRank.map(_.getAs[Double]("cosine")).toSeq
      assert(cos === cos.sorted.reverse)
    }
    res.foreach(r =>
      assert(r.getAs[Long]("query_id") !== r.getAs[Long]("neighbor_id")))
  }

  test("funnel stages shrink monotonically and reuse one user_id exchange") {
    val df = Telemetry.funnel(spark, sf)
    val rows = df.collect().sortBy(_.getAs[String]("stage"))
    val users = rows.map(_.getAs[Long]("users"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ===
      Seq("1_view", "2_click", "3_purchase"))
    assert(users(0) >= users(1) && users(1) >= users(2))
    assert(users(0) > 0)
    assert(rows(0).getAs[Double]("conv") === 1.0)
    // the running-min window formulation must not plan any join — the
    // naive per-stage self-join pays a full event-stream shuffle per
    // stage, which is exactly what this operator exists to avoid
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"funnel plan contains a join:\n$plan")
  }

  test("retention: offset zero covers every cohort fully") {
    val rows = Telemetry.retention(spark, sf).collect()
    val day0 = rows.filter(_.getAs[Long]("day_offset") == 0L)
    // every cohort is 100% active on its own first day
    day0.foreach(r => assert(r.getAs[Double]("retention") === 1.0))
    // cohorts partition the user base
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(day0.map(_.getAs[Long]("cohort_n")).sum === users)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_n"))
      assert(r.getAs[Long]("day_offset") >= 0L)
    }
  }

  test("active users: dau <= wau <= mau and dau equals the daily distinct") {
    import spark.implicits._
    val rows = Telemetry.activeUsers(spark, sf).collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      val (dau, wau, mau) =
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau"))
      assert(dau <= wau && wau <= mau)
      assert(dau > 0)
    }
    val direct = graft.Tables.events(spark, sf)
      .groupBy(date_format(to_date($"ts"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct($"user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("dau") === direct(r.getAs[String]("day"))))
  }

  test("prefix-filtered ssjoin returns exactly the inverted-index join's pairs") {
    import graft.llm.Dedup
    for (t <- Seq(0.2, 0.5)) {
      val a = Dedup.ngramJaccard(spark, sf, threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val b = Dedup.ngramJaccardPrefix(spark, sf, threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(a === b, s"strategies disagree at t=$t")
      assert(a.nonEmpty, s"fixture produced no pairs at t=$t")
    }
  }

  test("householder reflection is an isometric involution") {
    import graft.llm.SimOps
    val u = SimOps.householderUnit(64)
    assert(math.abs(u.map(x => x * x).sum - 1.0) < 1e-12, "u not unit")
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val x = Array.fill(64)(rnd.nextDouble() - 0.5)
      val rx = SimOps.reflect(x, u)
      // norm preserved (rotation ⇒ exact distances unchanged)...
      val n0 = math.sqrt(x.map(v => v * v).sum)
      val n1 = math.sqrt(rx.map(v => v * v).sum)
      assert(math.abs(n0 - n1) < 1e-12)
      // ...and applying R twice returns the original vector
      val back = SimOps.reflect(rx, u)
      x.indices.foreach(i => assert(math.abs(back(i) - x(i)) < 1e-12))
      // R is not the identity: the rotation genuinely mixes dims
      assert(x.indices.exists(i => math.abs(rx(i) - x(i)) > 1e-6))
    }
  }

  test("pagerank matches a dense reference iteration and conserves mass") {
    import spark.implicits._
    import graft.operators.PageRank
    // A→B, A→C, B→C, C→A, D→C, C→E; E dangles
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"),
                    ("D", "C"), ("C", "E")).toDF("src", "dst")
    val got = PageRank.run(spark, edges, iters = 15).collect()
      .map(r => r.getAs[String]("vertex") -> r.getAs[Double]("rank")).toMap

    // dense driver-side reference with identical semantics
    val vs = Seq("A", "B", "C", "D", "E")
    val out = Map("A" -> Seq("B", "C"), "B" -> Seq("C"),
                  "C" -> Seq("A", "E"), "D" -> Seq("C"))
    var r = vs.map(_ -> 1.0 / 5).toMap
    for (_ <- 1 to 15) {
      val dangling = vs.filterNot(out.contains).map(r).sum
      r = vs.map { v =>
        val in = out.collect { case (s, ds) if ds.contains(v) =>
          r(s) / ds.size }.sum
        v -> ((1.0 - 0.85) / 5 + 0.85 * (in + dangling / 5))
      }.toMap
    }
    vs.foreach(v => assert(math.abs(got(v) - r(v)) < 1e-9, s"vertex $v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // C receives from three nodes — it must outrank everything
    assert(got.maxBy(_._2)._1 === "C")
  }

  test("holt level/trend equal a direct sequential fold per series") {
    import spark.implicits._
    val got = Telemetry.holt(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("level"), r.getAs[Double]("trend"))).toMap
    val raw = graft.Tables.events(spark, sf)
      .select($"event_type", $"ts", $"event_id", $"value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000, r.getLong(2), r.getDouble(3)))
    raw.groupBy(_._1).foreach { case (et, rows) =>
      val vs = rows.sortBy(t => (t._2, t._3)).map(_._4)
      var l = vs(0); var b = vs(1) - vs(0)
      vs.drop(2).foreach { x =>
        val nl = x * 0.3 + (l + b) * (1.0 - 0.3)
        b = (nl - l) * 0.1 + b * (1.0 - 0.1)
        l = nl
      }
      assert(got(et) === ((l, b)), s"series $et diverged")
    }
  }

  test("distributed sweep-line concurrency equals a driver-side reference sweep") {
    import spark.implicits._
    val got = Telemetry.concurrency(spark, sf).collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Long]("max_concurrent")).toMap
    // reference: same 30-min sessions, single sequential sweep
    val ev = graft.Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("tus")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sessions = ev.groupBy(_._1).values.flatMap { rows =>
      val ts = rows.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var st = ts.head; var en = ts.head
      ts.tail.foreach { t =>
        if (t - en > 1800000000L) { out += ((st, en)); st = t }
        en = t
      }
      out += ((st, en))
      out
    }
    val pts = sessions.flatMap { case (st, en) => Seq((st, 1), (en, -1)) }
      .toSeq.sortBy { case (t, d) => (t, -d) }
    var run = 0L
    val dayMax = scala.collection.mutable.Map.empty[String, Long]
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    pts.foreach { case (t, d) =>
      run += d
      val day = fmt.format(java.time.Instant.ofEpochMilli(t / 1000))
      dayMax(day) = math.max(dayMax.getOrElse(day, Long.MinValue), run)
    }
    assert(got === dayMax.toMap)
  }

  test("apdex stays in [0,1] and its count classes partition each group") {
    val rows = Telemetry.apdex(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[Double]("apdex")
      assert(a >= 0.0 && a <= 1.0)
      assert(r.getAs[Long]("n_satisfied") + r.getAs[Long]("n_tolerating")
        <= r.getAs[Long]("n"))
    }
  }

  test("corr/regr aggregates stay in their mathematical ranges") {
    val rows = graft.operators.Core.qCorrRegr(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val (c, r2) = (r.getAs[Double]("corr_vt"), r.getAs[Double]("r2"))
      assert(c >= -1.0 && c <= 1.0)
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9)
      // r2 of simple regression == corr² (round-6 slack)
      assert(math.abs(r2 - c * c) < 1e-5)
    }
  }
}
