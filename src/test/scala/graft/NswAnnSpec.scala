package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosineSim
import graft.llm.SimOps

/** Graph-ANN beam search (SimOps.nswAnn): deterministic, never worse
  * than its entry points, and competitive with brute force on the
  * fixture corpus. */
class NswAnnSpec extends SparkSpec {

  test("shape and determinism: k rows per query, identical reruns") {
    val a = SimOps.nswAnn(spark, sf).collect().map(_.toString).sorted
    val b = SimOps.nswAnn(spark, sf).collect().map(_.toString).sorted
    assert(a === b)
    val perQuery = SimOps.nswAnn(spark, sf)
      .groupBy("query_id").agg(count(lit(1)).as("n"),
        min("rnk").as("lo"), max("rnk").as("hi"))
      .collect()
    assert(perQuery.length === 8)
    assert(perQuery.forall(r => r.getLong(1) == 5L &&
      r.getLong(2) == 1L && r.getLong(3) == 5L))
  }

  test("the search never returns a worse top-1 than its entry points") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val entries = SimOps.clusterAssignments(spark, sf)
      .filter($"vec_id" >= 8)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"cid").orderBy($"vec_id".asc)))
      .filter($"rn" === 1).select($"vec_id")
    val q = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"vec".as("qvec"))
    val entryBest = emb.join(entries, "vec_id")
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos6",
        round(cosineSim($"vec", $"qvec"), 6))
      .groupBy($"query_id").agg(max($"cos6").as("entry_best"))
    val searchBest = SimOps.nswAnn(spark, sf)
      .groupBy($"query_id").agg(max($"cosine").as("search_best"))
    val joined = searchBest.join(entryBest, "query_id").collect()
    assert(joined.length === 8)
    joined.foreach { r =>
      assert(r.getAs[Double]("search_best") >= r.getAs[Double]("entry_best"),
        s"query ${r.getLong(0)} regressed below its entry set")
    }
  }

  test("recall@5 vs brute force clears the graph-search bar") {
    import spark.implicits._
    val exact = SimOps.simTopkBruteforce(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimOps.nswAnn(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 4 hops over the degree-8 undirected graph from per-cell entries:
    // measured 0.875 on the fixture corpus; the bar leaves slack for
    // the deterministic-but-data-dependent walk, not for regressions
    // back to a sparse/disconnected graph (0.1-0.3)
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  /** r12 (HNSW): the hierarchical entry must not COST recall — the
    * upper layer replaces "score every cell rep" with "navigate the
    * rep graph from one global entry", and on the fixture the
    * surviving beam must land layer 0 in at least as good a region. */
  test("hnsw: hierarchical seeding matches or beats the flat NSW recall") {
    import spark.implicits._
    val nsw = SimOps.nswRecall(spark, sf).agg(avg($"recall")).collect()(0)
      .getDouble(0)
    val hnsw = SimOps.hnswRecall(spark, sf).agg(avg($"recall")).collect()(0)
      .getDouble(0)
    assert(hnsw >= nsw, s"hnsw recall $hnsw fell below flat nsw $nsw")
    assert(hnsw >= 0.6, s"hnsw recall@5 = $hnsw")
    // determinism + shape: k rows per query, identical reruns
    val a = SimOps.hnswAnn(spark, sf).collect().map(_.toString).sorted
    val b = SimOps.hnswAnn(spark, sf).collect().map(_.toString).sorted
    assert(a === b)
    val perQuery = SimOps.hnswAnn(spark, sf)
      .groupBy("query_id").agg(count(lit(1)).as("n"))
      .collect()
    assert(perQuery.length === 8 && perQuery.forall(_.getLong(1) == 5L))
  }

  /** r13 (ef sweep): widening the base search beam must never COST
    * recall on the fixture — the production tuning claim the sweep
    * exists to certify (recall saturates while cost grows linearly in
    * ef, so the curve has a cheapest-ef-above-the-bar knee). */
  test("hnsw ef sweep: mean recall is monotone non-decreasing in ef") {
    import spark.implicits._
    val sweep = SimOps.hnswEfSweep(spark, sf)
      .groupBy($"ef").agg(avg($"recall").as("r"))
      .orderBy($"ef".asc).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(sweep.map(_._1).toSeq === Seq(4L, 8L, 16L))
    sweep.sliding(2).foreach { case Array((e1, r1), (e2, r2)) =>
      assert(r2 >= r1, s"recall regressed widening ef $e1($r1) -> $e2($r2)")
    }
    // the widest arm matches the flat-NSW bar; the narrowest is a real
    // trade (beam 4 < k=5 cannot reach full recall by construction)
    assert(sweep.last._2 >= 0.6, s"ef=16 recall ${sweep.last._2}")
    assert(sweep.head._2 <= 0.8, s"ef=4 recall ${sweep.head._2} " +
      "should show the narrow-beam trade")
    // ef=12 arm of the sweep machinery ≡ the flagship hnswAnn search
    // (same seeds, same hops): the sweep measures the real serving path
    val viaSweep = SimOps.hnswEfSweep(spark, sf, efs = Seq(12))
      .select($"query_id", $"hits").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val exact = SimOps.simTopkBruteforce(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flagship = SimOps.hnswAnn(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.count(x => exact.contains(x)).toLong }
    assert(viaSweep === flagship,
      "ef=12 sweep arm diverged from the flagship hnswAnn hits")
  }
}
