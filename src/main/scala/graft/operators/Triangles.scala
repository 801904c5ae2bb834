package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.sortedIntersectCount

/** Exact triangle counting / edge support — the second classic
  * distributed graph kernel (alongside [[PageRank]]), over the
  * parts-co-purchased graph derived from lineitem. */
object Triangles {

  /** Exact triangle counting / edge support over the parts-co-purchased
    * graph (parts sharing an order), via the DEGREE-ORDERED edge
    * iterator — the formulation that scales: edges orient from the
    * lower-ranked endpoint under the total order `(degree, id)`, and an
    * edge's support is `|N_out(s) ∩ N_out(t)|` — each triangle counted
    * exactly once at its lowest-rank edge, total work O(E^1.5)
    * regardless of hub skew (a rank-oriented out-neighborhood is
    * O(√E)). Support is the k-truss building block; the output is the
    * top-`topK` edges by support (part keys, deterministic tie-break)
    * with the global triangle count alongside.
    *
    * Scale shape: the quadratic-looking wedge set is NEVER
    * materialized — out-adjacency lists (sorted node-id arrays) join
    * the oriented edge list co-partitioned on `s`/`t` (AQE picks BHJ
    * when they fit; nothing forces an O(E) broadcast), and the
    * codegen'd [[graft.functions.SortedIntersectCount]] two-pointer
    * merge computes each edge's support in place. No rank table
    * exists at all: orientation compares the `(degree, id)` tuple
    * directly (the tuple IS the rank — any total order works, and
    * this one needs no global row numbering), endpoints stay as part
    * keys, so there is no unpartitioned window and no decode join
    * anywhere. The final ranking is `orderBy().limit(topK)` — planned
    * as TakeOrderedAndProject (per-partition k-buffers, single-k
    * reduce), never a full-table window. The DuckDB oracle runs the
    * same algorithm relationally (wedge join over the identical
    * degree-rank orientation) — identical integer results. */
  def triangleSupport(spark: SparkSession, sfDir: String,
                      topK: Int = 20): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // co-purchase pairs expanded IN PLACE from per-order part sets
    // (the [[GraphSim.jaccardNeighbors]] posting-list shape): one
    // shuffle groups lineitem into order → part-set lists (collect_set
    // dedups within the order, subsuming the old distinct), pairs
    // expand inside each list — the former distinct + self-join of the
    // 600k-row frame (sort-merge join + its exchanges) is gone (r15,
    // guide §2.4). The per-order quadratic is bounded by order size
    // (TPC-H ≤ 7 items; any real order is human-scale).
    val lists = graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
      .filter(size($"ps") > 1)
    val e = lists
      .select(explode($"ps").as("u"), $"ps")
      .select($"u", explode($"ps").as("v"))
      .filter($"u" < $"v")
      .distinct()
      .localCheckpoint()
    val deg = e.select($"u".as("node")).union(e.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val lower = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    val eo = e
      .join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .select(when(lower, $"u").otherwise($"v").cast("long").as("s"),
        when(lower, $"v").otherwise($"u").cast("long").as("t"))
      .localCheckpoint()
    val adj = eo.groupBy($"s").agg(sort_array(collect_list($"t")).as("nbrs"))
    val sup = eo
      .join(adj.select($"s", $"nbrs".as("ns")), Seq("s"), "left")
      .join(adj.select($"s".as("t"), $"nbrs".as("nt")), Seq("t"), "left")
      .select($"s", $"t",
        when($"ns".isNull || $"nt".isNull, lit(0L))
          .otherwise(sortedIntersectCount($"ns", $"nt")
            .cast("long")).as("support"))
      // materialized once: both the global count and the top-k read it,
      // so the O(E^1.5) intersect pass runs exactly once
      .localCheckpoint()
    val total = sup.agg(sum($"support").as("total_triangles"))
    sup
      .orderBy($"support".desc, $"s".asc, $"t".asc)
      .limit(topK)
      .withColumn("rnk", row_number().over(
        Window.orderBy($"support".desc, $"s".asc, $"t".asc))
        .cast("long"))
      .crossJoin(broadcast(total))
      .select($"s".as("part_u"), $"t".as("part_v"), $"support",
        $"total_triangles", $"rnk")
  }
}
