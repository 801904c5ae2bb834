package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Locks in the plan-quality invariants SURVEY §4 promises, across the
  * ENTIRE query catalog: no sort-based aggregation anywhere, no
  * cartesian products, and nested-loop broadcast joins only where they
  * are the intended shape (scalar-subquery broadcast, ANN brute-force
  * scoring against a broadcast query set). A regression in any future
  * operator fails here by name. */
class PlanHygieneSpec extends SparkSpec {

  private val bnljIntended = Set(
    "q_scalar_subquery",    // single-row subquery broadcast
    "sim_topk_bruteforce",  // corpus × broadcast query set (by design)
    "sim_int8_topk",
    "sim_ivf_ann",
    "sim_ivf_nprobe2",
    "sim_filtered_ann",     // centroid-scoring cross (same as sim_ivf_ann)
    "sim_filtered_recall",  // composes the filtered bruteforce pass
    "sim_pq_ann",           // codebook-scoring cross (broadcast train set)
    "sim_range_search",     // corpus × broadcast query set (by design)
    "sim_mrl_rerank",       // corpus × broadcast query set (by design)
    "sim_hybrid_rrf",       // corpus × 1-row broadcast query vector
    "sim_nprobe_sweep",     // brute-force baseline inside the evaluation
    "sim_nsw_ann",          // queries × broadcast per-cell entry set (hop 0)
    "sim_nsw_persisted",    // same hop-0 shape over the stored index
    "sim_hnsw_ann",         // queries × broadcast 1-row global entry (hop 0)
                            // + rep×rep upper-graph build (one rep per
                            // k-means cell — the bounded coarse-quantizer
                            // frame every IVF probe already broadcasts)
    "sim_nsw_recall",       // composes the bruteforce pass (same shape)
    "sim_hnsw_recall",      // composes the bruteforce pass (same shape)
    "sim_hnsw_ef_sweep",    // same 1-row-entry hop-0 cross as
                            // sim_hnsw_ann + the bruteforce baseline
    "sim_recall_at_k",      // composes the bruteforce pass (same shape)
    "sim_ndcg_eval",        // composes the bruteforce pass (same shape)
    "text_mix_weights",     // 5-row agg × 1-row total broadcast
    "text_bm25",            // tf rows × 1-row corpus-stats broadcast
    "text_dsir_weights",    // bucket table × 1-row distribution totals
    "text_bigram_surprisal", // bigram model × 1-row corpus total
    "text_kn_perplexity",   // bigram type table × 1-row type-count broadcast
    "text_doc_freq",        // term aggregates × 1-row doc-count broadcast
    "text_tfidf",           // vocabulary × 1-row doc-count broadcast
    "dedup_tfidf_cosine",   // df valve table × 1-row doc-count broadcast
    "text_unigram_surprisal", // token stream × 1-row corpus-total broadcast
    "text_surprisal_buckets", // composes unigram_surprisal (same shape)
    "q_width_bucket",       // scan × 1-row min/max bounds broadcast
    "q_triangle_support",   // edge supports × 1-row global-count broadcast
    "tel_cms_counts",       // estimates × 1-row stream-total broadcast
    "q_skew_diagnose",      // top-k rows × 1-row global-stats broadcast
    "sim_binary_quant",     // Hamming scan × broadcast query words (by design)
    "sim_mmr_diversify",    // corpus × broadcast query set (by design)
    "tel_holt_winters",     // type×hour grid × 1-row hour-bounds broadcast
    "dedup_cluster_stats",  // size histogram × 1-row corpus-count broadcast
    "tel_psi_drift",        // event scan × 1-row time-bounds broadcast
    "tel_kmv_overlap",      // type×type pair frame (≤ types² rows)
    "q11_important_stock",  // per-part values × 1-row total broadcast
                            // (q15's twin converts to BHJ because its
                            // filter is an equi-compare; these HAVINGs
                            // are inequalities, so the 1-row cross stays)
    "q22_dormant_custs",    // customers × 1-row avg-balance broadcast
    "text_unigram_train")   // vocab table × 1-row total/|V| broadcast

  /** Queries allowed to rank with an UNPARTITIONED window over a set
    * that is not limit-bounded in the plan — each is small by
    * construction (post-aggregate / pre-pruned), documented here (the
    * round-7 triangle lesson: a global row_number over an |E|-row table
    * funnels everything through one task at 100×). */
  private val globalWindowIntended = Set(
    "text_bm25",       // ranks per-query-term match set, pruned before the agg
    "sim_hybrid_rrf",  // fuses two ≤k TopKStructs buffers (k=30)
    "q_skyline",       // ranks the dominance-filtered skyline set (tiny)
    "dedup_threshold_sweep", // cumulative curve over ≤21 cosine-decile bins
    "sim_ivf_stats",   // imbalance report over k cluster-count rows
    "tel_burn_rate",   // range-frame over the hourly rollup (#hours rows)
    "tel_downtime",    // gaps-and-islands over the hourly rollup
    "tel_freshness",   // global max over per-event-type rollup (≤10s of rows)
    "tel_slo_multiwindow", // multi-window burn over the hourly rollup
    "text_mix_weights",    // √share over the per-language rollup (≤10s of rows)
    "text_vocab_growth",   // prefix sum over #docs/stride bucket rollup
                           // (inherently sequential curve; 3-long rows)
    "sim_embed_stats",     // variance share over the 64-dim aggregate
    "text_unigram_train")  // rank over the pruned vocab (chars+64 rows)

  test("no unpartitioned window over an unbounded child (catalog-wide)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, GlobalLimit, Aggregate, LogicalPlan}
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    def bounded(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit => () }.isDefined
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val confs = SparkEntry.queryConfs.getOrElse(name, Map.empty)
      SparkEntry.withConfs(spark, confs) {
        try {
          val optimized = fn(spark, sf).queryExecution.optimizedPlan
          optimized.foreach {
            case w: LWindow if w.partitionSpec.isEmpty &&
                !bounded(w.child) && !globalWindowIntended(name) =>
              offenders += s"$name: unpartitioned Window over unbounded child"
            case _ =>
          }
        } catch { case e: Throwable => offenders += s"$name: plan failed ${e.getMessage}" }
      }
    }
    assert(offenders.isEmpty,
      s"single-partition window risks:\n${offenders.distinct.mkString("\n")}")
  }

  /** Every query's executed plan, built in the shared session with all
    * of graft's session state armed: Right(plan text, operator names),
    * or Left(the build failure). */
  private lazy val sharedPlans: Map[String, Either[String, (String, Seq[String])]] = {
    graft.functions.GraftFunctions.register(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> planOf(spark, name, fn)
    }.toMap
  }

  private def planOf(session: SparkSession, name: String,
                     fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Either[String, (String, Seq[String])] =
    SparkEntry.withConfs(session, SparkEntry.queryConfs.getOrElse(name, Map.empty)) {
      try {
        val plan = fn(session, sf).queryExecution.executedPlan
        Right((plan.toString, PlanHygieneSpec.nodeNames(plan)))
      } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
    }

  test("every query plans hash aggregation, no cartesians, whitelisted BNLJ only") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    sharedPlans.toSeq.sortBy(_._1).foreach {
      case (name, Left(err)) => offenders += s"$name: plan failed $err"
      case (name, Right((plan, _))) =>
        if (plan.contains("SortAggregate")) offenders += s"$name: SortAggregate"
        if (plan.contains("CartesianProduct")) offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoop") && !bnljIntended(name))
          offenders += s"$name: unexpected BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty, s"plan hygiene violations:\n${offenders.mkString("\n")}")
  }

  test("every query plans the same operators in a fresh session") {
    // a new session has its own function registry and no optimizer
    // rule or strategy armed: a plan that differs there depends on
    // what other queries did to the session first
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val fresh = PlanHygieneSpec.inFreshSession(spark)(planOf(_, name, fn).map(_._2))
      val shared = sharedPlans(name).map(_._2)
      if (fresh == shared) None
      else Some(s"$name:\n  shared: $shared\n  fresh:  $fresh")
    }
    assert(offenders.isEmpty,
      s"plans that depend on the session:\n${offenders.mkString("\n")}")
  }
}

object PlanHygieneSpec {
  /** Physical operator names in tree order, through the adaptive
    * wrapper and subqueries. */
  def nodeNames(plan: SparkPlan): Seq[String] = plan match {
    case a: AdaptiveSparkPlanExec => a.nodeName +: nodeNames(a.executedPlan)
    case p => p.nodeName +: (p.children ++ p.subqueries).flatMap(nodeNames)
  }

  /** Runs `f` in a new session of `spark`'s context, active meanwhile. */
  def inFreshSession[T](spark: SparkSession)(f: SparkSession => T): T = {
    val fresh = spark.newSession()
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(fresh)
    try f(fresh)
    finally prev match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None => SparkSession.clearActiveSession()
    }
  }
}
