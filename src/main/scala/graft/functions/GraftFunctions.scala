package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.GraftSql

import graft.sink.HilbertIndex

/** graft's native functions, and the session state SQL text needs.
  *
  * DataFrame code calls the typed builders (`cosineSim`, `topKStructs`,
  * …): each builds its Catalyst expression directly, through the same
  * constructor the SQL-text call uses, so a plan never depends on what
  * the session has registered, and the analyzer sees the same tree — and
  * names an unaliased column the same way — as for the SQL text.
  *
  * SQL text resolves function names through the session's registries,
  * and the optimizer rewrites and the as-of join strategy only act in a
  * session that lists them: [[register]] arms all of that for a
  * driver-owned session, [[GraftExtensions]] at session build. */
object GraftFunctions {

  private def e(c: Column): Expression = GraftSql.expression(c)

  /** The expression SQL text `name(args…)` builds — one constructor per
    * function, in [[descriptors]] — as a Column, with no name lookup in
    * any session's function registry. */
  private def call(name: String, args: Expression*): Column =
    GraftSql.column(builders(name)(args))

  private lazy val builders = descriptors.map { case (id, _, build) => id.funcName -> build }.toMap

  /** Cosine similarity of two `array<double>` columns ([[CosineSim]]). */
  def cosineSim(a: Column, b: Column): Column = call("cosine_sim", e(a), e(b))

  /** Hilbert d-value of two bigint columns ([[HilbertIndex]]). */
  def hilbertIndex(x: Column, y: Column): Column = call("hilbert_index", e(x), e(y))

  /** Edit-distance lower bound of two character histograms ([[BagBound]]). */
  def bagBound(a: Column, b: Column): Column = call("bag_bound", e(a), e(b))

  /** Size of the intersection of two sorted `array<bigint>` ([[SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call("sorted_intersect_count", e(a), e(b))

  /** Iceberg's `bucket[numBuckets]` transform ([[IcebergBucket]]). */
  def icebergBucket(numBuckets: Int, c: Column): Column =
    call("iceberg_bucket", Literal(numBuckets), e(c))

  /** Aggregate: the k values of smallest md5, a consistent sample ([[BottomKByHash]]). */
  def bottomKByHash(c: Column, k: Int): Column = call("bottomk_by_hash", e(c), Literal(k))

  /** Aggregate: the k smallest distinct longs, a KMV sketch ([[BottomKDistinct]]). */
  def bottomKDistinct(c: Column, k: Int): Column = call("bottomk_distinct", e(c), Literal(k))

  /** Aggregate: Misra–Gries heavy-hitter candidates ([[FrequentItems]]). */
  def frequentItems(c: Column, k: Int): Column = call("frequent_items", e(c), Literal(k))

  /** Aggregate: DDSketch quantile summary ([[DdsketchAgg]]). */
  def ddsketchAgg(c: Column, m: Int): Column = call("ddsketch_agg", e(c), Literal(m))

  /** Aggregate: the k first structs of a group ([[TopKStructs]]). With
    * `ascending` given only its leading fields are compared, nulls last,
    * and the rest is payload. */
  def topKStructs(s: Column, k: Int, ascending: Seq[Boolean] = Nil): Column =
    call("top_k_structs", e(s), Literal(k), Literal(ascending.toArray))

  private type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def sqlFunction(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  // SQL arguments that shape the expression itself must be foldable
  private def int(arg: Expression): Int = arg.eval(null).asInstanceOf[Number].intValue
  private def bools(args: Seq[Expression], i: Int): Seq[Boolean] =
    args.lift(i).map(_.eval(null).asInstanceOf[ArrayData].toBooleanArray().toSeq)
      .getOrElse(Nil)

  /** The SQL-text name of every native function, for [[register]] and
    * [[GraftExtensions]] alike; the typed builders build through these. */
  val descriptors: Seq[Descriptor] = Seq(
    sqlFunction("cosine_sim", classOf[CosineSim])(a => CosineSim(a(0), a(1))),
    sqlFunction("bottomk_by_hash", classOf[BottomKByHash])(a =>
      BottomKByHash(a(0), int(a(1))).toAggregateExpression()),
    sqlFunction("bottomk_distinct", classOf[BottomKDistinct])(a =>
      BottomKDistinct(a(0), int(a(1))).toAggregateExpression()),
    // top_k_structs(struct, k[, ascending_array[, nulls_first_array]]);
    // nulls sort last unless the fourth argument says otherwise
    sqlFunction("top_k_structs", classOf[TopKStructs]) { a =>
      val ascending = bools(a, 2)
      val nullsFirst = bools(a, 3)
      TopKStructs(a(0), int(a(1)), ascending,
        if (nullsFirst.isEmpty) ascending.map(_ => false) else nullsFirst).toAggregateExpression()
    },
    sqlFunction("frequent_items", classOf[FrequentItems])(a =>
      FrequentItems(a(0), int(a(1))).toAggregateExpression()),
    sqlFunction("hilbert_index", classOf[HilbertIndex])(a => HilbertIndex(a(0), a(1))),
    sqlFunction("bag_bound", classOf[BagBound])(a => BagBound(a(0), a(1))),
    sqlFunction("sorted_intersect_count", classOf[SortedIntersectCount])(a =>
      SortedIntersectCount(a(0), a(1))),
    sqlFunction("ddsketch_agg", classOf[DdsketchAgg])(a =>
      DdsketchAgg(a(0), int(a(1))).toAggregateExpression()),
    // iceberg_bucket(n, col): n is a foldable bucket count
    sqlFunction("iceberg_bucket", classOf[IcebergBucket])(a =>
      IcebergBucket(int(a(0)), a(1))))

  /** Optimizer rewrites, each gated off by its own conf. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.TopKWindowRewrite, graft.plans.ApproxDistinctRewrite,
    graft.plans.RangeJoinRewrite, graft.plans.RollupRewrite)

  /** Planner strategies (the native as-of join). */
  val strategies: Seq[SparkStrategy] = Seq(graft.plans.AsOfJoinStrategy)

  /** Idempotent session init: SQL-text functions and table functions,
    * [[optimizerRules]] and [[strategies]]. Synchronized because the
    * rule and strategy lists are session-wide check-then-append. */
  def register(spark: SparkSession): Unit = synchronized {
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    graft.catalog.IcebergTvf.register(spark)
    val methods = spark.experimental
    methods.extraOptimizations ++= optimizerRules.filterNot(methods.extraOptimizations.contains)
    methods.extraStrategies ++= strategies.filterNot(methods.extraStrategies.contains)
  }
}
