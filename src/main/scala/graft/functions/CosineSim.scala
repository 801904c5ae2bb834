package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays.
  *
  * Per the engine's extension ladder (SURVEY.md §3), a scalar function
  * that Spark lacks gets a custom `Expression` with `doGenCode` — it
  * stays inside whole-stage codegen (one fused loop over the unsafe
  * array data, no boxing), which a Scala UDF cannot do.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var n1 = 0.0; var n2 = 0.0
    var i = 0
    while (i < n) {
      // null elements contribute nothing (treated as 0)
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; n1 += xi * xi; n2 += yi * yi
      }
      i += 1
    }
    // zero vector: define similarity as 0.0 rather than NaN so
    // `>= threshold` filters stay well-behaved
    if (n1 == 0.0 || n2 == 0.0) 0.0
    else dot / (math.sqrt(n1) * math.sqrt(n2))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $n1 = 0.0, $n2 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    double xi = $x.getDouble($i);
         |    double yi = $y.getDouble($i);
         |    $dot += xi * yi; $n1 += xi * xi; $n2 += yi * yi;
         |  }
         |}
         |${ev.value} = ($n1 == 0.0 || $n2 == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($n1) * java.lang.Math.sqrt($n2));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Registration for driver-created sessions (idempotent). With
  * session-construction control, the same builder can be injected via
  * `SparkSessionExtensions.injectFunction` instead. */
object GraftFunctions {
  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    (children: Seq[Expression]) => CosineSim(children(0), children(1)))

  val bottomKDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bottomk_by_hash"),
    new ExpressionInfo(classOf[BottomKByHash].getName, "bottomk_by_hash"),
    (children: Seq[Expression]) => BottomKByHash(
      children(0),
      children(1).eval(null).asInstanceOf[Number].intValue)
      .toAggregateExpression())

  val bottomKDistinctDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bottomk_distinct"),
    new ExpressionInfo(classOf[BottomKDistinct].getName, "bottomk_distinct"),
    (children: Seq[Expression]) => BottomKDistinct(
      children(0),
      children(1).eval(null).asInstanceOf[Number].intValue)
      .toAggregateExpression())

  val topKDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("top_k_structs"),
    new ExpressionInfo(classOf[TopKStructs].getName, "top_k_structs"),
    // top_k_structs(struct, k[, ascending_array[, nulls_first_array]]):
    // with directions given, only the leading |ascending| fields are
    // compared — the rest is payload (may be unorderable, e.g. maps)
    (children: Seq[Expression]) => {
      def boolSeq(e: Expression): Seq[Boolean] =
        e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toBooleanArray().toSeq
      val asc = if (children.length > 2) boolSeq(children(2)) else Nil
      val nf  = if (children.length > 3) boolSeq(children(3)) else asc.map(_ => false)
      TopKStructs(
        children(0),
        children(1).eval(null).asInstanceOf[Number].intValue,
        ascending = asc, nullsFirst = nf)
        .toAggregateExpression()
    })

  val frequentItemsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("frequent_items"),
    new ExpressionInfo(classOf[FrequentItems].getName, "frequent_items"),
    (children: Seq[Expression]) => FrequentItems(
      children(0),
      children(1).eval(null).asInstanceOf[Number].intValue)
      .toAggregateExpression())

  val hilbertDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hilbert_index"),
    new ExpressionInfo(classOf[graft.sink.HilbertIndex].getName, "hilbert_index"),
    (children: Seq[Expression]) =>
      graft.sink.HilbertIndex(children(0), children(1)))

  val bagBoundDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bag_bound"),
    new ExpressionInfo(classOf[BagBound].getName, "bag_bound"),
    (children: Seq[Expression]) => BagBound(children(0), children(1)))

  val sortedIntersectDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sorted_intersect_count"),
    new ExpressionInfo(classOf[SortedIntersectCount].getName,
      "sorted_intersect_count"),
    (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1)))

  val icebergBucketDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("iceberg_bucket"),
    new ExpressionInfo(classOf[IcebergBucket].getName, "iceberg_bucket"),
    // iceberg_bucket(n, col): n is a foldable bucket count
    (children: Seq[Expression]) => IcebergBucket(
      children(0).eval(null).asInstanceOf[Number].intValue,
      children(1)))

  val ddsketchDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("ddsketch_agg"),
    new ExpressionInfo(classOf[DdsketchAgg].getName, "ddsketch_agg"),
    (children: Seq[Expression]) => DdsketchAgg(
      children(0),
      children(1).eval(null).asInstanceOf[Number].intValue)
      .toAggregateExpression())

  /** Every native function graft registers, for [[register]] and for
    * [[GraftExtensions]] alike. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(cosineSimDescriptor, bottomKDescriptor, bottomKDistinctDescriptor,
      topKDescriptor, frequentItemsDescriptor, hilbertDescriptor,
      bagBoundDescriptor, sortedIntersectDescriptor, ddsketchDescriptor,
      icebergBucketDescriptor)

  def register(spark: SparkSession): Unit = {
    // JVM-GLOBAL: in-memory ImageIO streams for the media kernels (the
    // default cache writes+unlinks a temp FILE per encode/decode call).
    // Declared here — the engine's explicit init path — so the driver
    // opts in visibly; ImageOps' object initializer sets the same flag
    // when it first loads on an EXECUTOR, which the session-init call
    // cannot reach on a real cluster.
    javax.imageio.ImageIO.setUseCache(false)
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    // optimizer rewrites (conf-gated, default off) — idempotent add
    Seq(graft.plans.TopKWindowRewrite, graft.plans.ApproxDistinctRewrite,
        graft.plans.RangeJoinRewrite, graft.plans.RollupRewrite)
      .foreach { rule =>
        if (!spark.experimental.extraOptimizations.contains(rule)) {
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ rule
        }
      }
    // Iceberg-chain table functions (idempotent: re-register overwrites)
    graft.catalog.IcebergTvf.register(spark)
    // planner strategy for the native as-of join (idempotent add)
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
  }
}
