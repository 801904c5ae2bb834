package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
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
