package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.functions.TopKStructs

/** Optimizer rule (extension ladder step (c), SURVEY.md §3): rewrite the
  * ubiquitous per-key top-k window pattern
  *
  * {{{ Filter(rn <= k, Window(row_number() over (partition by p order by o) as rn, child)) }}}
  *
  * into the bounded [[TopKStructs]] aggregate:
  *
  * {{{ Filter(residual, Project(Generate(posexplode(top), Aggregate(p, top_k_structs(struct(o…, child.*), k), child)))) }}}
  *
  * Why: the window plan shuffles EVERY raw row to its key's partition and
  * then sorts whole partitions, only to discard all but k rows per key.
  * The rewrite keeps a k-row buffer per key with map-side partial
  * aggregation — at 100 TB the shuffle shrinks from every row to
  * ≤ k·keys·mapTasks rows and the per-partition sort disappears.
  * `row_number()` on tied sort keys is nondeterministic, and the
  * aggregate resolves such ties arbitrarily too, so any result it
  * produces is a result the window plan could also have produced.
  *
  * Gated off by default (`spark.graft.topkRewrite.enabled=true` turns it
  * on) so the window formulation stays available as a baseline. The
  * session must also list the rule: `GraftFunctions.register` arms it
  * (`GraftExtensions` at session build), and the queries that rely on
  * it call `register` themselves.
  */
object TopKWindowRewrite extends Rule[LogicalPlan] {

  val ENABLED_KEY = "spark.graft.topkRewrite.enabled"
  private val MAX_K = 1024

  private def enabled: Boolean =
    SQLConf.get.getConfString(ENABLED_KEY, "false").toBoolean

  /** rn-limit conjunct → k (None when the conjunct is not an rn bound). */
  private def rnLimit(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn)        => Some(v - 1)
    case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) && v == 1 => Some(1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn)      => Some(v - 1)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case f @ Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(RowNumber(), WindowSpecDefinition(part, order, _)), _)),
                 _, _, windowChild, _))
          if order.nonEmpty && order.forall(_.child.deterministic) &&
             part.forall(_.isInstanceOf[Attribute]) =>
        // InsertWindowGroupLimit may already have slipped a
        // WindowGroupLimit (+ per-partition sorts) under the Window; the
        // aggregate subsumes it, so unwrap to avoid paying its sort.
        val child = windowChild match {
          case WindowGroupLimit(_, _, RowNumber(), _, inner) => inner
          case other                                         => other
        }
        val rnAttr = alias.toAttribute
        val parts = conjuncts(cond).map(c => c -> rnLimit(c, rnAttr))
        val ks = parts.collect { case (_, Some(k)) => k }
        if (ks.isEmpty || ks.min < 1 || ks.min > MAX_K) f
        else {
          val k = ks.min
          val residual = parts.collect { case (c, None) => c }
            .reduceOption(And)

          // payload struct: ordering fields first, then every child output
          val orderFields = order.zipWithIndex.flatMap { case (so, i) =>
            Seq(Literal(s"_o$i"), so.child)
          }
          val childFields = child.output.zipWithIndex.flatMap { case (a, i) =>
            Seq(Literal(s"_c$i"), a)
          }
          val payload = CreateNamedStruct(orderFields ++ childFields)
          val agg = TopKStructs(
            payload, k,
            ascending = order.map(_.direction == Ascending),
            nullsFirst = order.map(_.nullOrdering == NullsFirst))
          val topAlias = Alias(
            AggregateExpression(agg, Complete, isDistinct = false), "_top")()
          val aggregate2 = Aggregate(part, Seq(topAlias), child)

          val structType = payload.dataType.asInstanceOf[StructType]
          val posAttr = AttributeReference("_pos", IntegerType, nullable = false)()
          val colAttr = AttributeReference("_kcol", structType, nullable = false)()
          val generate = Generate(
            PosExplode(topAlias.toAttribute),
            unrequiredChildIndex = Seq(0),
            outer = false,
            qualifier = None,
            generatorOutput = Seq(posAttr, colAttr),
            aggregate2)

          val nOrder = order.length
          val childProj = child.output.zipWithIndex.map { case (a, i) =>
            Alias(GetStructField(colAttr, nOrder + i, Some(s"_c$i")), a.name)(
              exprId = a.exprId, qualifier = a.qualifier)
          }
          val rnProj = Alias(
            Add(posAttr, Literal(1, IntegerType)), alias.name)(
            exprId = rnAttr.exprId, qualifier = rnAttr.qualifier)
          val project = Project(childProj :+ rnProj, generate)

          residual.map(Filter(_, project)).getOrElse(project)
        }
    }
  }
}
