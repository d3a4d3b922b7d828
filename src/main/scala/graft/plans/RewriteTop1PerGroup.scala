package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, MinBy}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Rewrites the top-1-per-group window idiom
  *
  * {{{ Filter(rn = 1, Window([row_number() OVER (PARTITION BY g ORDER BY k) AS rn], g, k)) }}}
  *
  * into a sort-free aggregate:
  *
  * {{{ Project(payload.* , 1 AS rn, Aggregate(g, [min_by(struct(child.*), struct(k'))])) }}}
  *
  * Why: the window form shuffles EVERY row of every group and sorts
  * each partition to keep one row per group. The aggregate form is a
  * hash aggregate with map-side partial `min_by` — one surviving row
  * per group per mapper crosses the wire and nothing is ever sorted.
  * At 100 TB "latest row per key / best row per group" is one of the
  * most common query shapes, and the sort is pure waste. (Spark's own
  * InferWindowGroupLimit bounds the sort's input per partition but
  * still sorts and still shuffles per-mapper survivors through a
  * Window operator; this rewrite removes the sort entirely. The rule
  * runs after it and tolerates an interposed WindowGroupLimit child —
  * the prefilter stays, harmlessly, below the aggregate.)
  *
  * Safety: fires only when
  *  - the Window computes exactly one expression, a `row_number()`;
  *  - the filter pins it to 1 (`rn = 1`, `rn <= 1`, `rn < 2`; extra
  *    conjuncts not referencing rn are preserved above the rewrite);
  *  - every ORDER BY key is Ascending NullsFirst (struct comparison
  *    is field-by-field nulls-first ascending — identical ordering),
  *    or Descending NullsLast on a NON-NULLABLE integral key (mapped
  *    through bitwise NOT: order-reversing, overflow-free). Nullable
  *    or floating descending keys bail out: NULL placement and NaN
  *    ordering under negation would diverge from SortOrder semantics.
  *  - ties in the full ORDER BY remain nondeterministic exactly as
  *    row_number ties are; queries needing determinism already need a
  *    unique tie-break key under either execution.
  *
  * The rewritten plan preserves the Window output schema (rn becomes
  * a literal 1) and every attribute id, so parent plans resolve
  * unchanged. Kill switch: `spark.graft.rewriteTop1PerGroup=false`.
  * Registered only by `GraftExtensions.injectOptimizerRule`
  * ([[graft.GraftSession.create]], or `spark.sql.extensions` for
  * spark-submit users).
  */
object RewriteTop1PerGroup extends Rule[LogicalPlan] {

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case o => Seq(o)
  }

  private def pinsToOne(c: Expression, rn: Attribute): Boolean = c match {
    case EqualTo(a: Attribute, Literal(v, _)) => a.semanticEquals(rn) && v == 1
    case EqualTo(Literal(v, _), a: Attribute) => a.semanticEquals(rn) && v == 1
    case LessThanOrEqual(a: Attribute, Literal(v, _)) => a.semanticEquals(rn) && v == 1
    case GreaterThanOrEqual(Literal(v, _), a: Attribute) => a.semanticEquals(rn) && v == 1
    case LessThan(a: Attribute, Literal(v, _)) => a.semanticEquals(rn) && v == 2
    case GreaterThan(Literal(v, _), a: Attribute) => a.semanticEquals(rn) && v == 2
    case _ => false
  }

  /** Expression whose ASCENDING min matches this SortOrder; None when
    * the ordering can't be mirrored safely.
    */
  private def sortKey(so: SortOrder): Option[Expression] = so match {
    case SortOrder(c, Ascending, NullsFirst, _) => Some(c)
    case SortOrder(c, Descending, NullsLast, _) if !c.nullable =>
      c.dataType match {
        case ByteType | ShortType | IntegerType | LongType => Some(BitwiseNot(c))
        case _ => None
      }
    case _ => None
  }

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.rewriteTop1PerGroup", "true") == "true"

  def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case f @ Filter(cond,
          w @ Window(Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)),
            partitionSpec, orderSpec, child, _)) if orderSpec.nonEmpty =>
        val rn = al.toAttribute
        val conjuncts = splitConjuncts(cond)
        val (rnPins, rest) = conjuncts.partition(pinsToOne(_, rn))
        val keys = orderSpec.map(sortKey)
        if (rnPins.isEmpty || rest.exists(_.references.contains(rn)) ||
            keys.exists(_.isEmpty)) {
          f
        } else {
          val payload = CreateStruct(child.output)
          val ordKey = CreateStruct(keys.map(_.get))
          val best = Alias(
            AggregateExpression(MinBy(payload, ordKey), Complete, isDistinct = false),
            "top1_best")()
          val agg = Aggregate(partitionSpec, Seq(best), child)
          val restored: Seq[NamedExpression] = child.output.zipWithIndex.map {
            case (a, i) =>
              Alias(GetStructField(best.toAttribute, i, Some(a.name)), a.name)(
                exprId = a.exprId, qualifier = a.qualifier)
          } :+ Alias(Literal(1, IntegerType), al.name)(exprId = rn.exprId)
          val proj = Project(restored, agg)
          if (rest.isEmpty) proj else Filter(rest.reduce(And), proj)
        }
    }
  }
}
