package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native SQL functions: name, the expression class its
  * `ExpressionInfo` names, and the builder. [[GraftExtensions]] injects
  * every entry.
  */
object Registry {
  private[graft] val builders
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim], exprs => CosineSim(exprs(0), exprs(1))),
    ("h60", classOf[H60], exprs => H60(exprs.head)),
    ("bottom_k_ids", classOf[BottomKIds],
      exprs => BottomKIds(exprs(0), exprs(1), exprs(2)).toAggregateExpression()),
    ("top_k_by_score", classOf[TopKByScore],
      exprs => TopKByScore(exprs(0), exprs(1), exprs(2)).toAggregateExpression()),
    ("kmv_min_k", classOf[KmvMinK],
      exprs => KmvMinK(exprs(0), exprs(1)).toAggregateExpression()),
    ("mg_topk", classOf[MisraGries],
      exprs => MisraGries(exprs(0), exprs(1)).toAggregateExpression()),
    ("array_lcp_from", classOf[ArrayLcpFrom],
      exprs => ArrayLcpFrom(exprs(0), exprs(1), exprs(2), exprs(3))))
}

/** The one way the engine enters a session: every native SQL function
  * in [[Registry]], the top-1-per-group optimizer rule, the AQE runtime
  * rule that sorts a small result in one partition, and the as-of join
  * strategy. [[graft.GraftSession.create]] installs it; spark-submit
  * users set `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    for ((name, cls, build) <- Registry.builders)
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    e.injectOptimizerRule(_ => graft.plans.RewriteTop1PerGroup)
    e.injectRuntimeOptimizerRule(graft.plans.SortSmallResultInOnePartition)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
