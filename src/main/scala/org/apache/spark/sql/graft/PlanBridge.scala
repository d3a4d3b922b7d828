package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `org.apache.spark.sql` package so the graft
  * library can wrap a custom [[LogicalPlan]] node in a public
  * `DataFrame` (`Dataset.ofRows` is `private[sql]`). This is the
  * standard extension-library pattern — no Spark internals are
  * modified, we only call the same constructor `spark.sql(...)` uses.
  */
object PlanBridge {

  /** Wrap an already-resolved logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed (resolved) logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a raw Catalyst expression as a public Column (the Spark 4
    * Column API hides the expression constructor behind ColumnNode;
    * this is the same converter `expr(...)` parsing lands on). Lets
    * the library use non-public-API codegen expressions — e.g.
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * for the q_bloom_prefilter probe — instead of an interpreted udf.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (unresolved is fine —
    * analysis resolves it once the Column lands in a plan).
    */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The map output bytes of a run shuffle stage, the total AQE's
    * partition coalescing sizes its partitions by (`None` before it
    * has run).
    */
  def shuffleBytes(stage: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec)
      : Option[Long] =
    stage.mapStats.map(_.bytesByPartitionId.sum)

  /** Spark's own test mode, in which AQE caps its min partition size. */
  def isTesting: Boolean = org.apache.spark.util.Utils.isTesting
}
