package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a global sort over a run result that AQE reads
  * in one partition anyway sorts it there instead of range-partitioning
  * it.
  *
  * {{{ Sort(order, global, chain(stages)) => Sort(order, global, Repartition(1, shuffle = false, chain(stages))) }}}
  *
  * Why: a global `Sort` plans as a range exchange, which costs a
  * sampling job (the range bounds) and a shuffle stage before the sort
  * runs, so a sorted aggregate runs 4 Spark jobs. When AQE's partition
  * coalescing (`CoalesceShufflePartitions`) would read the stages under
  * the sort as a single partition, the operators above them run in one
  * task whatever this rule does; the coalesce then gives the sort that
  * one partition, the range exchange is never planned, and the query
  * runs 2 jobs. No operator loses a task it would have had.
  *
  * The size AQE reads in one partition is its coalescing target,
  * `max(minPartitionSize, min(ceil(total / minPartitions), advisory))`:
  * with `spark.sql.adaptive.coalescePartitions.parallelismFirst` (the
  * default) `minPartitions` is the default parallelism, and a total
  * fits one partition only up to `minPartitionSize` (1 MB by default);
  * with it off, up to the larger of `minPartitionSize` and
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`.
  *
  * Safety: fires only when
  *  - the sort's child is a chain of operators that cannot add rows
  *    (`Aggregate`, `Project`, `Filter`, `Window`, the left side of a
  *    left-semi/anti join) ending at query stages that have run;
  *  - every stage under it is a shuffle AQE coalesces or a broadcast
  *    (not a cached table, which keeps its own partitions), no shuffle
  *    is the sort's own range exchange (once it has run there is
  *    nothing left to save), and the shuffles' map output totals at
  *    most the one-partition size above.
  * Rows, values and order are unchanged: the coalesce sits above the
  * operators, so each key's partial buffers still merge in the same
  * reducer task, and the sort orders the same rows. A chain through
  * anything that can add rows (`Generate`, an inner join) keeps its
  * range exchange.
  *
  * Registered by `GraftExtensions.injectRuntimeOptimizerRule`
  * ([[graft.GraftSession.create]], spark-submit users); runtime rules
  * run only during AQE re-optimization.
  */
case class SortSmallResultInOnePartition(session: SparkSession) extends Rule[LogicalPlan] {

  /** `p` has at most as many rows as the query stages it ends at, and
    * every one of those stages has run.
    */
  private def overRunStages(p: LogicalPlan): Boolean = p match {
    case s: LogicalQueryStage => s.isMaterialized
    case _: Aggregate | _: Project | _: Filter | _: Window => overRunStages(p.children.head)
    case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti => overRunStages(j.left)
    case _ => false
  }

  /** The most shuffle bytes AQE's coalescing reads as one partition. */
  private def onePartitionBytes: Long = {
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val minPartitions =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
          .getOrElse(session.sparkContext.defaultParallelism)
      else 1
    // Spark's test mode caps the min partition size at a fifth of the advisory
    val minPartitionSize = if (PlanBridge.isTesting) minSize.min(advisory / 5) else minSize
    if (minPartitions <= 1) minPartitionSize.max(advisory) else minPartitionSize
  }

  /** `p` reads only run query stages, each a shuffle AQE coalesces or a
    * broadcast, no shuffle is a range exchange, and the shuffles hold
    * at most `limit` bytes together. Any other stage (a cached table's)
    * keeps the partitions it has, whatever its size.
    */
  private def readAsOnePartition(p: LogicalPlan, limit: Long): Boolean = {
    val leaves = p.collectLeaves()
    val stages = leaves.collect { case s: LogicalQueryStage =>
      s.physicalPlan.collect { case q: QueryStageExec => q }
    }.flatten
    val shuffles = stages.collect { case q: ShuffleQueryStageExec => q }
    val coalesced = shuffles.forall { q =>
      (q.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS || q.shuffle.shuffleOrigin == REPARTITION_BY_COL) &&
        !q.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
    }
    val bytes = shuffles.map(PlanBridge.shuffleBytes)
    leaves.forall(_.isInstanceOf[LogicalQueryStage]) &&
      stages.forall(q => q.isInstanceOf[ShuffleQueryStageExec] || q.isInstanceOf[BroadcastQueryStageExec]) &&
      shuffles.nonEmpty && coalesced && bytes.forall(_.isDefined) && bytes.flatten.sum <= limit
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val limit = onePartitionBytes
      plan.transformDown {
        case s: Sort if s.global && overRunStages(s.child) && readAsOnePartition(s.child, limit) =>
          s.copy(child = Repartition(1, shuffle = false, s.child))
      }
    }
}
