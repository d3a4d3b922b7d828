package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.PlanBridge

/** Native as-of join — the full custom-operator ladder rung (c) of
  * SURVEY §2.9/§7.5: a dedicated [[LogicalPlan]] node, a
  * [[SparkStrategy]] and a physical [[SparkPlan]], registered through
  * `SparkSessionExtensions` (`GraftExtensions`).
  *
  * Semantics (reference: the "latest order at-or-before the event"
  * lookup of `q_asof_join`, cf. dags/ETL.py:37-154's
  * latest-state-per-entity reads): for every left row, the single
  * right row with equal keys, `rightTime <= leftTime`, maximal
  * `(rightTime, tiebreaks...)`; left rows without a match keep nulls
  * (left-outer). The composed window form
  * (`analytics/TemporalJoins.q_asof_join`) multiplies every left row
  * by ALL earlier right matches and then ranks them — per-row work
  * proportional to match-list length. This operator is the
  * sort-merge-free broadcast form: the small side is broadcast once
  * (`BroadcastDistribution(IdentityBroadcastMode)` — Catalyst inserts
  * the `BroadcastExchange` and reuses it across partitions), each task
  * builds a key → time-sorted-rows index, and every probe row is one
  * hash lookup + one binary search: O(|L| log m) instead of O(|L|·m),
  * with NO shuffle of the probe side at all.
  *
  * 100 TB story: the probe side streams map-only (its partitioning is
  * preserved, `outputPartitioning = left.outputPartitioning`), so a
  * 1000-executor scan of the fact table joins against a dimension
  * snapshot with zero exchanges on the big side. When the right side
  * outgrows broadcast, the same logical node can be planned as a
  * co-partitioned merge join — the strategy is the only piece that
  * would change, which is exactly why the operator is expressed as a
  * logical node rather than hand-wired physical code.
  */
case class AsOfJoinPlan(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreaks: Seq[Expression],
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {

  require(leftKeys.length == rightKeys.length, "key arity mismatch")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[BroadcastAsOfJoinExec]] (right side
  * broadcast). `planLater` keeps both children inside normal Catalyst
  * planning, so pushdown/pruning below the join is unaffected.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(lk, rk, lt, rt, tb, l, r) =>
      BroadcastAsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreaks: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Probe side is never moved: partitioning/ordering survive the join.
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val leftOut = left.output
    val rightOut = right.output
    val boundLeftKeys = leftKeys.map(BindReferences.bindReference(_, leftOut))
    val boundRightKeys = rightKeys.map(BindReferences.bindReference(_, rightOut))
    val boundLeftTime = BindReferences.bindReference(leftTime, leftOut)
    val boundSortKeys =
      (rightTime +: rightTiebreaks).map(BindReferences.bindReference(_, rightOut))
    val sortKeyTypes = (rightTime +: rightTiebreaks).map(_.dataType)
    val timeType = leftTime.dataType
    val rightWidth = rightOut.length
    val outAttrs = output

    left.execute().mapPartitions({ iter =>
      // Generated projections/orderings are not serializable — build
      // them (and the index) inside the task. Index build is
      // O(|R| log |R|) per task over the already-broadcast rows.
      val keyProjR = UnsafeProjection.create(boundRightKeys)
      val keyProjL = UnsafeProjection.create(boundLeftKeys)
      val sortProj = UnsafeProjection.create(boundSortKeys)
      val sortOrd = RowOrdering.createNaturalAscendingOrdering(sortKeyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))

      val index = new java.util.HashMap[UnsafeRow, ArrayBuffer[(UnsafeRow, InternalRow)]]()
      broadcastRows.value.foreach { r =>
        val k = keyProjR(r)
        val sk = sortProj(r)
        // Null keys/times can never satisfy the as-of predicate.
        if (!k.anyNull && !sk.isNullAt(0)) {
          var buf = index.get(k)
          if (buf == null) {
            buf = new ArrayBuffer[(UnsafeRow, InternalRow)]()
            index.put(k.copy(), buf)
          }
          buf += ((sk.copy(), r))
        }
      }
      index.values.forEach { buf =>
        buf.sortInPlace()(Ordering.by[(UnsafeRow, InternalRow), InternalRow](_._1)(sortOrd))
      }

      val probeTime = new GenericInternalRow(1)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)

      iter.map { l =>
        var matched: InternalRow = null
        val k = keyProjL(l)
        if (!k.anyNull) {
          val buf = index.get(k)
          if (buf != null) {
            val t = boundLeftTime.eval(l)
            if (t != null) {
              probeTime.update(0, t)
              // Rightmost entry with time <= probe time; tuples are
              // sorted by (time, tiebreaks) asc, so that entry is the
              // (max time, max tiebreak) winner.
              var lo = 0; var hi = buf.length - 1; var ans = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (timeOrd.compare(buf(mid)._1, probeTime) <= 0) { ans = mid; lo = mid + 1 }
                else hi = mid - 1
              }
              if (ans >= 0) matched = buf(ans)._2
            }
          }
        }
        joined(l, if (matched == null) nullRight else matched)
        outProj(joined)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Public builder: `AsOfJoin.broadcastAsOf(events, orders, ...)`. */
object AsOfJoin {

  /** Left-outer as-of join of `left` against a broadcastable `right`.
    * Key/time columns are resolved by name against each side; the
    * left and right time columns must share one data type (cast
    * beforehand if needed). Right rows are ranked by
    * `(timeCol, tiebreaks...)` and the maximal at-or-before row wins.
    */
  def broadcastAsOf(
      left: DataFrame, right: DataFrame,
      leftKeyCols: Seq[String], rightKeyCols: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    val spark = left.sparkSession
    val lp = PlanBridge.analyzed(left)
    val rp = PlanBridge.analyzed(right)
    // resolve like the analyzer: honor spark.sql.caseSensitive and
    // refuse ambiguous names instead of silently binding the first
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def attr(p: LogicalPlan, n: String): Attribute = {
      val hits = p.output.filter(a =>
        if (caseSensitive) a.name == n else a.name.equalsIgnoreCase(n))
      require(hits.length <= 1,
        s"column $n is ambiguous in [${p.output.map(_.name).mkString(", ")}]")
      hits.headOption.getOrElse(throw new IllegalArgumentException(
        s"column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    }
    val lt = attr(lp, leftTimeCol); val rt = attr(rp, rightTimeCol)
    require(lt.dataType == rt.dataType,
      s"as-of time types differ: ${lt.dataType} vs ${rt.dataType}")
    leftKeyCols.zip(rightKeyCols).foreach { case (a, b) =>
      require(attr(lp, a).dataType == attr(rp, b).dataType,
        s"key types differ for ($a, $b)")
    }
    PlanBridge.ofRows(spark, AsOfJoinPlan(
      leftKeyCols.map(attr(lp, _)), rightKeyCols.map(attr(rp, _)),
      lt, rt, tiebreakCols.map(attr(rp, _)), lp, rp))
  }
}
