package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The runtime rule that sorts a small aggregate in one partition, as
  * the shared suite session (a [[graft.GraftSession.create]] session)
  * runs it.
  */
class SortSmallResultSpec extends AnyFunSuite with SparkSpec {

  /** An `orders`-shaped table the size of sf0.001's: 1,500 orders over
    * 100 customers.
    */
  private def orders: DataFrame = spark.range(1500).select(
    col("id").as("o_orderkey"),
    (col("id") % 100).as("o_custkey"),
    ((col("id") * 7919) % 100000 / 100.0).as("o_totalprice"))

  /** Revenue per customer, largest first; the key breaks ties. */
  private def sortedAgg: DataFrame = orders.groupBy(col("o_custkey"))
    .agg(sum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
    .orderBy(col("revenue").desc, col("o_custkey"))

  /** A sorted aggregate over 200,000 permuted keys (`id` itself keeps
    * `range`'s partitioning and shuffles nothing): its partial
    * aggregates shuffle a few MB, more than AQE's 1 MB min partition
    * size and less than its 64 MB advisory size.
    */
  private def midSortedAgg: DataFrame = spark.range(200000)
    .select(((col("id") * 7919) % 200000).as("k"), (hash(col("id")) % 100000 / 100.0).as("v"))
    .groupBy(col("k")).agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
    .orderBy(col("total").desc, col("k"))

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => fail(s"not an adaptive plan: $p")
  }

  /** Range exchanges in the final adaptive plan of an executed `df`. */
  private def rangeExchanges(df: DataFrame): Int =
    "Exchange rangepartitioning".r.findAllMatchIn(finalPlan(df).toString).size

  /** Map output bytes of every hash shuffle stage in `p`, nested stages included. */
  private def hashShuffleBytes(p: SparkPlan): Seq[Long] = p match {
    case q: ShuffleQueryStageExec =>
      val own = if (q.shuffle.outputPartitioning.isInstanceOf[HashPartitioning])
        PlanBridge.shuffleBytes(q).toSeq else Nil
      own ++ hashShuffleBytes(q.plan)
    case q: QueryStageExec => hashShuffleBytes(q.plan)
    case _ => p.children.flatMap(hashShuffleBytes)
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a small sorted aggregate sorts in one partition: 2 jobs, no range exchange") {
    val df = sortedAgg
    val (rows, jobs) = jobsDuring(df.collect())
    assert(rows.length > 1)
    assert(jobs == 2, s"sorted aggregate ran $jobs jobs")
    assert(rangeExchanges(df) == 0, df.queryExecution.executedPlan.toString)
  }

  test("above the min partition size the range sort stays: 4 jobs, same rows in the same order") {
    val (small, _) = jobsDuring(sortedAgg.collect())
    val df = sortedAgg
    val (rows, jobs) = withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      jobsDuring(df.collect())
    }
    assert(jobs == 4, s"range-sorted aggregate ran $jobs jobs")
    assert(rangeExchanges(df) == 1, df.queryExecution.executedPlan.toString)
    assert(rows.toSeq == small.toSeq)
  }

  test("between the min partition size and the advisory size the range sort stays while parallelism comes first") {
    val ranged = midSortedAgg
    val (rows, jobs) = jobsDuring(ranged.collect())
    val bytes = hashShuffleBytes(finalPlan(ranged)).sum
    assert(bytes > (1L << 20) && bytes < (64L << 20), s"aggregate shuffled $bytes bytes")
    assert(jobs == 4, s"range-sorted aggregate ran $jobs jobs")
    assert(rangeExchanges(ranged) == 1, ranged.queryExecution.executedPlan.toString)
    assert(!finalPlan(ranged).toString.contains("Coalesce 1"), finalPlan(ranged).toString)
    // with parallelism off AQE reads up to the advisory size as one
    // partition, so the rule sorts it there: same rows, same order
    val single = midSortedAgg
    val (rows1, jobs1) = withConf("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      jobsDuring(single.collect())
    }
    assert(jobs1 == 2, s"sorted aggregate ran $jobs1 jobs")
    assert(rangeExchanges(single) == 0, single.queryExecution.executedPlan.toString)
    assert(rows1.toSeq == rows.toSeq)
  }

  test("a global sort over an explode keeps its range exchange") {
    val df = orders.groupBy(col("o_custkey"))
      .agg(collect_list(col("o_orderkey")).as("keys"))
      .select(col("o_custkey"), explode(col("keys")).as("o_orderkey"))
      .orderBy(col("o_orderkey"))
    val rows = df.collect()
    assert(rows.length == 1500)
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).toSeq.sorted)
    assert(rangeExchanges(df) == 1, df.queryExecution.executedPlan.toString)
    // and the sort over it still runs in parallel, not in one partition
    assert(!finalPlan(df).toString.contains("Coalesce 1"), finalPlan(df).toString)
  }

  test("a global sort straight over a cached table keeps its range exchange") {
    val cached = orders.cache()
    try {
      val df = cached.orderBy(col("o_totalprice"), col("o_orderkey"))
      assert(df.collect().length == 1500)
      assert(rangeExchanges(df) == 1, df.queryExecution.executedPlan.toString)
      assert(!finalPlan(df).toString.contains("Coalesce 1"), finalPlan(df).toString)
    } finally cached.unpersist()
  }

  test("GraftSession.create registers the rule once, as an AQE runtime rule") {
    val rules = spark.sessionState.adaptiveRulesHolder.runtimeOptimizerRules
    assert(rules.count(_.isInstanceOf[SortSmallResultInOnePartition]) == 1, rules)
  }
}
