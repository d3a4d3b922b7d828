package graft.tools

/** Plan-quality audit: prints the formatted physical plan of selected
  * queries (or all) and flags scale-critical properties — filter/
  * projection pushdown into the parquet scan, broadcast vs shuffle
  * joins, TakeOrderedAndProject for top-k, whole-stage codegen spans.
  * Usage: `sbt "runMain graft.tools.Explain [sfDir] [query ...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.create("local[4]", "graft-explain", 4)
    spark.sparkContext.setLogLevel("ERROR")

    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val flags = Seq(
        "PushedFilters" -> plan.contains("PushedFilters: ["),
        "BroadcastHashJoin" -> plan.contains("BroadcastHashJoin"),
        "SortMergeJoin" -> plan.contains("SortMergeJoin"),
        "ShuffledHashJoin" -> plan.contains("ShuffledHashJoin"),
        "TakeOrderedAndProject" -> plan.contains("TakeOrderedAndProject"),
        "WholeStageCodegen" -> plan.contains("codegen id :"),
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "Exchange" -> plan.contains("Exchange")
      ).collect { case (k, true) => k }.mkString(", ")
      println(s"===== $n [$flags]")
      if (sys.env.contains("EXPLAIN_FULL")) println(plan)
    }
    spark.stop()
  }
}
