package graft.tools

/** Dev smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * on sf0.001 must return rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("local[4]", "graft-smoke", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
