package graft.tools

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One-query profiler at the bench's session config: runs each named
  * SparkEntry query through the bench's noop materialization and
  * prints
  *  - to stdout, the formatted executed plan of EVERY action the query
  *    runs (its shared-table and Scratch builds, streaming sink writes
  *    and the final noop write), taken from a QueryExecutionListener;
  *  - to stderr, the query's wall and its slowest stages (wall, tasks,
  *    executor run time, shuffle write) with their call sites.
  * `conf:k=v` arguments set a session conf for the queries after them,
  * so a conf A/B is `q_x conf:k=v q_x`. Usage:
  * `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... sbt "runMain graft.tools.ProfileQuery q_x [conf:k=v] [q_y ...]"`.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.create(s"local[$cpus]", "graft-profile", 32)
    spark.sparkContext.setLogLevel("WARN")
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val wall = (for { a <- si.completionTime; b <- si.submissionTime }
            yield a - b).getOrElse(0L)
          val (run, sw) =
            if (si.taskMetrics != null)
              (si.taskMetrics.executorRunTime,
                si.taskMetrics.shuffleWriteMetrics.bytesWritten)
            else (0L, 0L)
          stages.put(si.stageId, (si.name.take(120), wall, si.numTasks, run, sw))
          ()
        }
      })
    // warm-up
    graft.SparkEntry.queries("q_count_total")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // registered after the warm-up so only profiled actions print.
    // The listener bus delivers asynchronously, so a plan is labeled
    // with the query in progress when it arrives; the cleanup and GC
    // between queries give the bus time to deliver the last ones.
    @volatile var current = ""
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
          durationNs: Long): Unit =
        println(f"===== [pq] $current action=$action ${durationNs / 1e9}%.2f s\n" +
          qe.explainString(FormattedMode))
      override def onFailure(action: String, qe: QueryExecution,
          e: Exception): Unit =
        println(s"===== [pq] $current action=$action FAILED: $e")
    })
    for (n <- args) {
      if (n.startsWith("conf:")) {
        val Array(k, v) = n.stripPrefix("conf:").split("=", 2)
        spark.conf.set(k, v)
        System.err.println(s"[pq] conf $k=$v")
      } else {
      stages.clear()
      current = n
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      System.err.println(f"[pq] $n total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2._2).take(15).foreach {
        case (id, (name, wall, nt, run, sw)) =>
          System.err.println(f"[pq]   stage $id%5d wall=${wall / 1000.0}%7.2fs " +
            f"tasks=$nt%4d run=${run / 1000.0}%8.2fs swMB=${sw / 1e6}%9.1f  $name")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      }
    }
    spark.stop()
  }
}
