package graft.tools

import java.nio.file.Files
import graft.covid.{CovidPipeline, CovidSchema, Watermark}

/** End-to-end demo of the covid pipeline on a tiny inline CSV —
  * the engine equivalent of the reference's README walkthrough
  * (ingest → hourly ETL runs → dashboard). Usage:
  * `sbt "runMain graft.tools.CovidDemo [csvPath]"`.
  */
object CovidDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("local[4]", "graft-covid-demo", 4)
    spark.sparkContext.setLogLevel("ERROR")

    // hook-cleaned WorkDirs root — demo runs leave no /tmp residue
    val dir = java.nio.file.Paths.get(graft.util.WorkDirs.temp("covid-demo"))
    val csv = args.headOption.getOrElse {
      val pad = ",x" * CovidSchema.passthroughColumns.size
      val body = Seq(
        CovidSchema.csvSchema.fieldNames.mkString(","),
        "2022-04-27,arkansas,bradley,17,1" + pad,
        "2022-04-27, TEXAS ,o'brien,3,0" + pad,
        "2022-04-28,arkansas,bradley,21,2" + pad,
        "2022-04-28,texas,o'brien",               // missing trailing fields -> 0
        "2022-04-29,new york,kings,oops,9" + pad, // malformed -> dropped
        "2022-04-29,new york,kings,44,3" + pad)
      val p = dir.resolve("covid.csv")
      Files.writeString(p, body.mkString("\n"))
      p.toString
    }

    val staging = s"$dir/staging"; val wh = s"$dir/warehouse"; val st = s"$dir/state"
    println(s"[ingest] rows staged: ${CovidPipeline.ingest(spark, csv, staging)}")
    var run = 1
    var n = -1L
    while (n != 0) {
      n = CovidPipeline.etlOnce(spark, staging, wh, st, limit = Some(3))
      println(s"[etl run $run] appended $n rows, watermark=${new Watermark(spark, st).load()}")
      run += 1
    }
    val card = CovidPipeline.dashboard(spark, wh)
    CovidPipeline.dashboardCards.foreach { name =>
      println(s"--- $name ---")
      card(name).show(10, truncate = false)
    }
    spark.stop()
  }
}
