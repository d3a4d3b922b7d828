package graft.perfbench

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession

/** Checks the attribution machinery on a small session: batch calls and
  * a foreachBatch stream run under job tags, and the per-call sums must
  * equal the run-wide listener totals with no untagged job. Also checks
  * the memo-miss guard: a shared builder called twice on the same tables
  * writes files the first time and none the second. Prints `SELFTEST OK`
  * and exits 0, or exits 1 naming every failure.
  *
  * Usage: SelfTest <work dir> <tables dir>
  *
  * The work dir must be the JVM's `java.io.tmpdir`, which is where the
  * shingle-postings builder writes.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(argv(0))
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) failures += what

    expect(Tracer.covered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 30, "covered: overlap")
    expect(Tracer.covered(0, 100, Seq((-10L, 5L), (95L, 200L))) == 10, "covered: clipping")
    expect(Tracer.covered(0, 100, Nil) == 0, "covered: empty")

    val spark = GraftSession.create("local[2]", "perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    spark.streams.addListener(tracer.streams)
    val calls = new Calls(spark)
    calls("analytics.query", "range", 1)(spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().collect())
    calls("ops.shared_build", "write", 1)(
      spark.range(100).write.mode("overwrite").parquet(work.resolve("t").toString))
    calls("streaming.twins", "rate", 1) {
      val q = spark.readStream.schema("id LONG").parquet(work.resolve("t").toString)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", work.resolve("ck").toString)
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => { df.count(); () })
        .start()
      q.awaitTermination()
    }
    calls("ops.dedup", "fails", 1)(throw new IllegalStateException("expected"))
    def postings(): Int = MemoGuard.newFiles(Seq(work))(calls("ops.shared_build", "postings", 1)(
      graft.ops.Dedup.sharedShinglePostings(spark, argv(1)).write.format("noop").mode("overwrite").save()))
    expect(postings() > 0, "memo guard: the first build wrote no file")
    expect(postings() == 0, "memo guard: a memo hit wrote files")
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val tags = calls.all.map(_.tag).toSet
    val sum = new tracer.Agg
    tracer.byTag.filter(kv => tags(kv._1)).values.foreach(sum.add)
    expect(tracer.total.jobs > 0, "no jobs seen")
    expect(tracer.untaggedJobs == 0, s"${tracer.untaggedJobs} untagged jobs")
    expect(sum.jobs == tracer.total.jobs, s"jobs ${sum.jobs} != ${tracer.total.jobs}")
    expect(sum.tasks == tracer.total.tasks, s"tasks ${sum.tasks} != ${tracer.total.tasks}")
    expect(sum.cpuNs == tracer.total.cpuNs, "task cpu sums differ")
    expect(sum.writtenBytes == tracer.total.writtenBytes, "written bytes differ")
    val twin = calls.all.find(_.kind == "streaming.twins").get
    expect(tracer.byTag.get(twin.tag).exists(_.jobs > 0), "stream jobs not attributed to the call")
    expect(tracer.triggers.nonEmpty && tracer.triggers.forall(_.tag == twin.tag),
      "trigger progress not attributed to the call")
    expect(calls.all.count(!_.ok) == 1, "the failing call was not recorded as failed")
    spark.stop()

    if (failures.isEmpty) println("SELFTEST OK")
    else {
      failures.foreach(f => System.err.println(s"SELFTEST FAILED: $f"))
      sys.exit(1)
    }
  }
}
