package graft.tools

import org.apache.spark.sql.functions._

/** Multi-JVM smoke for the shared-root seams: everything else runs
  * `local[32]`, where a driver-local path silently works even if an
  * executor could never reach it. This main runs the three seam
  * consumers under `local-cluster[2,2,2048]` — Spark's real
  * multi-executor scheduler with SEPARATE executor JVMs — with
  * `spark.graft.scratchDir` and `spark.graft.stagingDir` on a shared
  * tmp root, so any remaining driver-local assumption (a path only
  * the driver can read, driver-side state an executor silently
  * misses) surfaces as a task failure instead of hiding until a real
  * cluster:
  *
  *  1. a Scratch consumer — q_dup_spectrum (session-materialized
  *     suffix-array rank + group-LCP tables, RDD range-sort passes);
  *  2. a staged streaming twin — releaseIngest (staged shards,
  *     per-bid stores, checkpointed foreachBatch drain);
  *  3. a GraftSink commit chain — overwrite, append, compact, read
  *     (DSv2 task writers run IN the executors; the manifest publish
  *     runs on the driver).
  *
  * Prints one JSON line per seam: {"seam":..,"ok":true,"sec":..}.
  * Requires executors to share the driver's filesystem (one machine
  * or a shared mount) — exactly the deployment contract the two conf
  * keys document. Results recorded in SURVEY §2.10 / BENCH_SCALING
  * ("Round-10 local-cluster smoke").
  *
  * Run:
  * {{{
  * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt "runMain graft.tools.ClusterSmoke"
  * }}}
  * (the worker builds each executor JVM's command from SPARK_HOME;
  * SPARK_SCALA_VERSION skips its dev-tree build-dir probe, which a
  * release layout does not have).
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    // WorkDirs root: hook-cleaned on JVM exit, so smoke runs leave no
    // residue under /tmp (round-12 verdict nit)
    val shared = graft.util.WorkDirs.temp("graft-cluster-shared")
    // context-level executor settings: a new SparkConf reads spark.*
    // system properties, so they reach the context create() starts.
    // Executors are fresh JVMs: they need this build's classes.
    sys.props("spark.executor.memory") = "2g"
    sys.props("spark.executor.extraClassPath") =
      sys.props.getOrElse("java.class.path", "")
    val spark = graft.GraftSession.create("local-cluster[2,2,2048]",
      "graft-cluster-smoke", 8)
    spark.conf.set("spark.graft.scratchDir", s"$shared/scratch")
    spark.conf.set("spark.graft.stagingDir", s"$shared/staging")
    spark.sparkContext.setLogLevel("WARN")
    require(spark.sparkContext.master.startsWith("local-cluster"),
      "smoke must run under local-cluster")

    def seam(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try {
        f
        println(f"""{"seam":"$name","ok":true,"sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      } catch { case e: Throwable =>
        println(s"""{"seam":"$name","ok":false,"err":"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").replace('"', '\'').take(200)}"}""")
        throw e
      }
    }

    seam("scratch_spanexact") {
      val r = graft.ops.SpanExact.queries("q_dup_spectrum")(spark, sfDir)
        .collect()
      require(r.nonEmpty, "empty spectrum")
    }
    seam("staging_stream_release") {
      val work = graft.util.WorkDirs.temp("graft-cluster-release")
      val census = graft.streaming.Streams
        .releaseIngest(spark, sfDir, work).collect()
      require(census.nonEmpty, "empty census")
    }
    seam("graftsink_commit") {
      val out = graft.util.WorkDirs.temp("graft-cluster-gsink")
      val src = graft.Tables(spark, sfDir, "orders")
        .select(col("o_orderkey").as("id"), col("o_totalprice"))
        .where(col("id") <= 100)
      val n = src.count()
      src.write.format("graftsink").option("path", out)
        .mode("overwrite").save()
      src.withColumn("id", col("id") + 1000000L)
        .write.format("graftsink").option("path", out)
        .mode("append").save()
      graft.sources.GraftSink.compact(out)
      require(spark.read.format("graftsink").load(out).count() == 2 * n,
        "graftsink row count after append+compact")
    }
    spark.stop()
    println("""{"smoke":"local-cluster","ok":true}""")
  }
}
