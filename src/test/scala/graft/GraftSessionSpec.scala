package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one-call session entry point must deliver the full extension
  * surface with no manual registration.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  test("GraftSession.create wires native SQL functions and the as-of strategy") {
    val prev = spark // keep the shared suite session to restore
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.create("local[2]", "graft-session-spec", 2)
      // scale defaults the operators' plan shapes assume — including
      // the round-3 lesson: parquet timestamps read as TIMESTAMP, not
      // TIMESTAMP_NTZ (watermarks and unix_micros require it)
      assert(s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      // JVM case mapping: no ICU title-case table built per JVM
      assert(s.conf.get("spark.sql.icu.caseMappings.enabled") == "false")
      // native expressions resolve in SQL with no Registry.ensure call
      assert(s.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))")
        .head().getDouble(0) == 1.0)
      assert(s.sql("SELECT h60('abc')").head().getLong(0) > 0L)
      // the custom as-of strategy is installed session-wide
      import s.implicits._
      val l = Seq((1L, 10L, 5L)).toDF("id", "k", "t")
      val r = Seq((10L, 3L, 7L)).toDF("rk", "rt", "p")
      val joined = graft.plans.AsOfJoin.broadcastAsOf(
        l, r, Seq("k"), Seq("rk"), "t", "rt", Seq("p"))
      assert(joined.collect().head.getLong(5) == 7L)
      assert(joined.queryExecution.executedPlan.toString
        .contains("BroadcastAsOfJoin"))
      // the extensions already inject the top-1 rule; a table read's
      // Registry.ensure must not add it to a second optimizer batch
      Tables(s, "/root/testdata/sf0.001", "region")
      assert(!s.experimental.extraOptimizations
        .contains(graft.plans.RewriteTop1PerGroup))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("every main starts its session through GraftSession.create") {
    // one session setup: a hand-built SparkSession.builder() in a main
    // drifts from the config of record (extensions, NTZ inference)
    import scala.jdk.CollectionConverters._
    val builders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p)
        .contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSet
    assert(builders == Set("GraftSession.scala"))
  }
}
