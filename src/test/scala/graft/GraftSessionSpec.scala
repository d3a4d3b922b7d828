package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one-call session entry point must deliver the full extension
  * surface with no manual registration.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  /** `body` run against a fresh `GraftSession.create` session; the
    * shared suite session is restored afterwards.
    */
  private def inFreshSession[A](body: SparkSession => A): A = {
    val prev = spark // keep the shared suite session to restore
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(GraftSession.create("local[2]", "graft-session-spec", 2))
    finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("GraftSession.create wires native SQL functions and the as-of strategy") {
    inFreshSession { s =>
      // scale defaults the operators' plan shapes assume — including
      // the round-3 lesson: parquet timestamps read as TIMESTAMP, not
      // TIMESTAMP_NTZ (watermarks and unix_micros require it)
      assert(s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      // TIMESTAMP(NANOS) parquet reads as long (Tables truncates it)
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      // JVM case mapping: no ICU title-case table built per JVM
      assert(s.conf.get("spark.sql.icu.caseMappings.enabled") == "false")
      // native expressions resolve in SQL with no manual registration
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
      // a table read changes no session state: no conf, and the top-1
      // rule stays in the one optimizer batch the extensions put it in
      val conf = s.conf.getAll
      Tables(s, "/root/testdata/sf0.001", "events")
      Tables(s, "/root/testdata/sf0.001", "region")
      assert(s.conf.getAll == conf)
      assert(!s.experimental.extraOptimizations
        .contains(graft.plans.RewriteTop1PerGroup))
    }
  }

  test("a fresh session resolves every native function in SQL before any table read") {
    // one call per Registry entry, each with the arguments it takes
    val calls = Map(
      "cosine_sim" -> "SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D))",
      "h60" -> "SELECT h60('abc')",
      "bottom_k_ids" -> "SELECT bottom_k_ids(h, id, 2) FROM VALUES (3L, 1L), (1L, 2L) AS t(h, id)",
      "top_k_by_score" ->
        "SELECT top_k_by_score(sc, id, 2) FROM VALUES (0.5D, 1L), (0.9D, 2L) AS t(sc, id)",
      "kmv_min_k" -> "SELECT kmv_min_k(h, 2) FROM VALUES (5L), (1L), (5L) AS t(h)",
      "mg_topk" -> "SELECT mg_topk(x, 2) FROM VALUES ('a'), ('b'), ('a') AS t(x)",
      "array_lcp_from" ->
        "SELECT array_lcp_from(array('a', 'b', 'c'), 0L, array('a', 'b', 'd'), 0L)")
    val natives = graft.functions.Registry.builders
    assert(calls.keySet == natives.map(_._1).toSet)
    inFreshSession { s =>
      for ((name, cls, _) <- natives) {
        assert(s.sql(calls(name)).collect().length == 1, name)
        assert(s.catalog.getFunction(name).className == cls.getName, name)
      }
    }
  }

  test("every main starts its session through GraftSession.create") {
    // and so does every test: one session setup for the whole of src,
    // since a hand-built session drifts from the config of record
    // (extensions, NTZ inference); the needle is split so this file
    // does not match itself
    val needle = "SparkSession" + ".builder"
    val builders = GraftSessionSpec.sources("src")
      .filter { case (_, code) => code.contains(needle) }
      .map(_._1.getFileName.toString).toSet
    assert(builders == Set("GraftSession.scala"))
  }

  test("native functions and rules enter a session only through GraftExtensions") {
    val main = GraftSessionSpec.sources("src/main")
    val fallbacks = Seq("Registry.ensure", "CosineSim.register",
      "createOrReplaceTempFunction", "extraOptimizations", "extraStrategies")
    val hits = for ((p, code) <- main; f <- fallbacks if code.contains(f))
      yield s"${p.getFileName}: $f"
    assert(hits.isEmpty, s"session wiring outside GraftExtensions: $hits")
    // read paths set no session conf
    val readPaths = main.filter { case (p, _) =>
      p.endsWith("graft/Tables.scala") || p.endsWith("graft/util/Parquet.scala") }
    assert(readPaths.size == 2, readPaths.map(_._1))
    val confSets = readPaths.collect {
      case (p, code) if code.contains("conf.set(") => p.getFileName.toString }
    assert(confSets.isEmpty, s"read paths that set a session conf: $confSets")
  }
}

object GraftSessionSpec {

  /** Every Scala file under `root` with its code, comments stripped. */
  def sources(root: String): Seq[(java.nio.file.Path, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map { p =>
        p -> java.nio.file.Files.readAllLines(p).asScala.map { l =>
          val t = l.trim
          if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) ""
          else l.replaceAll("""\s//\s.*$""", "")
        }.mkString("\n")
      }.toSeq
  }
}
