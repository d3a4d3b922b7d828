package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** Schema canary over every testdata table — the generalized round-3
  * lesson: the driver regenerates the parquet between rounds, and a
  * silent type drift (nanos → NTZ micros) cost eight operators a
  * round. This spec fails LOUDLY at round start instead. Names and
  * column order are exact; types are asserted by FAMILY (integral /
  * fractional / string / timestamp / float-array) so a harmless width
  * change (int32 ↔ int64) doesn't false-alarm while a semantic drift
  * (timestamp → long, string → binary) still trips.
  */
class TablesSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private sealed trait Kind
  private case object I extends Kind // integral
  private case object F extends Kind // fractional
  private case object S extends Kind // string
  private case object T extends Kind // timestamp (post-normalization)
  private case object VF extends Kind // array of float/double

  private def kindOf(dt: DataType): Option[Kind] = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => Some(I)
    case _: FloatType | _: DoubleType | _: DecimalType => Some(F)
    case _: StringType => Some(S)
    case _: TimestampType => Some(T)
    case ArrayType(_: FloatType | _: DoubleType, _) => Some(VF)
    case _ => None
  }

  private val expected: Map[String, Seq[(String, Kind)]] = Map(
    "region" -> Seq("r_regionkey" -> I, "r_name" -> S),
    "nation" -> Seq("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
    "customer" -> Seq("c_custkey" -> I, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> F, "c_mktsegment" -> S),
    "supplier" -> Seq("s_suppkey" -> I, "s_name" -> S, "s_nationkey" -> I,
      "s_acctbal" -> F),
    "part" -> Seq("p_partkey" -> I, "p_name" -> S, "p_brand" -> S,
      "p_type" -> S, "p_size" -> I, "p_retailprice" -> F),
    "orders" -> Seq("o_orderkey" -> I, "o_custkey" -> I, "o_orderstatus" -> S,
      "o_totalprice" -> F, "o_orderdate" -> T, "o_orderpriority" -> S),
    "lineitem" -> Seq("l_orderkey" -> I, "l_partkey" -> I, "l_suppkey" -> I,
      "l_linenumber" -> I, "l_quantity" -> F, "l_extendedprice" -> F,
      "l_discount" -> F, "l_tax" -> F, "l_returnflag" -> S,
      "l_linestatus" -> S, "l_shipdate" -> T),
    "events" -> Seq("event_id" -> I, "ts" -> T, "user_id" -> I,
      "event_type" -> S, "value" -> F, "props" -> S),
    "documents" -> Seq("doc_id" -> I, "text" -> S, "lang" -> S,
      "source" -> S, "n_chars" -> I),
    "embeddings" -> Seq("vec_id" -> I, "embedding" -> VF, "label" -> I))

  for (t <- Tables.all) {
    test(s"testdata schema canary: $t") {
      val got = Tables(spark, dir, t).schema.fields.toSeq
        .map(f => f.name -> kindOf(f.dataType))
      val want = expected(t)
      assert(got.map(_._1) == want.map(_._1),
        s"$t column names/order drifted: ${got.map(_._1)}")
      got.zip(want).foreach { case ((n, gk), (_, wk)) =>
        assert(gk.contains(wk),
          s"$t.$n type family drifted: got $gk, want $wk — if the new " +
            "type is legitimate, extend the Tables normalization AND " +
            "this canary together")
      }
    }
  }

  // Tables pins the schema its footer names; it must be exactly the
  // one a schema-less read infers, under either NTZ inference setting
  // (events with nanosAsLong on, as every GraftSession reads it)
  for (sf <- Seq("sf0.001", "sf0.01"); t <- Tables.all) {
    test(s"pinned schema equals the inferred schema: $sf $t") {
      val path = java.nio.file.Paths.get(dir).resolveSibling(sf).resolve(s"$t.parquet").toString
      val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
      try for (on <- Seq("false", "true")) {
        spark.conf.set(ntz, on)
        assert(graft.util.Parquet.read(spark, path).schema ==
          spark.read.parquet(path).schema, s"$t with $ntz=$on")
      } finally spark.conf.set(ntz, "false")
    }
  }

  test("building every table's frame runs no Spark job") {
    for (t <- Tables.all) {
      val (_, jobs) = jobsDuring(Tables(spark, dir, t))
      assert(jobs == 0, s"Tables(spark, dir, \"$t\") ran $jobs job(s)")
    }
  }

  test("every parquet read in src/main pins a schema or goes through util.Parquet") {
    // a read chain from `.read` to `.parquet(` with no `.schema(` in it
    // runs a footer-inference job; only the helper may hold one
    import scala.jdk.CollectionConverters._
    val schemaless = """\.read(?:\s*\.(?!schema\()\w+\([^()]*\))*\s*\.parquet\(""".r
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val code = java.nio.file.Files.readAllLines(p).asScala
          .map(l => if (l.trim.startsWith("//") || l.trim.startsWith("*")) "" else l)
          .mkString("\n")
        schemaless.findAllMatchIn(code).map(m => s"${p.getFileName}: ${m.matched}")
      }.toSeq
    assert(hits.nonEmpty && hits.forall(_.startsWith("Parquet.scala:")),
      s"schema-less parquet reads outside graft.util.Parquet: $hits")
  }

  test("native functions register once per session") {
    val reg = spark.sessionState.functionRegistry
    def registered() = graft.functions.Registry.builders.map { case (n, _, _) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(n)
      (n, reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
    }
    Tables(spark, dir, "region")
    val first = registered()
    Tables(spark, dir, "region")
    assert(registered().zip(first).forall { case ((_, i, b), (_, i0, b0)) =>
      (i eq i0) && (b eq b0) }, "a second Tables(...) call re-registered a function")
  }
}
