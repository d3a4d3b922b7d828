package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class MisraGriesSpec extends AnyFunSuite with SparkSpec {

  // Zipf-ish skew: item "w1" appears 1× per i, "w2" every 2nd i, ... so
  // low-index items are heavy and the tail is long.
  private def fixture = {
    import spark.implicits._
    (1L to 3000L).flatMap(i => (1 to 30).filter(w => i % w == 0).map(w => s"w$w"))
      .toDF("item")
  }

  private def sketchItems(parts: Int, k: Int): Set[String] =
    fixture.repartition(parts)
      .agg(expr(s"mg_topk(item, $k)").as("s"))
      .select(explode(col("s.item")).as("item"))
      .collect().map(_.getString(0)).toSet

  test("guarantee: every item with freq > n/k is in the sketch, at any partitioning") {
    val counts = fixture.groupBy("item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    val k = 8
    val mustHave = counts.filter { case (_, c) => c * k > n }.keySet
    assert(mustHave.nonEmpty) // fixture really is skewed
    for (parts <- Seq(1, 5, 32)) {
      val got = sketchItems(parts, k)
      assert(mustHave.subsetOf(got), s"parts=$parts missing ${mustHave -- got}")
      assert(got.size <= k)
    }
  }

  test("estimates undercount by at most n/k") {
    import spark.implicits._
    val exact = fixture.groupBy("item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val k = 8
    val ests = fixture.repartition(13)
      .agg(expr(s"mg_topk(item, $k)").as("s"))
      .select(explode(col("s")).as("t"))
      .select(col("t.item"), col("t.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    ests.foreach { case (item, est) =>
      assert(est <= exact(item), s"$item overestimated")
      assert(exact(item) - est <= n / k, s"$item undercounted past n/k")
    }
  }

  test("k larger than the domain degenerates to exact counts") {
    val exact = fixture.groupBy("item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ests = fixture.repartition(7)
      .agg(expr("mg_topk(item, 64)").as("s"))
      .select(explode(col("s")).as("t"))
      .select(col("t.item"), col("t.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ests == exact)
  }
}
