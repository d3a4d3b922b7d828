package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class TopKByScoreSpec extends AnyFunSuite with SparkSpec {

  private def fixture = {
    import spark.implicits._
    // scores with deliberate ties (i % 7) so the id tiebreak is exercised
    (1L to 200L).map(i => (s"g${i % 5}", i, (i % 7).toDouble))
      .toDF("grp", "id", "score")
  }

  private def viaAggregate(parts: Int) =
    fixture.repartition(parts)
      .groupBy("grp").agg(expr("top_k_by_score(score, id, 4)").as("top"))
      .select(col("grp"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("grp"), col("pos"), col("t.doc_id").as("id"), col("t.score").as("score"))
      .orderBy("grp", "pos").collect().toSeq

  test("matches the window row_number idiom") {
    val win = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
    val expected = fixture
      .withColumn("rn", row_number().over(win)).where(col("rn") <= 4)
      .select(col("grp"), (col("rn") - 1).as("pos"), col("id"),
        col("score")).orderBy("grp", "pos").collect().toSeq
    assert(viaAggregate(4) == expected)
  }

  test("result is independent of partitioning (merge correctness)") {
    val one = viaAggregate(1)
    assert(viaAggregate(7) == one)
    assert(viaAggregate(32) == one)
  }

  test("groups smaller than k return the whole group, best-first") {
    import spark.implicits._
    val tiny = Seq(("a", 1L, 0.5), ("a", 2L, 0.9)).toDF("grp", "id", "score")
    val out = tiny.groupBy("grp")
      .agg(expr("top_k_by_score(score, id, 10)").as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.doc_id"), col("t.score")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((2L, 0.9), (1L, 0.5)))
  }
}
