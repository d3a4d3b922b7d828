package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Semantics pins for the governance ops (the oracle gate covers
  * driver testdata; these pin the invariants on inputs we control).
  */
class GovernSpec extends AnyFunSuite with SparkSpec {

  /** Crafted documents table with explicit sources. */
  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("gov_docs").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("kmv_min_k dedups in-sketch and returns ascending distinct minima") {
    import spark.implicits._
    val got = Seq(5L, 5L, 5L, 1L, 9L, 1L, 7L).toDF("h")
      .agg(call_function("kmv_min_k", col("h"), lit(3)))
      .head().getSeq[Long](0)
    assert(got == Seq(1L, 5L, 7L)) // dup 5s occupy ONE slot; 9 evicted
    val small = Seq(4L, 4L).toDF("h")
      .agg(call_function("kmv_min_k", col("h"), lit(3)))
      .head().getSeq[Long](0)
    assert(small == Seq(4L)) // below k the sketch IS the distinct set
  }

  test("theta sketch is exact below k; identical halves give jaccard 1") {
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six seven",
      "red green blue yellow purple orange")
    val dir = docsDir(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "src0") } ++
      texts.zipWithIndex.map { case (t, i) => (100L + i, t, "src1") })
    val sk = Govern.queries("q_theta_sketch")(spark, dir).collect()
    assert(sk.length == 2)
    sk.foreach { r => // n_distinct << k=256: estimate equals truth, err 0
      assert(r.getAs[Double]("est_distinct") ==
        r.getAs[Long]("exact_distinct").toDouble)
      assert(r.getAs[Double]("err_pct") == 0.0)
    }
    val so = Govern.queries("q_theta_setops")(spark, dir).head()
    // identical shingle sets in both halves: every sketch-space
    // estimate collapses to the exact value (theta = full range)
    assert(so.getAs[Double]("est_jaccard") == 1.0)
    assert(so.getAs[Double]("est_inter") ==
      so.getAs[Long]("exact_inter").toDouble)
    assert(so.getAs[Double]("est_union") ==
      so.getAs[Long]("exact_union").toDouble)
    assert(so.getAs[Long]("exact_inter") == so.getAs[Long]("exact_union"))
  }

  test("theta matrix: identical halves give jaccard exactly 1; testdata err bounded") {
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six seven")
    val dir = docsDir(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "src0") } ++
      texts.zipWithIndex.map { case (t, i) => (100L + i, t, "src1") })
    val m = Govern.queries("q_theta_matrix")(spark, dir).collect()
    assert(m.length == 1) // one pair
    assert(m.head.getAs[Double]("est_jaccard") == 1.0)
    assert(m.head.getAs[Double]("exact_jaccard") == 1.0)
    assert(m.head.getAs[Double]("err_abs") == 0.0)
    val td = Govern.queries("q_theta_matrix")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(td.length == 190) // 20 choose 2
    // bottom-k Jaccard at k=256: generous 4-sigma-ish absolute bound
    td.foreach(r => assert(r.getAs[Double]("err_abs") < 0.12,
      s"${r.getAs[String]("src_a")}/${r.getAs[String]("src_b")}: " +
        r.getAs[Double]("err_abs").toString))
  }

  test("theta sketch error stays inside the k=256 envelope on testdata") {
    val rows = Govern.queries("q_theta_sketch")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 20)
    // sigma ~ 1/sqrt(k-2) = 6.3%; 4 sigma headroom per source
    rows.foreach(r => assert(r.getAs[Double]("err_pct") < 25.0,
      s"${r.getAs[String]("source")}: ${r.getAs[Double]("err_pct")}%"))
  }

  test("theta delta: re-shipped content adds nothing; novel content is counted exactly below k") {
    // v1 = doc_id % 4 != 0, release = % 4 == 0 (the releaseStage
    // split). Doc 4 re-ships doc 1's text → zero new shingles; doc 8
    // is novel → its distinct shingles are the exact_new, and below
    // k = 256 the sketch estimate equals the truth.
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tB = "one two three four five six seven eight"
    val tC = "red green blue yellow purple orange pink white"
    val dir = docsDir(Seq(
      (1L, tA, "src0"), (2L, tB, "src0"), (4L, tA, "src0"),
      (9L, tA, "src1"), (10L, tB, "src1"), (8L, tC, "src1"),
      (12L, tC, "src2"))) // src2 exists ONLY in the release half
    val rows = Govern.queries("q_theta_delta")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val s2 = rows("src2") // a brand-new source must SURFACE, not drop
    assert(s2.getAs[Long]("exact_v1") == 0L)
    assert(s2.getAs[Double]("est_v1") == 0.0)
    assert(s2.getAs[Long]("exact_new") > 0L)
    assert(s2.getAs[Double]("est_new") == s2.getAs[Double]("est_full"))
    val s0 = rows("src0") // release re-ships known text
    assert(s0.getAs[Long]("exact_new") == 0L)
    assert(s0.getAs[Double]("est_new") == 0.0)
    assert(s0.getAs[Double]("est_v1") == s0.getAs[Long]("exact_v1").toDouble)
    val s1 = rows("src1") // release adds novel text
    assert(s1.getAs[Long]("exact_new") > 0L)
    // below k the merged sketch is exact too: est_new == exact_new
    assert(s1.getAs[Double]("est_new") == s1.getAs[Long]("exact_new").toDouble)
    assert(s1.getAs[Double]("est_full") ==
      s1.getAs[Long]("exact_v1").toDouble + s1.getAs[Long]("exact_new"))
  }

  test("priority sample: corpus smaller than M+1 means tau=0 and HT=identity") {
    val dir = docsDir((0L until 10L).map(i =>
      (i, s"document number $i with body text", "src0")))
    val sample = Govern.queries("q_priority_sample")(spark, dir).collect()
    assert(sample.length == 10) // everything kept
    sample.foreach(r => // tau = 0: the HT weight is the true weight
      assert(r.getAs[Long]("ht_w_micro") == r.getAs[Long]("w") * 1000000L))
    val est = Govern.queries("q_priority_estimate")(spark, dir).head()
    assert(est.getAs[Long]("tau_w_micro") == 0L)
    assert(est.getAs[Long]("est_total_micro") ==
      est.getAs[Long]("exact_total") * 1000000L)
    assert(est.getAs[Long]("err_ppm") == 0L)
  }

  test("priority sample keeps exactly M rows with the M largest priorities") {
    val dir = "/root/testdata/sf0.001"
    val sample = Govern.queries("q_priority_sample")(spark, dir).collect()
    assert(sample.length == Govern.PriorityM)
    val minKept = sample.map(_.getAs[Long]("p")).min
    val est = Govern.queries("q_priority_estimate")(spark, dir).head()
    val tau = est.getAs[Long]("tau_w_micro")
    assert(tau <= minKept, s"tau $tau must be <= smallest kept priority $minKept")
    // every HT weight >= its true weight (max(w·10⁶, tau) dominates)
    sample.foreach(r =>
      assert(r.getAs[Long]("ht_w_micro") >= r.getAs[Long]("w") * 1000000L))
  }

  test("geometric mechanism: exact dyadic masses, monotone inverse-CDF, clamping") {
    import spark.implicits._
    assert(Govern.DpScale == 3L * (1L << Govern.DpB))
    // inverse-CDF boundaries: first arm, last arm, and the centre arm
    // (z=0 spans [sum(masses<0), +2^DpB))
    val below = (1L << Govern.DpB) - 2 // cumulative mass of z in [-19,-1]
    val lowCum = 2L + below            // plus the z=-20 fold
    val zeroHi = lowCum + (1L << Govern.DpB)
    val probes = Seq(
      0L -> -Govern.DpB, 1L -> -Govern.DpB, 2L -> -(Govern.DpB - 1),
      lowCum -> 0, (zeroHi - 1) -> 0, zeroHi -> 1,
      (Govern.DpScale - 3) -> (Govern.DpB - 1),
      (Govern.DpScale - 2) -> Govern.DpB, (Govern.DpScale - 1) -> Govern.DpB)
    val got = probes.map(_._1).toDF("v")
      .withColumn("z", expr(Govern.dpNoiseCase("v")))
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("z")).toMap
    probes.foreach { case (v, z) =>
      assert(got(v) == z.toLong, s"v=$v expected z=$z got ${got(v)}")
    }
    // released counts never go negative even when noise < -true
    val dir = docsDir(Seq((0L, "one single tiny document here", "src0")))
    val rel = Govern.queries("q_dp_release")(spark, dir).collect()
    rel.foreach { r =>
      assert(r.getAs[Long]("dp_count") >= 0L)
      assert(r.getAs[Long]("dp_count") ==
        math.max(r.getAs[Long]("true_count") + r.getAs[Long]("noise"), 0L))
    }
  }
}
