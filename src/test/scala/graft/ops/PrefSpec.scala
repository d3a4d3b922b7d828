package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Semantics pins for the preference-pair family and the token-budget
  * assembly (the oracle gate covers driver testdata; these pin the
  * invariants and the Bradley–Terry arithmetic on inputs we control).
  */
class PrefSpec extends AnyFunSuite with SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  /** Scala mirror of TextFns.h60 for independent recounts. */
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  test("q_pref_pairs: disjoint pairs, judge decides by (ppm, doc_id)") {
    val rows = Pref.queries("q_pref_pairs")(spark, Dir).collect()
    assert(rows.nonEmpty)
    val docs = rows.flatMap(r => Seq(r.getAs[Long]("chosen_doc"),
      r.getAs[Long]("rejected_doc")))
    assert(docs.distinct.length == docs.length) // each doc in ≤1 pair
    rows.foreach { r =>
      val (cp, rp) = (r.getAs[Long]("chosen_ppm"), r.getAs[Long]("rejected_ppm"))
      assert(cp >= rp)
      assert(r.getAs[Long]("margin_ppm") == cp - rp)
      if (cp == rp) // tie → lower doc_id is chosen
        assert(r.getAs[Long]("chosen_doc") < r.getAs[Long]("rejected_doc"))
    }
    // pairing is maximal per bucket: pairs == Σ floor(bucket_size / 2)
    val ids = graft.Tables(spark, Dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val b = Pref.pairBuckets(ids.length.toLong)
    assert(b == Pref.PairBuckets) // gated SFs sit on the floor
    val n = ids.map(id => h60("pair:" + id) % b)
      .groupBy(identity).map(_._2.size / 2).sum
    assert(rows.length == n)
  }

  test("pairBuckets grows with the corpus, floor preserved at gated SFs") {
    assert(Pref.pairBuckets(500L) == 64L)     // sf0.001/sf0.01
    assert(Pref.pairBuckets(5000L) == 64L)    // sf0.1
    assert(Pref.pairBuckets(50000L) == 64L)   // sf1 (50000/1024 = 48 < 64)
    assert(Pref.pairBuckets(65536L) == 64L)   // the boundary
    assert(Pref.pairBuckets(1 << 20) == 1024L)
    assert(Pref.pairBuckets(1L << 30) == (1L << 20)) // ~1024 rows/bucket
  }

  test("btFromGames pins the integer-ppm Bradley-Terry MM iterations") {
    import spark.implicits._
    // A beats B x3, B beats A x1, A beats C x2, C beats B x2
    val games = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A")) ++
      Seq.fill(2)(("A", "C")) ++ Seq.fill(2)(("C", "B"))).toDF("w", "l")
    val got = Pref.btFromGames(games).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_games"), r.getAs[Long]("n_wins"),
          r.getAs[Long]("s1_ppm"), r.getAs[Long]("bt_ppm"))).toMap
    // hand-computed: s1 = 2·W·10⁶ div N; T = Σ n_ij·10¹² div (s1_i+s1_j);
    // bt = W·10¹² div T
    val s1 = Map("A" -> 1666666L, "B" -> 333333L, "C" -> 1000000L)
    assert(got("A") == ((6L, 5L, s1("A"),
      5000000000000L / (4000000000000L / 1999999L + 2000000000000L / 2666666L))))
    assert(got("B")._3 == s1("B"))
    assert(got("C")._3 == s1("C"))
    val bt = got.map { case (k, v) => k -> v._4 }
    assert(bt("A") > bt("C") && bt("C") > bt("B")) // order follows strength
  }

  test("q_arena_bt wins/games are consistent with the pair table") {
    val pairs = Pref.queries("q_pref_pairs")(spark, Dir)
      .where(col("chosen_src") =!= col("rejected_src")).collect()
    val lb = Pref.queries("q_arena_bt")(spark, Dir).collect()
    assert(lb.map(_.getAs[Long]("n_wins")).sum == pairs.length)
    assert(lb.map(_.getAs[Long]("n_games")).sum == 2L * pairs.length)
    lb.foreach { r =>
      assert(r.getAs[Long]("win_ppm") ==
        r.getAs[Long]("n_wins") * 1000000L / r.getAs[Long]("n_games"))
    }
  }

  /** q_budget_fill's rows on the corpus at `dir`, its independent
    * hash-order replay, and the corpus's doc count.
    */
  private def budgetFill(dir: String) = {
    val got = Prep.queries("q_budget_fill")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("pos"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("n_tok"),
        r.getAs[Long]("cum_tok"), r.getAs[Long]("budget"))).toSeq
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("\\s+").count(_.nonEmpty)))
    val total = docs.map(_._3.toLong).sum
    val budget = total / (2L * docs.map(_._2).distinct.length)
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      val ordered = ds.sortBy(d => (h60("fill:" + d._1), d._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums).zipWithIndex.collect {
        case (((doc, _, nt), cum), i) if cum <= budget =>
          (src, i + 1, doc, nt, cum, budget)
      }
    }.sortBy(e => (e._1, e._2))
    (got, expect, docs.length)
  }

  test("q_budget_fill equals an independent hash-order replay") {
    val (got, expect, nDocs) = budgetFill(Dir)
    assert(got == expect)
    assert(expect.nonEmpty && expect.size < nDocs) // truncation bites
  }

  test("q_budget_fill equals the hash-order replay on a mega-source corpus") {
    import spark.implicits._
    // one source dominating (the wide window partition) with token
    // counts varied enough that cum_tok climbs unevenly to the budget
    val dir = java.nio.file.Files.createTempDirectory("bfmega").toString
    (0 until 400).map { i =>
      val src = if (i % 20 == 0) "minor" else "mega"
      (i.toLong, Seq.fill(1 + i % 7)("w").mkString(" "), src)
    }.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (got, expect, nDocs) = budgetFill(dir)
    assert(got == expect)
    assert(expect.nonEmpty && expect.size < nDocs)
  }
}
