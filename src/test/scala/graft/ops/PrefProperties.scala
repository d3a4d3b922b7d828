package graft.ops

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The preference-family arithmetic vs exact local reference models on
  * ARBITRARY game logs:
  *
  *  - [[Pref.btFromGames]] vs a literal integer replay of the two
  *    Bradley–Terry MM iterations (the ppm/micro-unit formulas
  *    recomputed in plain Scala longs) — the engine aggregate must
  *    equal the sequential fold on any log shape.
  *  - scale invariance: duplicating every game k× leaves win_ppm and
  *    s1_ppm unchanged EXACTLY (floor(k·a/(k·b)) = floor(a/b)), and
  *    bt_ppm within the opponent-term truncation band (each of the
  *    ≤3 t_ij floors loses < 1 micro-unit, so the k-fold T drifts by
  *    < m·(k−1) and the rating by a few ppm) — ratings depend on
  *    proportions, never on corpus size, which is what makes them
  *    comparable across releases.
  */
object PrefProperties extends Properties("ops.pref") with SparkSpec {
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5) // each sample runs Spark jobs

  private val players = Vector("A", "B", "C", "D")
  private val genGames: Gen[List[(String, String)]] =
    Gen.nonEmptyListOf(for {
      i <- Gen.chooseNum(0, players.length - 1)
      j <- Gen.chooseNum(0, players.length - 2) // index into the others
    } yield (players(i), players.patch(i, Nil, 1)(j)))

  /** Plain-Scala replay of the integer MM iterations. */
  private def btLocal(games: Seq[(String, String)])
      : Map[String, (Long, Long, Long, Long)] = {
    val dir = games.flatMap { case (w, l) =>
      Seq((w, l, 1L), (l, w, 0L)) }
    val m = dir.groupBy(g => (g._1, g._2))
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._3).sum) }
    val per = m.groupBy(_._1._1).map { case (src, es) =>
      src -> (es.values.map(_._1).sum, es.values.map(_._2).sum) }
    val s1 = per.map { case (src, (n, wi)) =>
      src -> 2L * wi * 1000000L / math.max(n, 1L) }
    val t = m.groupBy(_._1._1).map { case (src, es) =>
      src -> es.map { case ((_, opp), (n, _)) =>
        n * 1000000000000L / math.max(s1(src) + s1(opp), 1L) }.sum }
    per.map { case (src, (n, wi)) =>
      src -> (n, wi, s1(src),
        wi * 1000000000000L / math.max(t(src), 1L)) }
  }

  property("btFromGames == the literal integer MM replay on any game log") =
    forAll(genGames) { games =>
      val got = Pref.btFromGames(games.toDF("w", "l")).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_games"), r.getAs[Long]("n_wins"),
            r.getAs[Long]("s1_ppm"), r.getAs[Long]("bt_ppm")))).toMap
      got == btLocal(games)
    }

  // random tiny corpora: empty texts (0-token docs admit without
  // consuming budget), skewed sources, single-source truncation
  private val genDocs: Gen[List[(Long, String, String)]] =
    Gen.nonEmptyListOf(for {
      n <- Gen.chooseNum(0, 6)
      src <- Gen.oneOf("s1", "s2", "s3")
    } yield (n, src)).map(_.zipWithIndex.map { case ((n, src), i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "), src) })

  private def h60Local(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  property("q_budget_fill == the literal hash-order replay on any corpus") =
    forAll(genDocs) { docs =>
      val dir = java.nio.file.Files.createTempDirectory("bfill").toString
      docs.toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def run() = Prep.queries("q_budget_fill")(spark, dir).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Int]("pos"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tok"))).toSeq
      val got = run()
      val toks = docs.map { case (id, t, s) =>
        (id, s, t.split("\\s+").count(_.nonEmpty)) }
      val budget = toks.map(_._3.toLong).sum /
        (2L * toks.map(_._2).distinct.length)
      val expect = toks.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
        val ordered = ds.sortBy(d => (h60Local("fill:" + d._1), d._1))
        val cums = ordered.scanLeft(0L)(_ + _._3).tail
        ordered.zip(cums).zipWithIndex.collect {
          case (((id, _, _), cum), i) if cum <= budget =>
            (src, i + 1, id, cum)
        }
      }.sortBy(e => (e._1, e._2))
      got == expect
    }

  property("k-fold game log: win/s1 exactly invariant, bt within truncation band") =
    forAll(genGames, Gen.chooseNum(2, 4)) { (games, k) =>
      def ratings(g: Seq[(String, String)]) =
        Pref.btFromGames(g.toDF("w", "l")).collect()
          .map(r => r.getAs[String]("source") ->
            ((r.getAs[Long]("win_ppm"), r.getAs[Long]("s1_ppm"),
              r.getAs[Long]("bt_ppm")))).toMap
      val one = ratings(games)
      val kf = ratings(Seq.fill(k)(games).flatten)
      one.keySet == kf.keySet && one.forall { case (src, (w1, s1, b1)) =>
        val (wk, sk, bk) = kf(src)
        w1 == wk && s1 == sk && math.abs(b1 - bk) <= 8L
      }
    }
}
