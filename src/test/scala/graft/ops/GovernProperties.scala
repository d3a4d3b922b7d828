package graft.ops

import java.nio.file.Files
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The new round-10 primitives vs independent local reference models
  * on ARBITRARY inputs:
  *
  *  - [[graft.functions.KmvMinK]] vs `distinct.sorted.take(k)` under
  *    heavy duplication and arbitrary partitioning — the sketch law
  *    (k smallest DISTINCT values, partition-order free) that the
  *    theta estimates and the streaming twin's merge both stand on.
  *  - q_contam_span / q_decontam_span vs a brute-force O(n·m) longest
  *    common substring scan over random SMALL-ALPHABET corpora (dense
  *    repeats stress the rank groups and both chain directions far
  *    harder than real text; random doc sizes hit the partition-
  *    boundary stitching of trainChainScan at every offset).
  */
object GovernProperties extends Properties("ops.govern") with SparkSpec {
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5) // each sample runs Spark jobs

  property("kmv_min_k == distinct.sorted.take(k) under dups + any partitioning") =
    forAll(
      Gen.listOf(Gen.chooseNum(0L, 30L)),       // tight range -> many dups
      Gen.chooseNum(1, 8),                       // k
      Gen.chooseNum(1, 5)) { (xs, k, parts) =>
      val want = xs.distinct.sorted.take(k)
      val got =
        if (xs.isEmpty) Seq.empty[Long]
        else xs.toDF("h").repartition(parts)
          .agg(call_function("kmv_min_k", col("h"), lit(k)))
          .head().getSeq[Long](0)
      got == want
    }

  // small alphabet + short docs: near-every suffix collides somewhere,
  // so rank groups are fat and the chains cross many groups
  private val genDoc: Gen[String] = for {
    n <- Gen.chooseNum(1, 14)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
  } yield toks.mkString(" ")

  // sometimes append an exact-duplicate pair of a ≥13-token doc at
  // adjacent slots (one lands eval, one train) so the ≥ContamSpanMin
  // drop path is exercised, not just the natural small-alphabet reuse
  private val genCorpus: Gen[Seq[String]] = for {
    n <- Gen.chooseNum(2, 6)
    docs <- Gen.listOfN(n, genDoc)
    long <- Gen.listOfN(16, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))
    dup <- Gen.oneOf(true, false)
  } yield if (dup) docs ++ Seq(long, long) else docs

  /** Longest span starting anywhere in `a` that occurs verbatim in any
    * doc of `others` — the dumb reference model.
    */
  private def bruteMax(a: Array[String], others: Seq[Array[String]]): Long = {
    var best = 0
    for (b <- others; i <- a.indices; j <- b.indices) {
      var l = 0
      while (i + l < a.length && j + l < b.length && a(i + l) == b(j + l)) l += 1
      if (l > best) best = l
    }
    best.toLong
  }

  property("contam/decontam span == brute force on random dense-repeat corpora") =
    forAll(genCorpus) { docs =>
      // doc_ids: even slots are eval (id*50), odd slots train (id*50+1)
      val rows = docs.zipWithIndex.map { case (t, i) =>
        (if (i % 2 == 0) i.toLong * 50L else i.toLong * 50L + 1L, t)
      }
      val dir = Files.createTempDirectory("gov_prop").toString
      rows.toDF("doc_id", "text")
        .withColumn("source", concat(lit("s"), (col("doc_id") % 3).cast("string")))
        .write.parquet(s"$dir/documents.parquet")
      val toks = rows.map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      }
      val train = toks.filter(_._1 % 50 != 0)
      val eval = toks.filter(_._1 % 50 == 0)

      val gotEval = SpanExact.queries("q_contam_span")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val evalOk = eval.forall { case (id, a) =>
        gotEval.getOrElse(id, -1L) == bruteMax(a, train.map(_._2))
      }

      val gotDrop = SpanExact.queries("q_decontam_span")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      val wantDrop = train
        .filter { case (_, a) =>
          bruteMax(a, eval.map(_._2)) >= SpanExact.ContamSpanMin }
        .groupBy { case (id, _) => s"s${id % 3}" }
        .view.mapValues(_.size.toLong).toMap
      val dropOk = gotDrop.forall { case (src, n) =>
        wantDrop.getOrElse(src, 0L) == n
      }
      evalOk && dropOk
    }
}
