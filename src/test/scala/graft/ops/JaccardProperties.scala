package graft.ops

import java.nio.file.Files
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Both exact-Jaccard candidate generators (plain inverted join and
  * the PPJoin prefix filter) vs an independent local reference model
  * on ARBITRARY corpora — exact copies, partial overlaps, sub-shingle
  * docs. The local model recomputes 3-gram shingle sets and the
  * i/(sz1+sz2−i) similarity with plain Scala collections, so a drift
  * in tokenization, shingling, candidate pruning, or the verify tail
  * fails the property for whichever path drifted. Together with the
  * df-dispatch test in OpsSpec this proves the round-3 claim that the
  * two strategies are output-identical.
  */
object JaccardProperties extends Properties("ops.jaccard") with SparkSpec {
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5) // each sample runs Spark jobs

  private val T = 0.6
  private val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl")

  private val genDoc: Gen[String] = for {
    n <- Gen.chooseNum(1, 20)
    toks <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield toks.mkString(" ")

  // forced exact copies + single-token edits so pairs exist at J ≥ 0.6
  private val genCorpus: Gen[Seq[String]] = for {
    base <- Gen.nonEmptyListOf(genDoc).map(_.take(5))
    copies <- Gen.someOf(base)
    edits <- Gen.someOf(base).map(_.map(d => d + " xx"))
  } yield base ++ copies ++ edits

  private def shingleSet(text: String): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filterNot(_.isEmpty)
    if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
    else Set.empty
  }

  /** Reference model: pairs sharing ≥ 1 shingle with J ≥ t; the
    * similarity uses the identical double formula as the operators.
    */
  private def localPairs(docs: Seq[String], t: Double): Set[(Long, Long, Double)] = {
    val sets = docs.map(shingleSet)
    (for {
      i <- docs.indices; j <- docs.indices if i < j
      inter = (sets(i) & sets(j)).size if inter >= 1
      jac = inter.toDouble / (sets(i).size + sets(j).size - inter)
      if jac >= t
    } yield (i.toLong, j.toLong, jac)).toSet
  }

  private def write(docs: Seq[String]): String = {
    val dir = Files.createTempDirectory("jacprop").toString
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  property("inverted-index jaccardPairs == local reference model") =
    forAll(genCorpus) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.jaccardPairs(df, T).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      got == localPairs(docs, T)
    }

  property("prefix-filtered path (q_jaccard_prefix) == local reference model") =
    forAll(genCorpus) { docs =>
      val dir = write(docs)
      val got = Dedup.queries("q_jaccard_prefix")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      got == localPairs(docs, T)
    }
}
