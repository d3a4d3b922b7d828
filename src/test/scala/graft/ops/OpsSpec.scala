package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Behavior checks for the extension ops on crafted corpora (the
  * oracle gate covers driver testdata; these pin semantics on inputs
  * we control).
  */
class OpsSpec extends AnyFunSuite with SparkSpec {

  /** Write a crafted documents table and return its dir. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while the rain falls on the quiet town and the river runs south"

  test("minhash/jaccard/simhash find identical and near-identical pairs") {
    val dir = docsDir(Seq(
      0L -> base,
      1L -> base,                                    // exact dup
      2L -> (base + " tonight"),                     // near dup
      3L -> "completely unrelated text about spark engines and columnar execution at scale with vectorized readers"))

    val mh = Dedup.queries("q_dedup_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(mh.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 1.0))
    assert(mh.forall(p => p._2 != 3 && p._1 != 3)) // unrelated doc never a candidate

    val jac = Dedup.queries("q_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(jac.contains((0L, 1L, 1.0)))
    assert(jac.exists(p => p._1 == 0 && p._2 == 2 && p._3 > 0.8 && p._3 < 1.0))

    val sh = Dedup.queries("q_dedup_simhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(sh.contains((0L, 1L, 0))) // identical text -> identical signature
  }

  test("simhash stop-band: saturated band buckets stop generating candidates") {
    // below the cap the clique is found in full...
    val small = docsDir((0L until 30L).map(i => i -> base))
    val found = Dedup.queries("q_dedup_simhash")(spark, small).count()
    assert(found == 30L * 29 / 2, s"sub-cap clique must be complete: $found")
    // ...above it every band bucket saturates and the stop-band drops
    // the candidate product entirely — the documented damping
    // semantics (exact copies are q_dedup_exact's job; a c > cap
    // band bucket is population structure, and c² candidate pairs
    // from it are exactly what quadratices on a degenerate corpus)
    val big = docsDir((0L until (Dedup.SimhashBandCap + 10L)).map(i => i -> base))
    assert(Dedup.queries("q_dedup_simhash")(spark, big).count() == 0L,
      "saturated buckets must be damped, not expanded into c² pairs")
  }

  test("minhash stop-band: saturated band buckets stop generating candidates") {
    // identical docs: identical signatures, one (band, sig) bucket per
    // band. Below the cap the clique is found in full...
    val small = docsDir((0L until 30L).map(i => i -> base))
    val found = Dedup.queries("q_dedup_minhash")(spark, small).count()
    assert(found == 30L * 29 / 2, s"sub-cap clique must be complete: $found")
    // ...above it all 8 band buckets saturate together and the
    // stop-band drops the c² candidate product (same damping contract
    // as simhash/phash; exact copies are q_dedup_exact's job)
    val big = docsDir((0L until (Dedup.MinhashBandCap + 10L)).map(i => i -> base))
    assert(Dedup.queries("q_dedup_minhash")(spark, big).count() == 0L,
      "saturated buckets must be damped, not expanded into c² pairs")
  }

  test("connected components: local union-find and distributed loop agree") {
    import spark.implicits._
    // chain 1-2-3-4 (transitive merge), pair 10-11, isolates 20, 21
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc1", "doc2").withColumn("jaccard", lit(1.0))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L)
    for (threshold <- Seq(Dedup.LocalCcMaxPairs, 0L)) { // local, distributed
      val got = Dedup.connectedComponents(docs, pairs, threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"threshold=$threshold")
    }
  }

  test("large-star/small-star matches union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      // reference: sequential union-find with min roots
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = verts.map(v => v -> find(v)).toMap
      val got = Dedup.starComponents(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("q_kcore: core members have >= 2 distinct neighbors in the pair graph") {
    val dir = "/root/testdata/sf0.001"
    val core = graft.SparkEntry.queries("q_kcore")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(core.nonEmpty) // non-vacuous at this SF (7 docs survive)
    // peeling can only REMOVE vertices, so every survivor must have
    // had >= 2 distinct neighbors in the original near-dup graph —
    // i.e. the 2-core is a subset of the min-degree-2 vertex set
    val p = Dedup.sharedJaccardPairs(spark, dir, 0.6)
    val deg2 = p.select(col("doc1").as("a"), col("doc2").as("b"))
      .unionByName(p.select(col("doc2").as("a"), col("doc1").as("b")))
      .groupBy(col("a")).agg(countDistinct(col("b")).as("d"))
      .where(col("d") >= 2).collect().map(_.getLong(0)).toSet
    assert(core.subsetOf(deg2))
  }

  test("prefix-filtered jaccard: identical pairs, strictly fewer candidates") {
    val dir = "/root/testdata/sf0.001"
    val full = Dedup.queries("q_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pref = Dedup.queries("q_jaccard_prefix")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pref == full && full.nonEmpty)   // 100% recall, bit-equal scores
    // the point of the filter: candidate generation touches a strict
    // subset of the inverted index (rare shingles only)
    import graft.ops.TextFns._
    val sh = graft.Tables.fanout(graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("s"))
      .select(col("doc_id"), h60(col("s")).as("h")).distinct().cache()
    def candidates(index: org.apache.spark.sql.DataFrame): Long =
      index.select(col("h"), col("doc_id").as("d1"))
        .join(index.select(col("h"), col("doc_id").as("d2")), Seq("h"))
        .where(col("d1") < col("d2")).select("d1", "d2").distinct().count()
    val dfh = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = sh.join(dfh, Seq("h")).join(sizes, Seq("doc_id"))
      .withColumn("pos", row_number().over(w))
      .where(col("pos") <= floor(lit(0.4) * col("sz")).cast("int") + 1)
      .select(col("doc_id"), col("h"))
    assert(candidates(prefix) < candidates(sh))
  }

  test("jaccardPairs dispatches by df distribution: prefix on heavy, inverted on flat") {
    import spark.implicits._

    // Heavy-df corpus: every doc shares a 6-token stop-phrase (df = n
    // for its 4 pure-stop shingles, so Σ df²/Σ df ≈ n/2 >>
    // HeavyDfRatio at n = 200), plus a unique 4-token tail. Docs 0/1
    // and 2/3 are exact copies — the only pairs at threshold 0.6
    // (non-copies share just the 4 stop-shingles: J = 4/12 ≈ 0.33).
    val stop = "the quick brown fox lazy dog"
    val docs = (0 until 200).map { i =>
      val base = if (i == 1) 0 else if (i == 3) 2 else i
      (i.toLong, s"$stop u${base}a u${base}b u${base}c u${base}d")
    }.toDF("doc_id", "text")
    val heavy = Dedup.jaccardPairs(docs, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(Dedup.lastJaccardStrategy == "prefix")
    assert(heavy == Set((0L, 1L, 1.0), (2L, 3L, 1.0)))
    // Flat-df corpus (the synthetic testdata): the plain inverted join
    // is the cheaper plan and the dispatcher must keep it.
    Dedup.jaccardPairs(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents"), 0.6)
      .write.format("noop").mode("overwrite").save()
    assert(Dedup.lastJaccardStrategy == "inverted")
  }

  test("ivf embedding dedup: subset of exact pairs with usable recall") {
    val dir = "/root/testdata/sf0.001"
    val ivf = Similarity.queries("q_dedup_embedding_ivf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.queries("q_dedup_embedding")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(exact),
      s"IVF produced pairs outside the exact set: ${ivf -- exact}")
    assert(exact.nonEmpty && ivf.size.toDouble / exact.size >= 0.3,
      s"IVF recall ${ivf.size}/${exact.size} below floor")
  }

  test("semantic outliers: one row per vector, anchors self-cover, flag consistent") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "embeddings").count()
    val mFine = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val rows = Similarity.queries("q_semantic_outliers")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // the audit is a census: exactly one verdict per vector
    assert(rows.length == n && rows.map(_._1).distinct.length == n)
    // a fine anchor's best anchor is itself at cosine 1 — coverage
    // of the anchor set itself is exact by construction
    rows.filter(_._1 < mFine).foreach { case (id, best, cos, out) =>
      assert(best == id && cos == 1.0 && !out, s"anchor $id: ($best, $cos)")
    }
    // the flag IS the threshold predicate
    rows.foreach { case (id, _, cos, out) =>
      assert(out == (cos < Similarity.OutlierCos), s"vec $id flag drift")
    }
    // non-vacuous at the spec SF: both classes present
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("pack efficiency: chunk accounting agrees with the packer's assignment") {
    val dir = "/root/testdata/sf0.001"
    val eff = TextAnalysis.queries("q_pack_efficiency")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    val packed = TextAnalysis.queries("q_pack_sequences")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    packed.groupBy(_._1).foreach { case (lang, rows) =>
      val (nDocs, nTok, nChunks, fill, _) = eff(lang)
      assert(nDocs == rows.length)
      assert(nTok == rows.map(_._3.toLong).sum)
      // the packer's highest START chunk never exceeds the audit's
      // chunk count (a doc can only straddle INTO the last chunk)
      assert(rows.map(_._4).max < nChunks)
      assert(fill > 0.0 && fill <= 1.0)
    }
  }

  test("fim split: cut geometry, passthrough fingerprint, rate near the 0.5 coin") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.queries("q_fim_split")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6)))
    assert(rows.nonEmpty)
    // geometry: 0 <= cut1 <= cut2 <= n, len_middle = cut2 - cut1;
    // passthrough rows pin the cuts at 0
    rows.foreach { case (id, n, applied, c1, c2, mid, _) =>
      assert(mid == c2 - c1, s"doc $id")
      if (applied) assert(0 <= c1 && c1 <= c2 && c2 <= n, s"doc $id")
      else assert(c1 == 0 && c2 == 0, s"doc $id")
    }
    // a passthrough fingerprint is md5 of the plain token stream; an
    // applied one always differs (the sentinels are in the stream)
    val texts = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def plainMd5(t: String): String = {
      val joined = t.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
      java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    rows.foreach { case (id, _, applied, _, _, _, h) =>
      if (applied) assert(h != plainMd5(texts(id)), s"doc $id not reordered")
      else assert(h == plainMd5(texts(id)), s"doc $id passthrough drift")
    }
    // the h60 coin sits near the paper's 0.5 FIM rate
    val rate = rows.count(_._3).toDouble / rows.length
    assert(rate > 0.35 && rate < 0.65, s"fim rate $rate")
  }

  test("embedding drift: PSI bins conserve the posting census and near-zero on parity halves") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "embeddings").count()
    val rows = Similarity.queries("q_embedding_drift")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(6)))
    assert(rows.length == 10 && rows.map(_._1).toSeq == (0 until 10))
    // every posting lands in exactly one bin and one parity class
    assert(rows.map(r => r._2 + r._3).sum == n * Similarity.NProbe)
    // one psi_total, non-negative (Gibbs), and SMALL: vec_id parity is
    // independent of embedding content, so the halves share a
    // distribution and the monitor must read ~no drift
    val psi = rows.map(_._4).distinct
    assert(psi.length == 1 && psi.head >= 0.0 && psi.head < 0.25,
      s"parity halves showed implausible drift: ${psi.head}")
  }

  test("dup rate by source: census ties to the shared pair list") {
    val dir = "/root/testdata/sf0.001"
    val rows = Dedup.queries("q_dup_rate_by_source")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    val n = graft.Tables(spark, dir, "documents").count()
    assert(rows.map(_._2).sum == n)                 // sources partition the corpus
    val pairs = Dedup.sharedJaccardPairs(spark, dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dupDocs = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length
    assert(rows.map(_._3).sum == dupDocs)           // dup membership conserved
    assert(rows.map(_._5).sum == 2L * pairs.length) // every pair has two ends
    rows.foreach { case (src, nd, ndup, rate, _) =>
      assert(ndup <= nd && rate >= 0.0 && rate <= 1.0, src)
    }
  }

  test("snapshot diff: statuses partition both snapshots exactly") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "documents").count()
    val byStatus = Prep.queries("q_snapshot_diff")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ids = 0L until n
    val old = ids.filter(_ % 5 != 0).toSet
    val neu = ids.filter(_ % 11 != 0).toSet
    assert(byStatus.getOrElse("added", 0L) == (neu -- old).size)
    assert(byStatus.getOrElse("removed", 0L) == (old -- neu).size)
    val common = (old & neu)
    assert(byStatus.getOrElse("changed", 0L) == common.count(_ % 7 == 0))
    assert(byStatus.getOrElse("unchanged", 0L) == common.count(_ % 7 != 0))
  }

  test("filter funnel: conservation identities tie the stages to the keep flag") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "documents").count()
    val rows = TextAnalysis.queries("q_filter_funnel")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 4))
    assert(rows.head._3 == n)                       // stage 1 sees the corpus
    rows.foreach { case (_, rule, nin, killed, nout, sole) =>
      assert(nin - killed == nout, s"$rule: $nin - $killed != $nout")
      assert(sole >= 0 && sole <= n)
    }
    // adjacent stages chain: out(k) == in(k+1)
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._5 == b._3
      case _ => true
    })
    // the funnel's final survivors == the keep flag census
    val kept = TextAnalysis.queries("q_gopher_quality")(spark, dir)
      .where(org.apache.spark.sql.functions.col("keep")).count()
    assert(rows.last._5 == kept)
  }

  test("query expansion: recruits beyond the seed result and stays deterministic") {
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.queries("q_query_expansion")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.nonEmpty && out.length <= 20)
    // presentation order is (score DESC, doc_id)
    assert(out.sliding(2).forall {
      case Array((i1, s1), (i2, s2)) => s1 > s2 || (s1 == s2 && i1 < i2)
      case _ => true
    })
    // the expansion adds mass: no doc scores BELOW its seed bm25
    // beyond per-term rounding slack (seed partials round per term
    // here vs one whole-sum round there), at least one strictly
    // gains, and the resulting top-20 ordering differs from the
    // pure-seed ranking — otherwise the feedback contributed nothing
    val seedScore = TextAnalysis.bm25Scores(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val eps = 1e-5
    out.foreach { case (d, s) =>
      seedScore.get(d).foreach(b =>
        assert(s >= b - eps, s"doc $d: expanded $s fell below seed $b"))
    }
    assert(out.exists { case (d, s) =>
      seedScore.get(d).exists(b => s > b + eps) },
      "no document gained any expansion mass — vacuous feedback")
    val seedTop = TextAnalysis.queries("q_bm25")(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(out.map(_._1).toSeq != seedTop,
      "expanded ranking identical to the seed ranking — vacuous feedback")
    // deterministic under rerun
    val again = TextAnalysis.queries("q_query_expansion")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == again.toSeq)
  }

  test("cluster balance: census identities hold on the live index") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "embeddings").count()
    val r = Similarity.queries("q_cluster_balance")(spark, dir).collect().head
    val (post, b, mn, mx) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (imb, gini, sat) = (r.getDouble(4), r.getDouble(5), r.getLong(6))
    assert(post == n * Similarity.NProbe)       // every vector posts NProbe times
    assert(b >= 2 && mn >= 1 && mx >= mn && mx <= post)
    assert(imb >= 1.0 - 1e-9)                   // max/avg is at least 1
    assert(gini >= 0.0 && gini < 1.0)           // Gini of positive sizes
    assert(sat == 0, "driver corpus must not saturate the healthy index")
  }

  test("mmr diversify: greedy invariants — relevance first, diversity traded after") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.queries("q_mmr_diversify")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == Similarity.MmrK)
    assert(rows.map(_._1).toSeq == (1 to Similarity.MmrK))
    // no repeats; probe never selected
    assert(rows.map(_._2).distinct.length == rows.length)
    assert(rows.forall(_._2 != 0L))
    // round 1 is pure relevance: its mmr is exactly λ·relq (rounded)
    val r1 = rows.head
    assert(math.abs(r1._4 - BigDecimal(Similarity.MmrLam * r1._3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // λ-dominance: no later pick has strictly higher relevance AND
    // higher mmr than an earlier one missed at its own round — weak
    // but sufficient greedy sanity: relevance of round 1 is the max
    assert(rows.tail.forall(_._3 <= r1._3))
    // diversity actually traded: some pick's mmr < λ·relq (a nonzero
    // max-sim penalty was applied)
    assert(rows.tail.exists(p => p._4 < Similarity.MmrLam * p._3 - 1e-9))
  }

  test("rrf fusion: ranks bounded by K, probe excluded, fused score consistent") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.queries("q_rrf_fusion")(spark, dir).collect()
    assert(rows.nonEmpty)
    val fused = rows.map { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val vec = if (r.isNullAt(2)) None else Some(r.getInt(2))
      (r.getLong(0), lex, vec, r.getDouble(3))
    }
    // the probe document is the query — never a result
    assert(fused.forall(_._1 != 0L))
    // ranks are 1..K and every row is in at least one leg
    assert(fused.forall { case (_, l, v, _) =>
      (l.nonEmpty || v.nonEmpty) &&
        l.forall(r => r >= 1 && r <= Similarity.FusionTopK) &&
        v.forall(r => r >= 1 && r <= Similarity.FusionTopK)
    })
    // the fused score IS the fixed-order 2-term reciprocal sum
    fused.foreach { case (id, l, v, rrf) =>
      val expect = l.map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0) +
        v.map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0)
      assert(math.abs(rrf - expect) < 1e-6, s"doc $id rrf $rrf != $expect")
    }
    // presentation order is (rrf DESC, doc_id)
    assert(fused.sliding(2).forall {
      case Array((i1, _, _, s1), (i2, _, _, s2)) =>
        s1 > s2 || (s1 == s2 && i1 < i2)
      case _ => true
    })
    // both retrieval families contribute: some doc carries both ranks
    assert(fused.exists(r => r._2.nonEmpty && r._3.nonEmpty),
      "no document was retrieved by both legs — fusion is vacuous")
  }

  test("shardProbed: degenerate one-bucket corpus splits to ~n·cap pair work, not n²") {
    // a pathologically self-similar corpus routes EVERY vector into
    // one fine bucket — before round 6 the bucket self-join was n².
    // shardProbed must split it into ⌈bn/cap⌉ shards whose Σ|shard|²
    // is ~n·cap (the phash stop-band lesson applied to the index).
    val n = 3000L
    val probed = spark.range(n)
      .select(col("id").as("vec_id"), lit(7L).as("anchor_id"))
    val sizes = Similarity.shardProbed(probed, n)
      .groupBy("anchor_id", "shard").count()
      .collect().map(_.getLong(2))
    val m = math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val cap = Similarity.IvfSaturationFactor * Similarity.NProbe *
      ((n + m - 1) / m)
    val nShards = (n + cap - 1) / cap
    assert(nShards > 1, "fixture must actually saturate the bucket")
    assert(sizes.length == nShards,
      s"expected $nShards shards, got ${sizes.length}")
    // the integer mix spreads members evenly enough that no shard
    // holds more than 2× the target, so pair work is Θ(n·cap)
    assert(sizes.max <= 2 * cap, s"skewed shard: max ${sizes.max} vs cap $cap")
    val pairs = sizes.map(s => s * s).sum
    assert(pairs <= 2 * n * cap && pairs * 4 < n * n,
      s"pair bound broken: $pairs vs n·cap=${n * cap}")
  }

  test("shard guard is a no-op on the driver corpus (every bucket under cap)") {
    // documents the round-6 claim that existing IVF results are
    // unchanged: the largest real bucket is ~2.3× expected, the cap
    // is 4× — so every nShards == 1 and every shard == 0
    val sharded = Similarity.ivfShardedProbed(spark, "/root/testdata/sf0.001")
    assert(sharded.agg(max(col("shard"))).head().getLong(0) == 0L)
  }

  test("q_forget executed: purge reproduces kept checksums, idempotent re-apply") {
    val dir = "/root/testdata/sf0.001"
    // fixture invariant backing the events cascade (round-5 advice):
    // events.user_id is drawn from the customer key domain — if a
    // future corpus breaks this, the purge counts would be
    // semantically meaningless, so fail loudly here
    val custKeys = graft.Tables(spark, dir, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val userIds = graft.Tables(spark, dir, "events")
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(userIds.subsetOf(custKeys),
      "events.user_id must be keyed to c_custkey for the cascade to be real")
    def auditMap(d: String) = Prep.queries("q_forget")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val pre = auditMap(dir)
    assert(pre.values.exists(_._1 > 0), "fixture must have rows to purge")
    // delete → the audit's receipt must reproduce exactly
    val out = Files.createTempDirectory("forget_out").toString
    Prep.forgetApply(spark, dir, out)
    val post = auditMap(out)
    for ((tbl, (_, keptPre, ckPre)) <- pre) {
      val (purged, kept, ck) = post(tbl)
      assert(purged == 0L, s"$tbl: purge left deletable rows behind")
      assert(kept == keptPre, s"$tbl: kept-count drift after purge")
      assert(ck == ckPre, s"$tbl: kept-checksum receipt mismatch")
    }
    // re-ingest idempotence: applying the delete to the purged copy
    // is a no-op (the governance pipeline can re-run safely)
    val out2 = Files.createTempDirectory("forget_out2").toString
    Prep.forgetApply(spark, out, out2)
    assert(auditMap(out2) == post)
  }

  test("exact embedding dedup refuses above the row cap, naming the IVF scale path") {
    val dir = "/root/testdata/sf0.001" // 500 rows > lowered cap of 10
    val ex = intercept[IllegalStateException] {
      Similarity.dedupEmbeddingExact(spark, dir, maxRows = 10)
    }
    assert(ex.getMessage.contains("q_dedup_embedding_ivf"),
      s"guard must name the scale path: ${ex.getMessage}")
    // at the production cap the small fixture still runs
    assert(Similarity.dedupEmbeddingExact(spark, dir).count() > 0)
  }

  test("span dedup: shared 8-token span at DIFFERENT offsets is covered") {
    // the case disjoint-chunk dedup structurally misses: the same
    // 8-token run starts at offset 2 in doc 0 and offset 1 in doc 1
    val dir = docsDir(Seq(
      0L -> "z1 z2 s1 s2 s3 s4 s5 s6 s7 s8 q1",
      1L -> "y1 s1 s2 s3 s4 s5 s6 s7 s8 y2 y3",
      2L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
    val rows = Dedup.queries("q_span_dedup")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getBoolean(4))))
      .toMap
    assert(rows(0L) == ((11, 8L, false))) // tokens 2..9 covered
    assert(rows(1L) == ((11, 8L, false))) // tokens 1..8 covered
    assert(rows(2L) == ((9, 0L, true)))   // unique doc untouched
  }

  test("exact dedup keeps min doc_id per text") {
    val dir = docsDir(Seq(0L -> "aaa", 1L -> "bbb"))
    val rows = Dedup.queries("q_dedup_exact")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // dupCorpus doubles every doc (ids +100000), so each text has 2 copies
    assert(rows == Seq((0L, 2L), (1L, 2L)))
  }

  test("IVF ANN: full coverage and sane neighbor quality vs brute force") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "embeddings").count()
    val ann = Similarity.queries("q_sim_ann")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ann.size == n) // every vector got a neighbor

    // brute-force true NN cosine per vector
    val emb = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val a = emb.select(col("vec_id").as("i"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("j"), col("v").as("vb"))
    val best = a.join(b, col("i") =!= col("j"))
      .select(col("i"), (dot(col("va"), col("vb")) /
        (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb"))))).as("cos"))
      .groupBy("i").agg(max("cos").as("best"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val ratio = ann.map { case (id, (_, c)) => c / best(id) }.sum / ann.size
    assert(ratio > 0.5, s"avg(found/true) cosine ratio too low: $ratio")
  }

  test("k-means step: every seed self-assigns, member counts sum to corpus") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "embeddings").count()
    val rows = Similarity.queries("q_kmeans_step")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    // a centroid's own vector has cosine 1 with itself -> no empty clusters
    assert(rows.map(_._1).distinct.sorted.toSeq == (0L until 8L))
    // per dimension, cluster sizes partition the corpus
    rows.groupBy(_._2).foreach { case (pos, rs) =>
      assert(rs.map(_._3).sum == n, s"pos $pos sizes don't sum to $n")
    }
  }

  test("kmeans loop: full partition of the corpus, one cell row per (cid, dim)") {
    val dir = "/root/testdata/sf0.001"
    val n = Similarity.queries("q_kmeans")(spark, dir)
    val rows = n.collect()
    val cids = rows.map(_.getLong(0)).distinct
    assert(cids.nonEmpty && cids.length <= 8)
    assert(rows.length == cids.length * Similarity.Dim)
    // every dimension slice accounts for every vector exactly once
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val perPos = rows.groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(perPos.values.forall(_ == total))
  }

  test("split assignment partitions the corpus") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables(spark, dir, "documents").count()
    val rows = TextAnalysis.queries("q_split_assign")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(rows.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    assert(rows.map(_._2).sum == n)
  }

  test("containment dominates jaccard: every jaccard>=0.7 pair appears both ways") {
    val dir = "/root/testdata/sf0.001"
    val jac = Dedup.jaccardPairs(graft.Tables(spark, dir, "documents"), 0.7)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cont = Dedup.queries("q_containment")(spark, dir)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    jac.foreach { case (a, b) =>
      assert(cont((a, b)) && cont((b, a)),
        s"jaccard>=0.7 pair ($a,$b) missing from containment>=0.7 output")
    }
  }

  test("pagerank step: isolated docs keep exactly the teleport mass") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables(spark, dir, "documents")
    val n = docs.count()
    val linked = Dedup.jaccardPairs(docs, 0.6).select("doc1", "doc2").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val pr = Dedup.queries("q_pagerank_step")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = java.math.BigDecimal.valueOf(0.15 / n)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    pr.foreach { case (id, p) =>
      if (linked(id)) assert(p > base, s"linked doc $id at teleport floor")
      else assert(p == base, s"isolated doc $id pr=$p != $base")
    }
  }

  test("winnow match: copies overlap fully, unrelated docs never pair") {
    val dir = docsDir(Seq(
      0L -> base,
      1L -> base,                                   // exact copy
      2L -> "entirely different words that produce a disjoint fingerprint set for this document here"))
    val out = TextAnalysis.queries("q_winnow_match")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.toSeq == Seq((0L, 1L, 1.0)))         // full containment, only pair
  }

  test("sequence gaps: every missing key is covered by exactly one gap") {
    val dir = "/root/testdata/sf0.001"
    val gaps = graft.analytics.Relational.queries("q_sequence_gaps")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gaps.nonEmpty)
    assert(gaps.forall { case (s0, e, l) => s0 <= e && l == e - s0 + 1 })
    // rebuild the kept keyset locally and check exact coverage
    val kept = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey")).distinct()
      .collect().map(_.getLong(0)).filter(k => k % 7 != 0 && k % 11 != 0).sorted
    val missing = (kept.min to kept.max).toSet -- kept.toSet
    val covered = gaps.flatMap { case (s0, e, _) => s0 to e }.toSeq
    assert(covered.distinct.size == covered.size)      // gaps never overlap
    assert(covered.toSet == missing)                   // exact coverage
  }

  test("profile: count invariants hold, key column is unique") {
    val rows = graft.analytics.Relational.queries("q_profile")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.size == 4)
    rows.values.foreach { case (n, nn, nNull, d) =>
      assert(nn + nNull == n && d <= nn)
    }
    val (n, nn, _, d) = rows("o_orderkey")
    assert(d == nn && nn == n)                // primary key: unique, no nulls
  }

  test("rolling median equals a local replay of the trailing-7 frame") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.analytics.Extras.queries("q_rolling_median")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
    assert(rows.nonEmpty)
    // independent daily totals (decimal-exact, same as the query's
    // first stage) replayed through a local sliding-median
    val daily = graft.Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderdate").cast("date").as("day"))
      .agg(graft.util.Exact.moneySum(col("o_totalprice")).as("t"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
    def medianOf(xs: Seq[Double]): Double = {
      val s0 = xs.sorted
      val n = s0.size
      if (n % 2 == 1) s0(n / 2) else (s0(n / 2 - 1) + s0(n / 2)) / 2.0
    }
    val expected = daily.groupBy(_._1).flatMap { case (p, g) =>
      val days = g.sortBy(_._2)
      days.indices.map { i =>
        val frame = days.slice(math.max(0, i - 6), i + 1).map(_._3)
        (p, days(i)._2, BigDecimal(medianOf(frame))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toSet
    assert(rows.toSet == expected)
  }

  test("correlation agrees with Spark's built-in corr/covar_pop") {
    val dir = "/root/testdata/sf0.001"
    val ours = graft.analytics.Extras.queries("q_correlation")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val ref = graft.Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(covar_pop(col("l_quantity"), col("l_extendedprice")),
        corr(col("l_quantity"), col("l_extendedprice")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ours.foreach { case (k, (cv, cr)) =>
      val (rcv, rcr) = ref(k)
      assert(math.abs(cv - rcv) / math.abs(rcv) < 1e-6)
      assert(math.abs(cr - rcr) < 1e-6)
      // (no sign assertion: the synthetic generator draws quantity and
      // extendedprice independently, unlike real TPC-H)
      assert(cr.abs <= 1.0)
    }
  }

  test("moments agree with Spark's built-in variance/skewness/kurtosis") {
    val dir = "/root/testdata/sf0.001"
    val ours = graft.analytics.Extras.queries("q_moments")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val ref = graft.Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(avg("o_totalprice"), var_pop("o_totalprice"),
        skewness("o_totalprice"), kurtosis("o_totalprice"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    ours.foreach { case (k, (m, v, sk, ku)) =>
      val (rm, rv, rsk, rku) = ref(k)
      assert(math.abs(m - rm) / rm < 1e-9)
      assert(math.abs(v - rv) / rv < 1e-6)
      assert(math.abs(sk - rsk) < 1e-4)          // built-in is sample-corrected
      assert(math.abs(ku - rku) < 1e-2)          // float paths differ; shape agrees
    }
  }

  test("null-safe join: NULL keys pair with each other") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.analytics.Extras.queries("q_join_nullsafe")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val nulls = rows.filter(_._3 == -1L)
    val nNullKeys = graft.Tables(spark, dir, "nation")
      .where(col("n_regionkey") === 0).count()
    assert(nulls.length == nNullKeys * (nNullKeys - 1) / 2) // full clique of NULLs
    assert(rows.forall { case (a, b, _) => a < b })
  }

  test("time-range window counts the event itself and trailing hour only") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.analytics.Extras.queries("q_window_time_range")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getTimestamp(2), r.getLong(3)))
    assert(rows.forall(_._3 >= 1))
    // replay one user's stream with a naive O(n²) count
    val u = rows.head._1
    val mine = rows.filter(_._1 == u)
    mine.foreach { case (_, ts, n) =>
      val naive = mine.count { case (_, t2, _) =>
        !t2.after(ts) && t2.getTime >= ts.getTime - 3600 * 1000 }
      assert(n == naive, s"user $u at $ts")
    }
  }

  test("gap fill: non-null from first observation on, constant across gaps") {
    val rows = graft.analytics.Extras.queries("q_gap_fill")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getDate(1), Option(r.get(2))))
    assert(rows.length == 70)                        // 5 priorities x 14 days
    rows.groupBy(_._1).values.foreach { g =>
      val vals = g.sortBy(_._2.toString).map(_._3)
      val firstObs = vals.indexWhere(_.isDefined)
      // a group with no orders in the window stays all-null (firstObs
      // -1); otherwise the fill must never re-null after the first hit
      if (firstObs >= 0)
        assert(vals.drop(firstObs).forall(_.isDefined))
    }
  }

  test("pagerank loop: hubs outrank leaves, isolated docs hold the teleport fixpoint") {
    // star: doc 0 near-dups 1 and 2 (J=19/27≈0.70), but the 8-token
    // tails keep the leaves below threshold vs each other (J=19/35≈0.54)
    // so the graph is a genuine hub, not a triangle; doc 3 isolated
    val dir = docsDir(Seq(
      0L -> base,
      1L -> (base + " alpha beta gamma delta epsilon zeta eta theta"),
      2L -> (base + " one two three four five six seven eight"),
      3L -> "nothing in common with any other document here at all whatsoever in any shingle"))
    val pr = Dedup.queries("q_pagerank")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(0L) > pr(1L) && pr(0L) > pr(2L))       // hub accumulates rank
    assert(pr(1L) == pr(2L))                          // symmetric leaves agree
    assert(math.abs(pr(3L) - 0.15 / 4) < 1e-9)        // teleport-only fixpoint
    assert(pr.values.forall(_ > 0))
  }

  test("lateral top-n matches the window idiom") {
    val dir = "/root/testdata/sf0.001"
    val lat = graft.analytics.Extras.queries("q_lateral_topn")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val win = graft.Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lat == win && lat.nonEmpty)
  }

  test("int8 quantization achieves its bounds per dimension") {
    val dir = "/root/testdata/sf0.001"
    val byPos = Similarity.queries("q_quantize_embedding")(spark, dir)
      .groupBy("pos").agg(min("q").as("mn"), max("q").as("mx"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    byPos.foreach { case (mn, mx) =>
      assert(mn == 0 && mx == 127, s"quantized range [$mn,$mx] != [0,127]")
    }
  }

  test("bm25 scores are positive and ranked descending") {
    val rows = TextAnalysis.queries("q_bm25")(spark, "/root/testdata/sf0.001")
      .collect().map(_.getDouble(1))
    assert(rows.nonEmpty && rows.forall(_ > 0))
    assert(rows.sameElements(rows.sorted.reverse))
  }

  test("dup chunks: shared 10-token runs are flagged, unique docs keep") {
    // doc 0 and 1 share their first 10 tokens exactly (one chunk);
    // doc 2 shares nothing. base is 21 tokens -> 3 chunks (10/10/1).
    val dir = docsDir(Seq(
      0L -> base,
      1L -> (base.split(" ").take(10) ++ Seq("totally", "different",
        "tail", "of", "ten", "more", "tokens", "here", "now", "end"))
        .mkString(" "),
      2L -> "an unrelated document with no overlapping chunk content at all in any window of ten tokens"))
    val out = TextAnalysis.queries("q_dup_chunks")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out(0L)._1 == 3 && out(0L)._2 == 1)        // 1 of 3 chunks shared
    assert(out(1L)._1 == 2 && out(1L)._2 == 1)        // 1 of 2 chunks shared
    assert(out(2L)._2 == 0 && out(2L)._3)             // clean doc keeps
    assert(!out(1L)._3)                               // 50% dup -> drop
  }

  test("chunk dedup: first occurrence survives, exact copies empty out") {
    val tail = Seq("totally", "different", "tail", "of", "ten",
      "more", "tokens", "here", "now", "end")
    val dir = docsDir(Seq(
      0L -> base,                                       // 21 tokens -> 3 chunks
      1L -> base,                                       // exact copy: loses all 3
      2L -> (base.split(" ").take(10) ++ tail).mkString(" "))) // shares chunk 0
    val out = TextAnalysis.queries("q_chunk_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((3L, 3L, base.length.toLong)))  // keeper doc intact
    assert(out(1L)._2 == 0 && out(1L)._3 == 0)         // copy fully removed
    assert(out(2L)._1 == 2 && out(2L)._2 == 1)         // shared chunk dropped
    assert(out(2L)._3 == tail.mkString(" ").length)    // only its tail remains
  }

  test("lm perplexity: repeated text scores lower than a one-off doc") {
    // Three copies of `base` dominate the LM, so their bigrams are
    // high-probability. The outlier reuses base's VOCABULARY in novel
    // order: its contexts (w1 marginals) are frequent but its bigrams
    // are one-offs, so p(w2|w1) is small — the scrambled-text case a
    // perplexity filter exists to catch. (A doc of entirely novel
    // vocabulary would degenerately score ppl≈1 here: unique contexts
    // make every p=1 in an unsmoothed self-trained LM.)
    val dir = docsDir(Seq(
      0L -> base, 1L -> base, 2L -> base,
      3L -> base.split(" ").reverse.mkString(" ")))
    val out = TextAnalysis.queries("q_lm_perplexity")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(0L) == out(1L) && out(1L) == out(2L))  // identical docs, identical ppl
    assert(out(3L) > out(0L))                         // outlier doc is higher-ppl
    assert(out.values.forall(p => p >= 1.0 && !p.isNaN))
  }

  test("multimodal pack: batches are contiguous, conserve items, respect the budget") {
    val dir = "/root/testdata/sf0.001"
    val rows = Multimodal.queries("q_multimodal_pack")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = graft.Tables(spark, dir, "documents")
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxItem = docs.agg(max(length(col("text")))).head().getInt(0)
    rows.groupBy(_._1).foreach { case (src, g) =>
      assert(g.map(_._3).sum == perSource(src))            // items conserved
      assert(g.map(_._2).sorted.toSeq == (0L until g.size.toLong)) // contiguous ids
      assert(g.forall(_._4 < 8192L + maxItem))             // budget + one item max
    }
  }

  test("multimodal feature extraction: real PNG round-trip recovers the closed form") {
    import spark.implicits._
    // The PNG bytes are a REAL ImageIO encode; decode must recover the
    // generator's dimensions and pixel sum exactly (lossless codec).
    val ids = Seq(0L, 7L, 23L, 100L)
    val media = ids.toDS()
      .mapPartitions(_.map(id =>
        MediaRecord(id, Multimodal.pngFor(id), "image/png")))
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    for (id <- ids) {
      val w = (id % 24 + 8).toInt; val h = (id % 16 + 8).toInt
      val expSum = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 31 + x * 7 + y) % 256).sum
      assert(feats(id).width == w && feats(id).height == h)
      assert(feats(id).n_pixels == w.toLong * h)
      assert(feats(id).sum_lum == expSum)
    }
    // and the payload really is a PNG (magic bytes)
    val png = Multimodal.pngFor(1L)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
  }

  test("ivf-pq search: results drawn only from the query's probed buckets, ADC-ranked") {
    val dir = "/root/testdata/sf0.001"
    val got = Similarity.queries("q_ivf_pq_search")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.length <= 10)
    assert(!got.map(_._1).contains(0L))
    // distances non-decreasing in output order (the ADC ranking)
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    // candidate containment: every hit shares a probed fine bucket with
    // the query vector — the IVF inverted-list guarantee
    val probed = Similarity.ivfProbed(spark, dir)
    val qAnchors = probed.where(col("vec_id") === 0)
      .select(col("anchor_id")).collect().map(_.getLong(0)).toSet
    val candidates = probed.collect()
      .filter(r => qAnchors.contains(r.getLong(2))).map(_.getLong(0)).toSet
    assert(got.map(_._1).forall(candidates.contains))
    // where a hit also appears in the global q_pq_search top-10, the
    // ADC distances must agree — same codes, same lookup table
    val full = Similarity.queries("q_pq_search")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, d) => full.get(id).foreach(fd => assert(fd == d)) }
  }

  test("dedup-aware split: near-duplicates co-travel; naive split is audited pair-exactly") {
    // crafted corpus: docs 0/1 identical, 2 near-dup of them, 3 unrelated
    // -> one 3-doc cluster {0,1,2} plus singleton {3}
    val dir = docsDir(Seq(
      0L -> base,
      1L -> base,
      2L -> (base + " tonight"),
      3L -> "completely unrelated text about spark engines and columnar execution at scale with vectorized readers"))
    val docs = graft.Tables(spark, dir, "documents")
    val labels = Dedup.connectedComponents(docs,
      Dedup.sharedJaccardPairs(spark, dir, Prep.JaccardThreshold))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(0L) == 0L && labels(1L) == 0L && labels(2L) == 0L && labels(3L) == 3L)

    // the census accounts for every doc, and the 3-doc cluster lands in ONE split
    val census = Prep.queries("q_dedup_aware_split")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(census.map(_._2).sum == 4L)
    // the 3-doc cluster lands whole in ONE split: some row carries it
    // (3 docs, or 4 when the singleton hashed into the same split) —
    // a naive content-hash split could have scattered it 2/1 or 1/1/1
    assert(census.exists(r => r._2 == 3L || r._2 == 4L),
      s"cluster was scattered: ${census.toSeq}")
    // cluster counts: 2 components total across all splits
    assert(census.map(_._3).sum == 2L)

    // leakage guard: the confusion matrix covers all 3 near-dup pairs
    val leak = Prep.queries("q_leakage_guard")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(leak.map(_._3).sum == 3L) // pairs (0,1), (0,2), (1,2)
    leak.foreach { case (a, b, _, leaky) =>
      assert(a <= b)
      assert(leaky == (a != b))
    }
  }

  test("random projection: local replay matches, 16 dims per vector, map-only shape") {
    val dir = "/root/testdata/sf0.001"
    val out = Similarity.queries("q_random_projection")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val n = graft.Tables(spark, dir, "embeddings").count()
    assert(out.size == n * Similarity.RpDim)
    // replay the sign fold locally for a few vectors
    val vecs = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .where(col("vec_id") < 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, v) <- vecs; j <- 0 until Similarity.RpDim) {
      var acc = 0.0
      for (i <- 0 until Similarity.Dim) {
        val s = if (((i * Similarity.RpDim + j + 1) * 1315423911L) % 1000003 % 2 == 0) 1.0 else -1.0
        acc += v(i) * s
      }
      val exp = BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out((id, j)) == exp, s"vec $id dim $j: got ${out((id, j))}, want $exp")
    }
  }

  test("perplexity buckets: exact ntile(3) semantics per language, no straddle") {
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.queries("q_perplexity_buckets")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(out.nonEmpty)
    // tercile sizes differ by at most 1 within a language, larger first
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val sizes = rows.sortBy(_._2).map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang sizes: ${sizes.toSeq}")
      assert(sizes.zip(sizes.tail).forall(p => p._1 >= p._2),
        s"$lang larger buckets must come first: ${sizes.toSeq}")
    }
    // the integer bucket formula IS ntile(3): replay with the window form
    val ppl = TextAnalysis.queries("q_lm_perplexity")(spark, dir)
      .select(col("doc_id"), col("ppl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("ppl"), col("doc_id"))
    val viaNtile = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang")).join(ppl, Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(w))
      .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(out.map(t => (t._1, t._2, t._3)).toSet == viaNtile)
  }

  test("chunk overlap: strided geometry tiles every token, tail chunk short") {
    val text = (1 to 60).map(i => s"w$i").mkString(" ") // 60 tokens
    val dir = docsDir(Seq(0L -> text, 1L -> "a b c"))   // 3-token doc: 1 chunk
    val rows = Prep.queries("q_chunk_overlap")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val d0 = rows.filter(_._1 == 0L).sortBy(_._2)
    // starts every 24, chunk_len = min(32, n - start): (0,32) (24,32) (48,12)
    assert(d0.map(t => (t._4, t._5)).toSeq == Seq((0, 32), (24, 32), (48, 12)))
    assert(d0.forall(_._3 == 60))
    // full coverage: the union of [start, start+len) is [0, n)
    val covered = d0.flatMap(t => t._4 until (t._4 + t._5)).toSet
    assert(covered == (0 until 60).toSet)
    val d1 = rows.filter(_._1 == 1L)
    assert(d1.map(t => (t._2, t._4, t._5)).toSeq == Seq((0, 0, 3)))
  }

  test("chunk overlap: tiling invariants hold across boundary token counts") {
    val C = Prep.ChunkLen; val S = Prep.ChunkStride
    // every stride/length boundary: 1 token, exactly one stride, one
    // past it, exactly one chunk, one past it, multiples, and a tail
    val sizes = Seq(1, 2, S - 1, S, S + 1, C - 1, C, C + 1,
      2 * S - 1, 2 * S, 2 * S + 1, 3 * S, 100, 119)
    val dir = docsDir(sizes.zipWithIndex.map { case (n, i) =>
      i.toLong -> (1 to n).map(t => s"t$t").mkString(" ")
    })
    val rows = Prep.queries("q_chunk_overlap")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .groupBy(_._1)
    sizes.zipWithIndex.foreach { case (n, i) =>
      val cs = rows(i.toLong).sortBy(_._2)
      val expStarts = (0 until n by S).toSeq
      assert(cs.map(_._4).toSeq == expStarts, s"n=$n starts")
      cs.foreach { c =>
        assert(c._3 == n)
        assert(c._5 == math.min(C, n - c._4), s"n=$n start=${c._4} len")
        assert(c._5 >= 1)
      }
      // tiling: union of [start, start+len) covers exactly [0, n)
      val covered = cs.flatMap(c => c._4 until (c._4 + c._5)).toSet
      assert(covered == (0 until n).toSet, s"n=$n coverage")
      // consecutive chunks overlap by len − S (= C − S for full
      // chunks), and always by at least one token — no gap, no abut
      cs.sliding(2).foreach {
        case Array(a, b) =>
          val overlap = (a._4 + a._5) - b._4
          assert(overlap == a._5 - S && overlap >= 1,
            s"n=$n start=${a._4}: overlap $overlap")
        case _ =>
      }
    }
  }

  test("psiFrame: Gibbs non-negativity — per-bin terms and total >= 0") {
    import spark.implicits._
    // three shapes: identical, disjoint extremes, skewed-vs-uniform
    val frames = Seq(
      Seq((0, 10L, 10L), (5, 20L, 20L)),
      Seq((0, 100L, 0L), (9, 0L, 100L)),
      Seq((1, 50L, 5L), (2, 30L, 30L), (3, 5L, 80L)))
    frames.foreach { counts =>
      val df = counts.toDF("bin", "n_ref", "n_cur")
      val out = graft.analytics.Stats.psiFrame(spark, df).collect()
      assert(out.length == 10)
      // every (p−q)·ln(p/q) term is individually non-negative (up to
      // the 6-digit rounding the frame applies)
      out.foreach(r => assert(r.getDouble(5) >= -1e-6,
        s"bin ${r.getInt(0)} term ${r.getDouble(5)}"))
      assert(out.head.getDouble(6) >= -1e-6)
    }
    // identical distributions ⇒ PSI exactly zero
    val same = Seq((0, 7L, 7L), (4, 3L, 3L)).toDF("bin", "n_ref", "n_cur")
    val z = graft.analytics.Stats.psiFrame(spark, same).collect()
    assert(z.forall(_.getDouble(6) == 0.0))
  }

  test("label propagation: only non-seeds predicted, hit audits the vote") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.queries("q_label_propagation")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 3 != 0), "seeds must never be re-predicted")
    assert(rows.forall(t => t._2 >= 0 && t._2 <= 9))
    assert(rows.forall(t => t._4 == (if (t._2 == t._3) 1 else 0)))
  }

  test("bitext mine: en→de only, margin >= 1, mined consistent") {
    val dir = "/root/testdata/sf0.001"
    val langs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Similarity.queries("q_bitext_mine")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(t => langs(t._1) == "en"), "src side must be en")
    assert(rows.forall(t => langs(t._2) == "de"), "tgt side must be de")
    // best is the max of the top-k, so best/mean >= 1 by construction
    assert(rows.forall(_._4 >= 1.0))
    assert(rows.forall(t => t._5 == (if (t._4 >= Similarity.MineMargin) 1 else 0)))
  }

  test("mix temperature: alpha=0.5 up-samples the low-resource language") {
    import spark.implicits._
    val dir = Files.createTempDirectory("docs").toString
    // char mass 100 vs 900 → shares .1/.9; sqrt ratio 1:3 ⇒ weights .25/.75
    Seq((0L, "x" * 100, "aa"), (1L, "y" * 450, "bb"), (2L, "z" * 450, "bb"))
      .toDF("doc_id", "text", "lang").withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.queries("q_mix_temperature")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out("aa") == ((0.1, 0.25, 2.5)))
    assert(out("bb") == ((0.9, 0.75, 0.833333)))
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("oov rate: occurrences outside the top-V vocab are counted per lang") {
    import spark.implicits._
    val dir = Files.createTempDirectory("docs").toString
    // 20 common tokens (3 occurrences each) fill the V=20 vocab; 5 rare
    // singletons are the OOV mass: 65 occurrences, 5 OOV
    val common = (1 to 20).map(i => f"c$i%02d")
    val rare = (1 to 5).map(i => s"r$i")
    val text = (common ++ common ++ common ++ rare).mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.queries("q_oov_rate")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("en", 65L, 5L, 0.076923)))
  }

  test("contrastive pairs: anchors sampled, positive shares the label, negative differs") {
    val dir = "/root/testdata/sf0.001"
    val labels = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.queries("q_contrastive_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 7 == 0), "anchors are the 1/7 sample")
    assert(rows.forall(t => labels(t._2) == labels(t._1)),
      "positive must share the anchor's label")
    assert(rows.forall(t => labels(t._4) != labels(t._1)),
      "negative must have a different label")
    assert(rows.forall(t => math.abs(t._6 - (t._3 - t._5)) < 1e-6))
  }

  test("drift psi: all 10 bins present, smoothed shares sum to 1, psi constant") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.analytics.Stats.queries("q_drift_psi")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(6)))
    assert(rows.map(_._1).toSeq.sorted == (0 until 10))
    // Laplace-smoothed shares sum to 1 on each side (up to rounding)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4)
    assert(rows.map(_._6).distinct.length == 1, "psi_total repeats per row")
    assert(rows.head._6 >= 0.0, "PSI is a non-negative divergence")
  }

  test("forget: cascade counts match direct computation, receipt re-verifies") {
    val dir = "/root/testdata/sf0.001"
    val out = Prep.queries("q_forget")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set("customer", "orders", "lineitem", "events"))
    // direct recomputation of the customer + cascade counts
    val custs = graft.Tables(spark, dir, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val delSet = custs.filter(_ % Prep.ForgetMod == 0).toSet
    assert(delSet.nonEmpty, "fixture must contain deletable customers")
    assert(out("customer")._1 == delSet.size)
    assert(out("customer")._2 == custs.length - delSet.size)
    val ordPurged = graft.Tables(spark, dir, "orders")
      .where(col("o_custkey").isin(delSet.toSeq: _*)).count()
    assert(out("orders")._1 == ordPurged)
    // the receipt property: recomputing the checksum over the kept
    // rows alone reproduces the audit's checksum exactly
    val keptXor = graft.Tables(spark, dir, "customer")
      .where(col("c_custkey") % Prep.ForgetMod =!= 0)
      .select(expr(
        "bit_xor(h60(concat('c:', CAST(c_custkey AS STRING)))) AS x"))
      .head().getLong(0)
    assert(out("customer")._3 == keptXor)
  }

  test("kanon: audit row is internally consistent with the group census") {
    val dir = "/root/testdata/sf0.001"
    val Seq(row) = Prep.queries("q_kanon")(spark, dir).collect().toSeq
    val (nRows, nGroups, k, rowsAtRisk, groupsAtRisk) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4))
    val sizes = graft.Tables(spark, dir, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment")).count()
      .collect().map(_.getLong(2))
    assert(nRows == sizes.sum && nGroups == sizes.length)
    assert(k == sizes.min)
    assert(rowsAtRisk == sizes.filter(_ < Prep.KanonK).sum)
    assert(groupsAtRisk == sizes.count(_ < Prep.KanonK))
  }

  test("decontaminate: census is the receipt of the physical drop, re-run is a no-op") {
    val dir = "/root/testdata/sf0.001"
    def censusMap(d: String) = Dedup.queries("q_decontaminate")(spark, d)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val pre = censusMap(dir)
    assert(pre.values.exists(_._2 > 0), "fixture must have contaminated docs")
    // drop → re-censusing the clean copy finds nothing left to drop
    // (its eval slice is absent by construction), and the kept counts
    // and bit_xor receipts must reproduce exactly
    val out = Files.createTempDirectory("decontam_out").toString
    Dedup.decontaminateApply(spark, dir, out)
    val post = censusMap(out)
    for ((src, (_, _, keptPre, ckPre)) <- pre) {
      if (keptPre == 0L) assert(!post.contains(src),
        s"$src: fully-dropped source must vanish from the clean corpus")
      else {
        val (nTrain, dropped, kept, ck) = post(src)
        assert(dropped == 0L, s"$src: drop left contaminated docs behind")
        assert(nTrain == keptPre && kept == keptPre,
          s"$src: kept-count drift after the drop")
        assert(ck == ckPre, s"$src: kept-checksum receipt mismatch")
      }
    }
    // re-ingest idempotence: decontaminating the clean copy is a no-op
    val out2 = Files.createTempDirectory("decontam_out2").toString
    Dedup.decontaminateApply(spark, out, out2)
    assert(censusMap(out2) == post)
  }

  test("dedup apply: census is the receipt of the physical collapse, re-run is a no-op") {
    val dir = "/root/testdata/sf0.001"
    def censusMap(d: String) = Dedup.queries("q_dedup_apply")(spark, d)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val pre = censusMap(dir)
    assert(pre.values.exists(_._2 > 0), "fixture must have near-dup clusters")
    // collapse → the clean corpus has one representative per cluster,
    // so re-censusing finds NOTHING to drop (survivors of different
    // components are never near-dups — they'd have been one component)
    val out = Files.createTempDirectory("dedup_out").toString
    Dedup.dedupApply(spark, dir, out)
    val post = censusMap(out)
    for ((src, (_, _, keptPre, ckPre)) <- pre) {
      if (keptPre == 0L) assert(!post.contains(src))
      else {
        val (nDocs, dropped, kept, ck) = post(src)
        assert(dropped == 0L, s"$src: collapse left droppable members behind")
        assert(nDocs == keptPre && kept == keptPre, s"$src: kept-count drift")
        assert(ck == ckPre, s"$src: kept-checksum receipt mismatch")
      }
    }
    val out2 = Files.createTempDirectory("dedup_out2").toString
    Dedup.dedupApply(spark, out, out2)
    assert(censusMap(out2) == post)
  }

  test("matryoshka/retrieval eval: sane bounds and probe counts agree") {
    val dir = "/root/testdata/sf0.001"
    val Seq(mt) = Similarity.queries("q_matryoshka_trunc")(spark, dir)
      .collect().toSeq
    assert(mt.getLong(0) > 0 && mt.getLong(1) <= mt.getLong(0))
    assert(mt.getDouble(2) >= 0.0 && mt.getDouble(2) <= 1.0)
    val Seq(re) = Similarity.queries("q_retrieval_eval")(spark, dir)
      .collect().toSeq
    // same scale-invariant probe predicate ⇒ same probe count
    assert(re.getLong(0) == mt.getLong(0))
    assert(re.getDouble(1) > 0.0 && re.getDouble(1) <= 1.0, "MRR in (0,1]")
    assert(re.getDouble(2) >= 0.0 && re.getDouble(2) <= 1.0)
  }

  test("softdedup: cluster members weigh 1/|cluster|, singletons weigh 1") {
    val dir = docsDir(Seq(
      0L -> base,
      1L -> base,                // exact dup of 0
      2L -> (base + " tonight"), // near dup (J = 19/20)
      3L -> "completely unrelated text about spark engines and columnar execution at scale with vectorized readers"))
    val w = Dedup.queries("q_softdedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(w.size == 4)
    for (d <- Seq(0L, 1L, 2L)) assert(w(d) == ((3L, 0.333333)), s"doc $d")
    assert(w(3L) == ((1L, 1.0)))
  }

  test("ngram novelty: dups score 0, mosaic recombination scores low") {
    val unrel = "completely unrelated text about spark engines and columnar execution at scale with vectorized readers"
    // first 10 words of base + first 10 of unrel: every non-boundary
    // shingle was seen in an earlier doc — the mosaic-dup shape no
    // pairwise Jaccard threshold catches
    val mosaic = (base.split(" ").take(10) ++ unrel.split(" ").take(10)).mkString(" ")
    val dir = docsDir(Seq(0L -> base, 1L -> base, 2L -> unrel, 3L -> mosaic))
    val nv = Dedup.queries("q_ngram_novelty")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(nv(0L)._3 == 1.0, "first owner of every shingle")
    assert(nv(1L)._3 == 0.0, "exact dup adds nothing")
    assert(nv(2L)._3 == 1.0)
    assert(nv(3L) == ((18L, 2L, 0.111111)), "only the 2 boundary shingles are new")
  }

  test("dsir: target-like docs score positive, off-target junk negative") {
    val t1 = "the ancient harbor lights glimmer softly and the evening tide returns while sailors mend their nets beside the weathered pier and gulls circle above the quiet water near the northern cliffs"
    val t2 = "the ancient harbor boats drift slowly and the morning tide recedes while fishers haul their catch beside the wooden pier and terns wheel above the calm water near the eastern cliffs"
    val t3 = "the old harbor lanterns flicker gently and the midnight tide advances while sailors stow their ropes beside the stone pier and waves break above the dark water near the western cliffs"
    val dir = docsDir(Seq(1L -> t1, 2L -> t2, 3L -> t3,
      4L -> "zzz qqq xxx vvv", 5L -> "mmm nnn ppp rrr", 6L -> "kkk fff ggg hhh"))
    // premise check: the Gopher target set is exactly the harbor docs
    val keep = TextAnalysis.gopherFlags(graft.Tables(spark, dir, "documents"))
      .where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keep == Set(1L, 2L, 3L), s"target premise broke: $keep")
    val out = TextAnalysis.queries("q_dsir")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.size == 6)
    for (d <- Seq(1L, 2L, 3L))
      assert(out(d)._1 > 0.0 && out(d)._2, s"target doc $d should select")
    for (d <- Seq(4L, 5L, 6L))
      assert(out(d)._1 < 0.0 && !out(d)._2, s"junk doc $d should not select")
  }

  test("dsir apply: census is the receipt of the physical selection") {
    val dir = "/root/testdata/sf0.001"
    val census = TextAnalysis.queries("q_dsir_apply")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(census.values.exists(_._2 > 0), "fixture must select something")
    assert(census.values.exists(_._3 > 0), "fixture must drop something")
    val out = Files.createTempDirectory("dsir_out").toString
    TextAnalysis.dsirApply(spark, dir, out)
    // the written corpus must match the census receipts exactly:
    // per-source counts and the bit_xor over selected content keys
    val written = spark.read.parquet(s"$out/documents.parquet")
      .select(col("source"),
        graft.ops.TextFns.h60(concat(lit("d:"), col("doc_id").cast("string")))
          .as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("ck"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    for ((src, (_, nSel, _, ck)) <- census) {
      if (nSel == 0L) assert(!written.contains(src))
      else assert(written(src) == ((nSel, ck)),
        s"$src: physical selection does not match its census receipt")
    }
  }

  test("quality ablate: full census, quality ranks the deciles") {
    val t1 = "the ancient harbor lights glimmer softly and the evening tide returns while sailors mend their nets beside the weathered pier and gulls circle above the quiet water near the northern cliffs"
    val dir = docsDir(Seq(1L -> t1, 2L -> "zzz qqq xxx vvv", 3L -> "mmm nnn ppp rrr"))
    val rows = TextAnalysis.queries("q_quality_ablate")(spark, dir).collect().toSeq
    assert(rows.map(_.getLong(1)).sum == 3L, "every ≥2-token doc lands in a bin")
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 9))
    // the harbor doc's heuristic score bins strictly above the junk
    val bins = rows.map(_.getInt(0))
    assert(bins.max > bins.min, "quality separated the corpus")
  }

  test("kneser ney: closed-form replay from raw bigram counts") {
    val d1 = "x cat y cat z cat x dog x dog x dog"
    val d2 = "new york new york and old york"
    val dir = docsDir(Seq(1L -> d1, 2L -> d2))
    val out = TextAnalysis.queries("q_kneser_ney")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.nonEmpty && out.size <= 20)
    // local replay of the exact KN formula from raw counts
    val bigs = Seq(d1, d2).flatMap(_.split(" ").toSeq.sliding(2)
        .filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cnt1 = bigs.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val nFollow = bigs.groupBy(_._1._1).map { case (k, v) => k -> v.size }
    val nPrec = bigs.groupBy(_._1._2).map { case (k, v) => k -> v.size }
    val t = bigs.size.toDouble
    for (((w1, w2), (cnt, p)) <- out) {
      assert(cnt == bigs((w1, w2)), s"count of ($w1,$w2)")
      val exp = math.max(cnt - 0.75, 0.0) / cnt1(w1) +
        (0.75 * nFollow(w1) / cnt1(w1)) * (nPrec(w2) / t)
      assert(math.abs(p - exp) < 1e-6, s"p_kn($w2|$w1): $p vs $exp")
      assert(p > 0.0 && p <= 1.0)
    }
  }

  test("unimax: epoch cap binds small languages, leftover splits among the rest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("unimax").toString
    Seq((1L, "a" * 100, "en"), (2L, "b" * 30, "de"), (3L, "c" * 10, "zh"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // budget = 140 chars, caps = 2·n: zh 20 (capped), de 60 (capped at
    // the boundary), en splits the leftover 60 alone
    val out = TextAnalysis.queries("q_unimax")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getBoolean(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("zh") == ((20L, true, 20.0, 2.0)))
    assert(out("de") == ((60L, true, 60.0, 2.0)))
    assert(!out("en")._2 && math.abs(out("en")._3 - 60.0) < 1e-9)
    assert(math.abs(out.values.map(_._3).sum - 140.0) < 1e-9,
      "allocations exhaust the budget exactly")
  }

  test("epoch expand: capped langs repeat exactly, fractional rate coins by hash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("epochx").toString
    // same waterfill instance as the unimax test: zh/de capped at 2
    // epochs, en gets 60 of 100 chars → rate 0.6 = 600000 ppm
    Seq((1L, "a" * 100, "en"), (2L, "b" * 30, "de"), (3L, "c" * 10, "zh"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.queries("q_epoch_expand")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(out.filter(_._1 == "de") == Seq(("de", 2L, 1L, 2L), ("de", 2L, 2L, 2L)))
    assert(out.filter(_._1 == "zh") == Seq(("zh", 3L, 1L, 2L), ("zh", 3L, 2L, 2L)))
    // en doc 1: one copy iff md5-hash ppm of "epoch:1" < 600000
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("epoch:1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val coin = java.lang.Long.parseLong(hex.take(15), 16) % 1000000L
    val en = out.filter(_._1 == "en")
    if (coin < 600000L) assert(en == Seq(("en", 1L, 1L, 1L)))
    else assert(en.isEmpty)
  }

  test("distinct ngrams: diversity census equals an exact local replay") {
    val dir = "/root/testdata/sf0.001"
    val got = TextAnalysis.queries("q_distinct_ngrams")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq))
    val expect = (for {
      n <- Seq(1, 2, 3)
      (src, toks) <- docs
      g <- toks.sliding(n).filter(_.length == n).map(_.mkString(" "))
    } yield ((src, n), g)).groupBy(_._1).map { case (k, gs) =>
      val total = gs.size.toLong
      val dis = gs.map(_._2).distinct.size.toLong
      k -> ((total, dis, dis * 1000000L / total))
    }
    assert(got == expect && got.nonEmpty)
  }

  test("distinct ngrams theta: sketch census equals an exact local KMV replay") {
    val dir = "/root/testdata/sf0.001"
    val got = TextAnalysis.queries("q_distinct_ngrams_theta")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getInt(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getLong(6), r.getDouble(7)))).toMap
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq))
    val k = Govern.ThetaK
    val expect = (for {
      n <- Seq(1, 2, 3)
      (src, toks) <- docs
      g <- toks.sliding(n).filter(_.length == n).map(_.mkString(" "))
    } yield ((src, n), h60(g))).groupBy(_._1).map { case (key, hs) =>
      val total = hs.size.toLong
      val dis = hs.map(_._2).distinct.sorted
      val kept = dis.take(k)
      key -> ((total, kept.size,
        if (dis.size >= k) Some(kept.last) else None,
        dis.size.toLong))
    }
    assert(got.keySet == expect.keySet && got.nonEmpty)
    expect.foreach { case (key, (total, nKept, theta, exact)) =>
      val (gTotal, gKept, gTheta, gExact, errPct) = got(key)
      assert((gTotal, gKept, gTheta, gExact) == ((total, nKept, theta, exact)),
        s"$key sketch state mismatch")
      // below k the estimate IS the exact count (err 0); at/above k
      // the KMV envelope: sigma ~ 1/sqrt(k-2) = 6.3%, 4 sigma headroom
      if (nKept < k) assert(errPct == 0.0, s"$key: $errPct")
      else assert(errPct < 25.0, s"$key: $errPct%")
    }
  }

  test("pca step: fixed-point power iterate equals an exact local replay") {
    val dir = "/root/testdata/sf0.001"
    val got = Similarity.queries("q_pca_step")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val vecs = graft.Tables(spark, dir, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1024).toLong))
    val expect = (0 until 64)
      .map(k => k -> vecs.map(q => q(k) * q.sum).sum).toMap
    assert(got == expect)
    assert(got.size == 64)
    // the apply side: every vector's coordinate along that iterate
    val proj = Similarity.queries("q_pca_project")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expProj = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val q = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1024).toLong)
        r.getLong(0) -> q.zipWithIndex.map { case (x, k) => x * expect(k) }.sum
      }.sortBy(_._1)
    assert(proj.toSeq == expProj.toSeq)
  }

  test("pca iterate + abtt apply equal an exact local replay; residuals exactly orthogonal") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1024).toLong))
      .sortBy(_._1)
    def stepWith(sOf: Seq[Long] => Long): Array[Long] = {
      val u = Array.fill(64)(0L)
      vecs.foreach { case (_, q) =>
        val s = sOf(q)
        for (k <- 0 until 64) u(k) += q(k) * s
      }
      u
    }
    // Scala's / truncates toward zero — the same convention as Spark
    // div and DuckDB // (verified on negatives)
    def quant(u: Array[Long]): Array[Long] = {
      val m = math.max(u.map(math.abs).max, 1L)
      u.map(x => x * Similarity.PcaUScale / m)
    }
    val u1 = stepWith(_.sum) // round 1: the all-ones probe
    val u2 = stepWith { q => val w = quant(u1)
      q.zipWithIndex.map { case (x, k) => x * w(k) }.sum }
    val u3 = stepWith { q => val w = quant(u2)
      q.zipWithIndex.map { case (x, k) => x * w(k) }.sum }
    val got = Similarity.queries("q_pca_iterate")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == (0 until 64).map(k => k -> u3(k)).toMap)
    val uq = quant(u3)
    val uu = uq.map(x => x * x).sum
    val gotR = Similarity.queries("q_abtt_apply")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val expR = vecs.flatMap { case (id, q) =>
      val c = q.zipWithIndex.map { case (x, k) => x * uq(k) }.sum
      (0 until 64).map(k => (id.toLong, k) -> (q(k) * uu - c * uq(k)))
    }.toMap
    assert(gotR == expR && gotR.size == vecs.length * 64)
    // the ABTT identity: r·û = c·(û·û) − c·(û·û) = 0 EXACTLY for every
    // vector — integer arithmetic makes the orthogonality perfect, not
    // approximate
    vecs.foreach { case (id, _) =>
      val dot = (0 until 64).map(k => gotR((id, k)) * uq(k)).sum
      assert(dot == 0L, s"vec $id residual not orthogonal: $dot")
    }
    // the deflation step: rescale the residual cells by the global max
    // (exact integer division) and run the SAME three rounds — the
    // second principal direction
    val mAll = math.max(1L, gotR.values.map(math.abs).max)
    val rq = vecs.map { case (id, _) =>
      (0 until 64).map(k => gotR((id, k)) * Similarity.PcaUScale / mAll)
    }
    def stepR(sOf: IndexedSeq[Long] => Long): Array[Long] = {
      val u = Array.fill(64)(0L)
      rq.foreach { row =>
        val s = sOf(row)
        for (k <- 0 until 64) u(k) += row(k) * s
      }
      u
    }
    val d1 = stepR(_.sum)
    val d2 = stepR { row => val w = quant(d1)
      row.zipWithIndex.map { case (x, k) => x * w(k) }.sum }
    val d3 = stepR { row => val w = quant(d2)
      row.zipWithIndex.map { case (x, k) => x * w(k) }.sum }
    val gotD = Similarity.queries("q_pca_deflate")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(gotD == (0 until 64).map(k => k -> d3(k)).toMap)
    // near-orthogonality to the first direction: residual ROWS are
    // exactly ⊥ û, so only the ±1024 rescale floor misaligns the
    // second iterate — cos(u2, û) must be tiny, nowhere near the ~1 a
    // non-deflated iterate would show (it would reconverge to û)
    def norm(v: Iterable[Long]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val cosAlign = math.abs(
      (0 until 64).map(k => gotD(k).toDouble * uq(k)).sum) /
      math.max(norm(gotD.values) * norm(uq), 1.0)
    assert(cosAlign < 0.05, s"second direction aligned with first: $cosAlign")
  }

  test("pca rescale: DECIMAL(38,0)-widened (u*1024) div m survives magnitudes " +
    "that wrap the raw 64-bit multiply") {
    import spark.implicits._
    // u near the worst-case round-2 iterate magnitude n·2³⁶: the raw
    // long multiply u*1024 wraps (u > 2⁵³), the widened form must not
    val big = (1L << 60) + 12345L
    val rows = Seq((0, big), (1, -big), (2, big / 2), (3, 7L))
      .toDF("dim", "u")
    val got = rows
      .select(col("dim"), expr(
        s"(cast(u as decimal(38,0)) * 1024) div greatest(${big}L, 1)").as("uq"))
      .orderBy(col("dim")).collect().map(_.getLong(1))
    // exact truncating quotients of (u·1024)/big, computed via BigInt
    val exp = Seq(big, -big, big / 2, 7L)
      .map(u => ((BigInt(u) * 1024) / BigInt(big)).toLong)
    assert(got.toSeq == exp)
    // and the raw formula really does wrap here — the regression this
    // guards against (silent Spark wrap vs DuckDB raise)
    assert(big * 1024L != BigInt(big) * 1024)
  }

  test("watermark detect: greedily greened text flags, natural text does not") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val vocab = ('a' to 'z').map(c => s"w$c")
    // grow a 60-token sequence where every adjacent pair hashes green —
    // the detector's own predicate, exercised from the outside
    val seq = scala.collection.mutable.ArrayBuffer("wa")
    while (seq.length < 60)
      seq += vocab.find(v => md5hex(seq.last + " " + v).head < '8').get
    val dir = docsDir(Seq(1L -> seq.mkString(" "),
      2L -> (base + " " + base), 3L -> "too short"))
    val out = TextAnalysis.queries("q_watermark_detect")(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 2L, "sub-threshold doc excluded")
    assert(out.head.getLong(2) == 1L, "exactly the greened doc flags")
  }

  test("ks test: shifted window drifts, identical windows do not") {
    import spark.implicits._
    val day = 86400000000L // µs
    def write(curShift: Double): String = {
      val dir = Files.createTempDirectory("ks").toString
      val ref = (0 until 100).map(i => (i.toLong * day / 20, i / 100.0))
      val cur = (0 until 100).map(i =>
        (14L * day + i.toLong * day / 20, i / 100.0 + curShift))
      (ref ++ cur).toDF("us", "value")
        .select(expr("timestamp_micros(us)").as("ts"), col("value"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val shifted = graft.analytics.Stats.queries("q_ks_test")(
      spark, write(10.0)).collect().head
    assert(shifted.getLong(0) == 100L && shifted.getLong(1) == 100L)
    assert(math.abs(shifted.getDouble(2) - 1.0) < 1e-9, "disjoint ranges: D = 1")
    assert(shifted.getBoolean(4), "full shift must reject H0")
    val same = graft.analytics.Stats.queries("q_ks_test")(
      spark, write(0.0)).collect().head
    assert(same.getDouble(2) == 0.0, "identical samples: D = 0")
    assert(!same.getBoolean(4))
  }

  test("dedup funnel: stages chain, attribution matches the standing predicates") {
    val dir = "/root/testdata/sf0.001"
    val rows = Dedup.queries("q_dedup_funnel")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq("exact", "near", "semantic"))
    // survivorship chains: n_out(i) == n_in(i+1), n_out = n_in - dropped
    rows.foreach { case (_, _, nin, d, nout) =>
      assert(nout == nin - d && d >= 0)
    }
    assert(rows(0)._5 == rows(1)._3 && rows(1)._5 == rows(2)._3)
    assert(rows(0)._3 ==
      graft.Tables(spark, dir, "documents").count(), "stage 1 sees all docs")
    // stage-2 attribution equals |nearDupDrops| among exact survivors
    // (on this corpus every doc text is unique, so all survive stage 1)
    assert(rows(0)._4 == 0L, "sf0.001 has no exact text dups")
    val nearDrops = graft.ops.Dedup.queries("q_dedup_apply")(spark, dir)
      .agg(sum(col("n_dropped"))).collect().head.getLong(0)
    assert(rows(1)._4 == nearDrops, "near stage == the q_dedup_apply census")
  }

  test("semdedup shard guard: degenerate all-identical corpus stays bounded") {
    import spark.implicits._
    val dir = Files.createTempDirectory("semdeg").toString
    val n = 500
    // every vector identical → one cluster of n; without the shard
    // guard the self-join is n², with it Σ min(|shard|, cap)²
    val v = Array.fill(64)(0.1f)
    (0 until n).map(i => (i.toLong, v, i % 10))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val dropped = Similarity.semdedupDropped(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // survivors = the min id of each (cid, shard) group; replicate the
    // shard arithmetic to predict them exactly
    val k = Similarity.semSeedCount(n)
    val cap = Similarity.SemSaturationFactor * ((n + k - 1) / k)
    val nShards = (n + cap - 1) / cap
    assert(nShards > 1, "premise: the guard must actually fire here")
    val kept = (0L until n).groupBy(i => ((i * 1315423911L) % 1000003L) % nShards)
      .values.map(_.min).toSet
    assert(dropped == (0L until n).toSet -- kept,
      "drop set == everything but each sub-shard's min id")
  }

  test("dup assortativity: exact census on a crafted two-source graph") {
    import spark.implicits._
    val dir = Files.createTempDirectory("assort").toString
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    Seq((1L, base, "A"), (2L, base, "A"), (3L, t2, "A"), (4L, t2, "B"),
      (5L, "one two three four five six seven eight nine ten", "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // pairs: (1,2) intra-A, (3,4) cross A↔B → m=2, intra=1;
    // ends: A=3, B=1 → expected = (9+1)/(4·4) = 0.625;
    // r = (0.5 − 0.625)/(1 − 0.625) = −1/3
    val r = Dedup.queries("q_dup_assortativity")(spark, dir).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - 0.5) < 1e-9)
    assert(math.abs(r.getDouble(3) - 0.625) < 1e-9)
    assert(math.abs(r.getDouble(4) - (-1.0 / 3)) < 1e-6)
  }

  test("dup assortativity: all pair-ends in one source yields NULL, not NaN") {
    // q_exp = 1 pole: with every duplicate inside source A, Σd² =
    // (2m)² so (q_intra − q_exp)/(1 − q_exp) is 0/0 — the guarded
    // CASE must NULL it like the m = 0 pole instead of relying on
    // both engines hashing NaN identically
    import spark.implicits._
    val dir = Files.createTempDirectory("assort1").toString
    Seq((1L, base, "A"), (2L, base, "A"),
      (3L, "one two three four five six seven eight nine ten", "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Dedup.queries("q_dup_assortativity")(spark, dir).collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    assert(r.isNullAt(4), "degenerate single-source partition must yield NULL")
  }

  test("release delta: every admission stage fires on the crafted batch") {
    import spark.implicits._
    // v1 = ids not divisible by 4; batch = ids divisible by 4
    val tA = base + " while the tall ships wait in the old harbor and the traders count their coins"
    val tB = "the river winds through the quiet valley and the old bridge stands above the clear water while farmers tend their fields beside the stone wall near the village and the mill"
    val de = "der die das und ist nicht der die das und ist nicht der die das und ist nicht der die the and of wind stein berg fluss haus baum feld"
    val dir = Files.createTempDirectory("rel_delta").toString
    Seq(
      1L -> tA,                      // v1: the store content
      2L -> "some other v1 text about columnar execution and adaptive plans at scale in the engine",
      0L -> "zzz qqq",               // batch: 0 % 97 = 0 → forget
      4L -> tA,                      // batch: exact copy of v1 → exact_v1
      8L -> tB,                      // batch: fresh quality text → ADMITTED
      12L -> tB,                     // batch: dup of 8 → exact_batch
      16L -> (tA + " tonight"),      // batch: near-dup of v1 → near
      20L -> "mmm nnn ppp rrr",      // batch: fails gopher → quality
      24L -> de,                     // batch: passes gopher, lang=de → lang
      100L -> tB)                    // batch: 100 % 50 = 0 → eval
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // premise: tA (with suffix) and de must pass the gopher gate, and
    // the de text must detect as German
    val gf = TextAnalysis.gopherFlags(
        graft.Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      .where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Set(4L, 8L, 16L, 24L).subsetOf(gf), s"gopher premise broke: $gf")
    val r = Prep.queries("q_release_delta")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 8L, "n_batch")
    assert((row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5)) ==
      ((1L, 1L, 1L, 1L)), "forget/eval/quality/lang")
    assert((row.getLong(6), row.getLong(7), row.getLong(8)) == ((1L, 1L, 1L)),
      "exact_v1/exact_batch/near")
    assert(row.getLong(9) == 1L, "exactly doc 8 admitted")
    // the receipt is the admitted doc's content key
    val h8 = spark.sql("SELECT h60('d:8')").head().getLong(0)
    assert(row.getLong(10) == h8)
  }

  test("ivf retrain: fires on the fixture, strictly improves moved coverage") {
    import graft.ops.Similarity
    val dir = "/root/testdata/sf0.001"
    val scoredRows = Similarity.queries("q_semantic_outliers")(spark, dir)
      .collect()
    val nOut = scoredRows.count(_.getBoolean(3)).toLong
    val n = scoredRows.length.toLong
    assert(nOut * 100 >= Similarity.RetrainPct * n,
      "fixture premise: the re-train trigger must fire")
    val stored = scoredRows
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val merged = Similarity.queries("q_ivf_retrain")(spark, dir).collect()
    assert(merged.length == n)
    val moved = merged.filter(_.getBoolean(3))
    assert(moved.nonEmpty, "the response must actually move vectors")
    for (r <- merged) {
      val (sAnchor, sCos) = stored(r.getLong(0))
      if (r.getBoolean(3)) {
        // a move is strictly better and lands on an A' anchor id
        assert(r.getLong(1) >= Similarity.RetrainAnchorBase)
        assert(r.getDouble(2) > sCos)
      } else {
        // a non-move is exactly the stored assignment
        assert(r.getLong(1) == sAnchor && r.getDouble(2) == sCos)
      }
    }
    // coverage only improves: post-state outlier count can only drop
    val outAfter = merged.count(_.getDouble(2) < Similarity.OutlierCos)
    assert(outAfter <= nOut)
    assert(outAfter < nOut, "some flagged vector must now be covered")
  }

  test("chat pack: closed-form mask spans on a crafted 40-token corpus") {
    // 40 tokens = 3 turns of 16/16/8: [system 16][user 16][assistant 8]
    // — per doc exactly 8 trainable tokens; 3 docs fit one 1024 chunk
    def doc(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    val dir = docsDir(Seq(1L -> doc("a"), 2L -> doc("b"), 3L -> doc("c")))
    val r = TextAnalysis.queries("q_chat_pack")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) ==
      ((3L, 9L, 120L, 24L)))
    assert(math.abs(row.getDouble(5) - 0.2) < 1e-9)
    assert(row.getLong(6) == 1L)
    assert(math.abs(row.getDouble(7) - 120.0 / 1024) < 1e-6)
    assert(row.getLong(8) == 0L)
  }

  test("chat pack: a turn straddling the 1024 budget is counted") {
    // two 600-token conversations: doc 2 starts at offset 600, its
    // turn 26 spans [1016, 1032) and crosses the chunk boundary —
    // exactly one straddled span, two chunks, 38 turns per doc with
    // assistant turns {2,4,...,36} (the 8-token turn 37 is user)
    def doc(p: String) = (1 to 600).map(i => s"$p$i").mkString(" ")
    val dir = docsDir(Seq(1L -> doc("a"), 2L -> doc("b")))
    val row = TextAnalysis.queries("q_chat_pack")(spark, dir).collect().head
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) ==
      ((2L, 76L, 1200L, 576L)))
    assert(math.abs(row.getDouble(5) - 0.48) < 1e-9)
    assert(row.getLong(6) == 2L)
    assert(math.abs(row.getDouble(7) - 1200.0 / 2048) < 1e-6)
    assert(row.getLong(8) == 1L)
  }

  test("span dedup multi: degenerate all-identical corpus attributes all to W=32") {
    val t = (1 to 40).map(i => s"t$i").mkString(" ")
    val dir = docsDir(Seq(1L -> t, 2L -> t, 3L -> t))
    val rows = Dedup.queries("q_span_dedup_multi")(spark, dir).collect()
    assert(rows.length == 3)
    // 40 identical tokens: the nine W=32 windows already cover every
    // position, so longest-wins leaves nothing for W=16/W=8
    for (r <- rows) {
      assert(r.getInt(1) == 40)
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
        ((0L, 0L, 40L, 40L)))
      assert(r.getDouble(6) == 1.0 && !r.getBoolean(7))
    }
  }

  test("span dedup multi: a 16-token shared span attributes to W=16, not its W=8 sub-windows") {
    val sh = (1 to 16).map(i => s"s$i").mkString(" ")
    def uniq(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val dir = docsDir(Seq(
      1L -> s"${uniq("u")} $sh ${uniq("v")}",
      2L -> s"${uniq("w")} $sh ${uniq("x")}"))
    val rows = Dedup.queries("q_span_dedup_multi")(spark, dir).collect()
    assert(rows.length == 2)
    // the shared run holds one W=16 window and nine W=8 windows; all
    // 16 positions go to the longest signal
    for (r <- rows) {
      assert(r.getInt(1) == 36)
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
        ((0L, 16L, 0L, 16L)))
      assert(math.abs(r.getDouble(6) - 16.0 / 36) < 1e-6 && r.getBoolean(7))
    }
  }

  test("corpus release: census rows equal the standing funnels row-for-row") {
    val dir = "/root/testdata/sf0.001"
    val rel = Prep.queries("q_corpus_release")(spark, dir).collect()
    assert(rel.length == 13)
    val byStage = rel.map(r => r.getInt(0) -> r).toMap
    // dedup family (stages 4-6) == q_dedup_funnel, all five fields
    val df = Dedup.queries("q_dedup_funnel")(spark, dir).collect()
    for ((fr, i) <- df.zipWithIndex) {
      val rr = byStage(4 + i)
      assert(rr.getString(2) == fr.getString(1))
      assert((rr.getLong(3), rr.getLong(4), rr.getLong(5)) ==
        ((fr.getLong(2), fr.getLong(3), fr.getLong(4))),
        s"dedup funnel row ${i + 1} must match q_dedup_funnel")
    }
    // quality family (stages 7-10) == q_filter_funnel
    val ff = TextAnalysis.queries("q_filter_funnel")(spark, dir).collect()
    for ((fr, i) <- ff.zipWithIndex) {
      val rr = byStage(7 + i)
      assert(rr.getString(2) == fr.getString(1))
      assert((rr.getLong(3), rr.getLong(4), rr.getLong(5)) ==
        ((fr.getLong(2), fr.getLong(3), fr.getLong(4))),
        s"quality funnel row ${i + 1} must match q_filter_funnel")
    }
    // decontaminate row (stage 3) == the q_decontaminate census summed
    val dec = Dedup.queries("q_decontaminate")(spark, dir).collect()
    assert(byStage(3).getLong(3) == dec.map(_.getLong(1)).sum)
    assert(byStage(3).getLong(4) == dec.map(_.getLong(2)).sum)
    // dsir row (stage 12) == the q_dsir_apply census summed
    val ds = TextAnalysis.queries("q_dsir_apply")(spark, dir).collect()
    assert(byStage(12).getLong(3) == ds.map(_.getLong(1)).sum)
    assert(byStage(12).getLong(4) == ds.map(_.getLong(3)).sum)
    // the chained cascade telescopes from |corpus| to the release
    assert(byStage(1).getLong(6) == 500L)
    for (i <- 1 until 13)
      assert(byStage(i + 1).getLong(6) == byStage(i).getLong(8),
        s"rel_in(stage ${i + 1}) must equal rel_out(stage $i)")
    for (i <- 1 to 13)
      assert(byStage(i).getLong(8) ==
        byStage(i).getLong(6) - byStage(i).getLong(7))
  }

  test("corpus release: physical write matches the receipt; re-apply is a no-op") {
    val dir = "/root/testdata/sf0.001"
    val rel = Prep.queries("q_corpus_release")(spark, dir).collect()
    val fin = rel.find(_.getInt(0) == 13).get
    val (nRel, ck) = (fin.getLong(8), fin.getLong(9))
    assert(nRel > 0, "release must be non-empty on the fixture")
    assert(nRel < 500, "release must actually drop something")
    val out = Files.createTempDirectory("corpus_rel").toString
    Prep.corpusReleaseApply(spark, dir, out)
    // the written corpus must equal the census's final receipt exactly
    val w = spark.read.parquet(s"$out/documents.parquet")
      .select(graft.ops.TextFns.h60(
        concat(lit("d:"), col("doc_id").cast("string"))).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    assert(w.getLong(0) == nRel && w.getLong(1) == ck,
      "written corpus must match the census receipt")
    // aligned embeddings: exactly the kept doc ids, no dangling vectors
    val embIds = spark.read.parquet(s"$out/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val docIds = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(embIds.subsetOf(docIds))
    // re-running the census on the release: every subset-stable stage
    // drops nothing (semantic re-clusters and dsir re-fits its LMs on
    // the subset — both documented as not idempotent by design)
    val again = Prep.queries("q_corpus_release")(spark, out).collect()
    val stable = Set("forget", "eval_holdout", "decontaminate", "exact",
      "near", "len", "wordlen", "sym", "stop", "lang")
    for (r <- again if stable(r.getString(2)))
      assert(r.getLong(7) == 0L,
        s"${r.getString(2)} must be a no-op on the released corpus")
    // the shipped datasheet: q_data_card runs on the release as-is
    val card = TextAnalysis.queries("q_data_card")(spark, out).collect()
    assert(card.map(_.getLong(1)).sum == nRel)
  }

  test("q_span_dedup_exact: known longest repeats on a crafted corpus") {
    import spark.implicits._
    // doc 1 and doc 2 share a verbatim 12-token run (R1..R12) embedded
    // in otherwise-unique text; doc 3 is all-unique; doc 4 repeats a
    // 4-token phrase internally (below the 8-token floor)
    val run = (1 to 12).map(i => s"R$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 u4 $run v1 v2 v3 v4"),
      (2L, s"w1 w2 w3 $run x1 x2 x3 x4 x5"),
      (3L, (1 to 10).map(i => s"z$i").mkString(" ")),
      (4L, "y1 y2 y3 y4 y1 y2 y3 y4")).toDF("doc_id", "text")
    val out = Files.createTempDirectory("span_exact_fix").toString
    docs.write.parquet(s"$out/documents.parquet")
    val r = SpanExact.queries("q_span_dedup_exact")(spark, out)
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    // longest exact repeat 12; 5 qualifying starts (lengths 12..8);
    // they cover exactly the 12 run positions
    assert(r(1L) == ((20, 12L, 5L, 12L)), r(1L).toString)
    assert(r(2L) == ((20, 12L, 5L, 12L)), r(2L).toString)
    assert(r(3L) == ((10, 0L, 0L, 0L)), r(3L).toString)
    // internal 4-token repeat: exact length found, below the coverage floor
    assert(r(4L) == ((8, 4L, 0L, 0L)), r(4L).toString)
  }

  test("mmrGreedy: driver greedy equals the Spark-expression round loop") {
    import spark.implicits._
    // adversarial relq/sim values: half-ulp rounding boundaries,
    // negatives, exact ties — the cases where a driver-side re-
    // implementation of round(0.7*relq - 0.3*ms, 6) could drift from
    // Spark's Round evaluation
    val pool = Seq(
      (1L, 0.9999995), (2L, 0.1234565), (3L, 0.1234575), (4L, -0.0000005),
      (5L, 0.5), (6L, 0.5), (7L, 0.7142855), (8L, 0.9999985),
      (9L, 0.000001), (10L, -0.653421))
    val sims = (for {
      (a, _) <- pool; (b, _) <- pool if a != b
    } yield (a, b, BigDecimal((a * 31 + b * 17 % 7).toDouble / 13.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 0.1)).toSeq
    val poolDf = pool.toDF("vec_id", "relq")
    val simsDf = sims.toDF("a", "b", "sim")
    // the pre-r13 loop, verbatim: MmrK rounds, each scored in Spark
    // expressions and picked by orderBy(mmr desc, vec_id) limit 1
    def mmrExpr(ms: org.apache.spark.sql.Column) =
      round(lit(Similarity.MmrLam) * col("relq") -
        lit(Similarity.MmrLamC) * ms, 6)
    val ref = scala.collection.mutable.ListBuffer.empty[(Int, Long, Double, Double)]
    for (r <- 1 to Similarity.MmrK) {
      val selIds = ref.map(_._2).toSeq
      val base = if (selIds.isEmpty) poolDf else
        poolDf.where(!col("vec_id").isin(selIds.map(Long.box): _*))
      val ms = if (selIds.isEmpty) lit(0.0) else coalesce(col("ms"), lit(0.0))
      val scored = if (selIds.isEmpty) base else
        base.join(simsDf.where(col("b").isin(selIds.map(Long.box): _*))
            .groupBy(col("a")).agg(max(col("sim")).as("ms")),
          col("vec_id") === col("a"), "left")
      scored.select(col("vec_id"), col("relq"), mmrExpr(ms).as("mmr"))
        .orderBy(col("mmr").desc, col("vec_id")).limit(1)
        .collect().headOption.foreach { row =>
          ref += ((r, row.getLong(0), row.getDouble(1), row.getDouble(2)))
        }
    }
    val got = Similarity.mmrGreedy(pool.toArray, sims.toArray)
    assert(got == ref.toSeq,
      s"driver greedy diverged:\n got=$got\n ref=${ref.toSeq}")
  }

  test("saRanks early exit: rank table equals the full-round doubling loop") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // docs 1 and 2 are IDENTICAL (every suffix duplicated, so ranks
    // never become unique — the nDistinct==nRows fast path cannot
    // fire and the no-split criterion must carry the exit); doc 3 is
    // all-unique filler. Groups stabilize after ~2 doublings, far
    // below the 7-round horizon, so the loop exits early — and must
    // still produce the exact rank table the full SaRounds loop (the
    // oracle's unrolled CTE) produces.
    val docs = Seq(
      (1L, "a b c a b c d e"),
      (2L, "a b c a b c d e"),
      (3L, (1 to 12).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val out = Files.createTempDirectory("sa_early_exit").toString
    docs.write.parquet(s"$out/documents.parquet")
    val got = SpanExact.saRanks(spark, out)
      .select("doc_id", "pos", "r").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // full-round reference: the oracle's loop verbatim (global windows
    // are fine at test scale)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var ref = docs
      .select(col("doc_id"),
        posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"), TextFns.h60(col("t")).as("r"))
    for (k <- 0 until SpanExact.SaRounds) {
      val paired = ref.withColumn("rr",
        coalesce(lead(col("r"), 1 << k).over(wDoc), lit(-1L)))
      ref = paired.withColumn("rn",
          dense_rank().over(Window.orderBy(col("r"), col("rr"))).cast("long"))
        .select(col("doc_id"), col("pos"), col("rn").as("r"))
    }
    val want = ref.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == want, "early-exit rank table diverged from the full loop")
  }

  test("q_contam_span: exact train-overlap census on a crafted split") {
    import spark.implicits._
    // eval doc 0 (doc_id % 50 == 0) embeds a verbatim 15-token span
    // from train doc 1; eval docs 50 and 100 share nothing with train
    // and are exact duplicates of EACH OTHER — eval-eval duplication
    // must not count as contamination (only train members set the
    // group's cnt_train)
    val span = (1 to 15).map(i => s"s$i").mkString(" ")
    val evalDup = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (0L, s"ea eb ec $span ed ee"),
      (50L, evalDup),
      (100L, evalDup),
      (1L, s"ta tb $span tc td"),
      (2L, (1 to 10).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = Files.createTempDirectory("contam_span_fix").toString
    docs.write.parquet(s"$out/documents.parquet")
    val r = SpanExact.queries("q_contam_span")(spark, out)
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getLong(2), x.getLong(3), x.getBoolean(4))).toMap
    // positions 3,4,5 start overlaps 15,14,13 — exactly 3 qualifying
    assert(r(0L) == ((20, 15L, 3L, true)), r(0L).toString)
    assert(r(50L) == ((10, 0L, 0L, false)), r(50L).toString)
    assert(r(100L) == ((10, 0L, 0L, false)), r(100L).toString)
    assert(!r.contains(1L) && !r.contains(2L), "train docs must not appear")
  }

  test("q_decontam_span: the train-side drop census mirrors the eval-side flags") {
    import spark.implicits._
    // same split as the q_contam_span fixture: train doc 1 carries the
    // eval span (must drop), train doc 2 is clean (must keep); sources
    // split the two so the census shows one drop and one keep
    val span = (1 to 15).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"ea eb ec $span ed ee", "sA"),
      (1L, s"ta tb $span tc td", "sA"),
      (2L, (1 to 10).map(i => s"z$i").mkString(" "), "sB")).toDF(
      "doc_id", "text", "source")
    val out = Files.createTempDirectory("decontam_span_fix").toString
    docs.write.parquet(s"$out/documents.parquet")
    val r = SpanExact.queries("q_decontam_span")(spark, out)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r("sA") == ((1L, 1L, 0L)), r("sA").toString) // doc 1 dropped
    assert(r("sB") == ((1L, 0L, 1L)), r("sB").toString) // doc 2 kept
  }

  test("q_contam_span agrees with a brute-force overlap scan (testdata)") {
    // independent truth: for every eval position, the longest prefix
    // match against ALL train suffixes, computed by the dumb O(n·m)
    // scan on the collected sf0.001 corpus
    val dir = "/root/testdata/sf0.001"
    val toks = graft.Tables(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.ops.TextFns.tokens(org.apache.spark.sql.functions.col("text"))
          .as("a"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toArray).toMap
    val train = toks.filter(_._1 % 50 != 0).values.toArray
    def longest(a: Array[String], i: Int): Int = {
      var best = 0
      train.foreach { b =>
        var j = 0
        while (j < b.length) {
          var l = 0
          while (i + l < a.length && j + l < b.length && a(i + l) == b(j + l)) l += 1
          if (l > best) best = l
          j += 1
        }
      }
      best
    }
    val got = SpanExact.queries("q_contam_span")(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    val evalIds = toks.keys.filter(_ % 50 == 0).toSeq.sorted
    evalIds.foreach { id =>
      val a = toks(id)
      val want = a.indices.map(longest(a, _)).max.toLong
      assert(got(id) == want, s"doc $id: sa=${got(id)} brute=$want")
    }
  }

  test("q_span_dedup_exact coverage == q_span_dedup's W=8 coverage (testdata)") {
    // a position is inside a duplicated ≥8-token exact span iff it is
    // inside a duplicated 8-window — the two censuses must agree on
    // n_covered doc-for-doc (the suffix array refines the SPECTRUM,
    // not the coverage)
    val dir = "/root/testdata/sf0.001"
    val exact = SpanExact.queries("q_span_dedup_exact")(spark, dir)
      .select("doc_id", "n_covered").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val windowed = Dedup.queries("q_span_dedup")(spark, dir)
      .select("doc_id", "n_covered").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == windowed)
    assert(exact.values.sum > 0, "no duplicated spans in testdata — vacuous")
  }

  test("q_span_dedup_exact census at horizon 512 == the 128 default (testdata)") {
    // every testdata doc fits the default horizon, so the two extra
    // doubling rounds only relabel already-separated ranks; the
    // Scratch keys embed the horizon, so each run builds its own
    // rank and group tables
    val dir = "/root/testdata/sf0.001"
    def census(): Seq[String] =
      SpanExact.queries("q_span_dedup_exact")(spark, dir)
        .collect().map(_.toString).toSeq.sorted
    val base = census()
    assert(base.nonEmpty, "empty census — vacuous")
    spark.conf.set(SpanExact.SpanSaMaxLenConf, "512")
    try assert(census() == base)
    finally spark.conf.unset(SpanExact.SpanSaMaxLenConf)
  }

  test("q_span_dedup_exact at a raised 512-token horizon: long docs, 200-token repeat") {
    import spark.implicits._
    // the K = log₂(horizon) scaling story EXECUTED: 300-token docs
    // exceed the 128 default loudly, and at spanSaMaxLen=512 (9
    // derived doubling rounds) the suffix array finds the exact
    // 200-token shared run — lengths count down 200..1 from the run
    // start, 193 starts reach the 8-token floor, coverage = the run
    val run = (1 to 200).map(i => s"R$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 50).map(i => s"u$i") ++ Seq(run) ++
        (1 to 50).map(i => s"v$i")).mkString(" ")),
      (2L, ((1 to 30).map(i => s"w$i") ++ Seq(run) ++
        (1 to 70).map(i => s"x$i")).mkString(" ")),
      (3L, (1 to 300).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = Files.createTempDirectory("span_exact_long").toString
    docs.write.parquet(s"$out/documents.parquet")
    // default horizon refuses 300-token docs with the raise-the-conf hint
    val e = intercept[IllegalArgumentException](
      SpanExact.queries("q_span_dedup_exact")(spark, out).collect())
    assert(e.getMessage.contains(SpanExact.SpanSaMaxLenConf))
    spark.conf.set(SpanExact.SpanSaMaxLenConf, "512")
    try {
      val r = SpanExact.queries("q_span_dedup_exact")(spark, out)
        .collect().map(x => x.getLong(0) ->
          (x.getInt(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
      assert(r(1L) == ((300, 200L, 193L, 200L)), r(1L).toString)
      assert(r(2L) == ((300, 200L, 193L, 200L)), r(2L).toString)
      assert(r(3L) == ((300, 0L, 0L, 0L)), r(3L).toString)
      // spectrum over the same corpus at the raised horizon: the run's
      // per-position lengths 200..1 band as 64:{200..64}=137,
      // 32:{63..32}=32, 16:{31..16}=16, 8:{15..8}=8, 4..1 as 4,2,1 —
      // per doc; all other positions (100 + 100 + 300) are band 0
      val sp = SpanExact.queries("q_dup_spectrum")(spark, out)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(sp(64L) == 137L * 2, sp.toString)
      assert(sp(32L) == 32L * 2, sp.toString)
      assert(sp(16L) == 16L * 2, sp.toString)
      assert(sp(8L) == 8L * 2, sp.toString)
      assert(sp(0L) == 100L + 100L + 300L, sp.toString)
    } finally spark.conf.unset(SpanExact.SpanSaMaxLenConf)
  }

  test("q_span_dedup_exact past the old 1024 packing cap: 1500-token docs at horizon 2048") {
    import spark.implicits._
    // round 10 packed the group representative as doc_id·1024+pos,
    // silently capping the horizon at 1024 tokens; the widened
    // doc_id·2^20+pos packing lifts the ceiling to ~1M tokens. Prove
    // it EXECUTES past the old cap: 1500-token docs sharing a
    // 300-token run, horizon 2048 (11 derived doubling rounds),
    // against hand-computed truth — run lengths count down 300..1
    // from the run start, 293 starts reach the 8-token floor,
    // coverage = the run.
    val run = (1 to 300).map(i => s"R$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 600).map(i => s"u$i") ++ Seq(run) ++
        (1 to 600).map(i => s"v$i")).mkString(" ")),
      (2L, ((1 to 400).map(i => s"w$i") ++ Seq(run) ++
        (1 to 800).map(i => s"x$i")).mkString(" ")),
      (3L, (1 to 1100).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Files.createTempDirectory("span_exact_xlong").toString
    docs.write.parquet(s"$out/documents.parquet")
    // the OLD cap (1024) refuses these docs; only the widened packing
    // admits a horizon that holds them
    spark.conf.set(SpanExact.SpanSaMaxLenConf, "1024")
    try {
      val e = intercept[IllegalArgumentException](
        SpanExact.queries("q_span_dedup_exact")(spark, out).collect())
      assert(e.getMessage.contains(SpanExact.SpanSaMaxLenConf))
      spark.conf.set(SpanExact.SpanSaMaxLenConf, "2048")
      val r = SpanExact.queries("q_span_dedup_exact")(spark, out)
        .collect().map(x => x.getLong(0) ->
          (x.getInt(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
      assert(r(1L) == ((1500, 300L, 293L, 300L)), r(1L).toString)
      assert(r(2L) == ((1500, 300L, 293L, 300L)), r(2L).toString)
      assert(r(3L) == ((1100, 0L, 0L, 0L)), r(3L).toString)
    } finally spark.conf.unset(SpanExact.SpanSaMaxLenConf)
  }

  test("q_dup_spectrum: bands and shares on the crafted span corpus") {
    import spark.implicits._
    // reuse the span-exact fixture geometry: docs 1/2 share a 12-token
    // run, doc 3 all-unique, doc 4 repeats 4 tokens internally
    val run = (1 to 12).map(i => s"R$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 u4 $run v1 v2 v3 v4"),
      (2L, s"w1 w2 w3 $run x1 x2 x3 x4 x5"),
      (3L, (1 to 10).map(i => s"z$i").mkString(" ")),
      (4L, "y1 y2 y3 y4 y1 y2 y3 y4")).toDF("doc_id", "text")
    val out = Files.createTempDirectory("dup_spectrum_fix").toString
    docs.write.parquet(s"$out/documents.parquet")
    val r = SpanExact.queries("q_dup_spectrum")(spark, out)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // per-position longest-match lengths, worked by hand:
    //   docs 1+2: the run positions count down 12..1 per doc — bands
    //     8:{12..8}=5, 4:{7..4}=4, 2:{3,2}=2, 1:{1}=1 (×2 docs); the
    //     unique pads/tails (4+4 in doc 1, 3+5 in doc 2) are band 0
    //   doc 3: 10 positions at band 0
    //   doc 4: both copies of y1..y4 match the other copy with
    //     lengths 4,3,2,1 → band 4:{4,4}, 2:{3,3,2,2}, 1:{1,1}, 0: none
    assert(r(8L) == 10L, r.toString)                 // 5 × 2 docs
    assert(r(4L) == 4L * 2 + 2L, r.toString)         // docs 1/2 + doc 4
    assert(r(2L) == 2L * 2 + 4L, r.toString)
    assert(r(1L) == 1L * 2 + 2L, r.toString)
    assert(r(0L) == (4 + 4) + (3 + 5) + 10L, r.toString)
    assert(!r.contains(16L) && !r.contains(32L) && !r.contains(64L))
  }

  test("q_ann_graph: expansion candidates are a superset, recall can only improve") {
    val dir = "/root/testdata/sf0.001"
    def recall(q: String) = Similarity.queries(q)(spark, dir)
      .collect().head.getDouble(2)
    val ivf = recall("q_ann_recall")
    val graph = recall("q_ann_graph_recall")
    assert(graph >= ivf,
      s"graph-expanded recall $graph < IVF recall $ivf — superset violated")
    // and on this corpus the hop genuinely helps (not a vacuous tie)
    assert(graph > ivf, s"graph expansion added nothing: $graph == $ivf")
    // the graph top-1 is never WORSE per vector: cos(graph) >= cos(ivf)
    val g = Similarity.queries("q_ann_graph")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val i = Similarity.queries("q_sim_ann")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(i.forall { case (v, c) => g.getOrElse(v, -2.0) >= c },
      "some vector's graph-expanded best neighbor is worse than IVF's")
  }

  test("Scratch honors spark.graft.scratchDir: configured root, build-once, race-safe") {
    // the cluster seam (round-9 advice): with the conf set, shared
    // intermediates land under the CONFIGURED root — the path every
    // executor would read on a real cluster — instead of a
    // driver-local temp dir; unset keeps the local default
    val root = Files.createTempDirectory("graft_scratch_conf").toString
    spark.conf.set(Scratch.ScratchDirConf, root)
    try {
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def call() = Scratch.materialize(spark, "conf_root_probe") {
        builds.incrementAndGet()
        spark.range(5).select(col("id"))
      }
      // 4 racing callers of one never-built key: the per-key lock must
      // serialize the side-effecting build down to exactly one run
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val reads = Await.result(
        Future.sequence((1 to 4).map(_ => Future(call().count()))),
        scala.concurrent.duration.Duration(120, "s"))
      assert(reads.forall(_ == 5L))
      assert(builds.get() == 1, s"build ran ${builds.get()} times")
      // and the parquet physically lives under the configured root
      def dirs() = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory).toSet
      assert(dirs().nonEmpty, s"nothing materialized under $root")
      // Dedup's shared tables go through the same layer: 4 racing first
      // callers add exactly one parquet dir under the configured root
      val sf = "/root/testdata/sf0.001"
      for ((name, table) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "postings" -> (() => Dedup.sharedShinglePostings(spark, sf)),
          "pairs" -> (() => Dedup.sharedJaccardPairs(spark, sf, 0.6)))) {
        val before = dirs()
        val counts = Await.result(
          Future.sequence((1 to 4).map(_ => Future(table().count()))),
          scala.concurrent.duration.Duration(300, "s"))
        assert(counts.distinct.size == 1, s"$name: racing reads differ: $counts")
        val added = dirs() -- before
        assert(added.size == 1, s"$name: ${added.size} new dirs under $root")
        assert(added.head.listFiles().exists(_.getName.endsWith(".parquet")),
          s"$name: no parquet in ${added.head}")
      }
    } finally spark.conf.unset(Scratch.ScratchDirConf)
  }

  test("Scratch memo is root-aware: re-configuring scratchDir rebuilds, not serves stale") {
    // round-9 advice: the memo key must include the resolved root so a
    // mid-session conf change triggers a fresh build under the NEW
    // root instead of silently serving paths from the old one
    val rootA = Files.createTempDirectory("graft_scratch_a").toString
    val rootB = Files.createTempDirectory("graft_scratch_b").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def call() = Scratch.materialize(spark, "root_aware_probe") {
      builds.incrementAndGet()
      spark.range(3).select(col("id"))
    }
    try {
      spark.conf.set(Scratch.ScratchDirConf, rootA)
      assert(call().count() == 3L && builds.get() == 1)
      spark.conf.set(Scratch.ScratchDirConf, rootB)
      assert(call().count() == 3L)
      assert(builds.get() == 2, "conf change must rebuild under the new root")
      assert(Option(new java.io.File(rootB).listFiles())
        .exists(_.nonEmpty), s"nothing materialized under $rootB")
      // switching BACK serves the first build (memoized per root)
      spark.conf.set(Scratch.ScratchDirConf, rootA)
      assert(call().count() == 3L && builds.get() == 2)
    } finally spark.conf.unset(Scratch.ScratchDirConf)
  }
}
