package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import TextFns._

/** Corpus-governance statistics: sketch-space cardinalities, the
  * weighted sample a release ships for human review, and the
  * noise-layer census a privacy review asks for. Three operator
  * families a 100 TB corpus needs because the EXACT forms stop being
  * runnable (a corpus-pair distinct-overlap is a full co-shuffle of
  * two token streams; a weighted sample-without-replacement naively
  * sorts the corpus; per-partner count releases need a noise layer):
  *
  *  - '''KMV/theta sketches''' ([[graft.functions.KmvMinK]], Bar-Yossef
  *    et al. RANDOM'02; the DataSketches theta family in production):
  *    per-source distinct-shingle cardinalities and cross-partition
  *    set-operation estimates (union / intersection / Jaccard) from
  *    k-minimum-value sketches — O(k) state per source, map-side
  *    combinable, and two corpora can be compared WITHOUT co-shuffling
  *    their content: only the sketches (k longs each) meet. Estimates
  *    ride the deterministic h60, so both engines compute identical
  *    sketches and the driver gate is hash-exact; the exact counts are
  *    computed alongside as the error audit (the q_minhash_error
  *    discipline: the sketch and its truth in one table).
  *
  *  - '''Priority sampling''' (Duffield–Lund–Thorup, JACM'07): the
  *    top-M weighted sample with the threshold τ and per-item
  *    Horvitz–Thompson weights max(w, τ) — subset-sum estimates from
  *    M rows with provably near-optimal variance. Priorities are
  *    INTEGER-exact: p = (w·10¹²) div u with u the seeded-hash ppm
  *    draw, so the engines cannot disagree on a boundary (no pow/log
  *    in the keys; the plan is one map + TakeOrdered(M+1), never a
  *    global sort).
  *
  *  - '''Geometric-mechanism release counts''' (Ghosh–Roughgarden–
  *    Sundararajan STOC'09 — the universally optimal ε-DP mechanism
  *    for counts): per-source counts released through two-sided
  *    geometric noise at α = 1/2 (ε = ln 2), truncated at ±[[DpB]]
  *    with the tail mass folded into the extremes. α = 1/2 makes every
  *    probability an exact dyadic rational, so the inverse-CDF is a
  *    41-arm integer CASE both engines generate from the SAME Scala
  *    constants — no floating-point CDF to drift. The noise draw here
  *    is the seeded h60 (what makes the operator testable and the
  *    release reproducible); a production release swaps the coin for
  *    a real RNG — determinism is the harness property, privacy comes
  *    from the mechanism shape, and this census (true beside noised)
  *    is the pre-release audit view, not the published artifact.
  */
object Govern {
  type Q = (SparkSession, String) => DataFrame

  /** KMV sketch size: relative error ≈ 1/√(k−2) ≈ 6.3% at 256. */
  val ThetaK = 256

  /** 2^60 — the h60 hash range; KMV density estimates are
    * (k−1)·2^60 / h_k. Exactly representable as a Double (and as a
    * product with k−1 ≤ 255: 68 significant bits? no — 255·2^60 has 8
    * significant bits), so both engines' doubles agree bit-for-bit.
    */
  val Pow2_60: Long = 1L << 60

  /** Priority-sample size M (the release ships M rows + τ). */
  val PriorityM = 100

  /** Integer priority scale: p = (w·Scale) div u, u ∈ [1, 10⁶].
    * w = n_chars ≤ ~10³ in the testdata, so w·Scale ≤ ~10¹⁵ < 2⁶³;
    * at real doc sizes the scale drops a digit per weight digit.
    */
  val PriorityScale = 1000000000000L

  /** Geometric-mechanism truncation: noise z ∈ [−DpB, DpB], tail mass
    * beyond folded into the extremes (< 2^−19 per side at α = 1/2).
    */
  val DpB = 20

  /** Exact dyadic masses at α = 1/2, scaled by 3·2^DpB: z = 0 has
    * 2^DpB, |z| = j has 2^(DpB−j), the ±DpB extremes absorb the tail
    * (mass 2 each). Σ = 3·2^DpB exactly.
    */
  private val dpMasses: Seq[(Int, Long)] =
    (-DpB to DpB).map { z =>
      val m = if (math.abs(z) == DpB) 2L else 1L << (DpB - math.abs(z))
      (z, m)
    }

  /** 3·2^DpB — the draw modulus. */
  val DpScale: Long = dpMasses.map(_._2).sum

  /** The inverse-CDF as a SQL CASE over a uniform draw `v` ∈
    * [0, [[DpScale]]) — ONE generated fragment used verbatim by both
    * engines (the sqlLangCase discipline), so the noise mapping cannot
    * drift.
    */
  def dpNoiseCase(v: String): String = {
    val cum = dpMasses.scanLeft((0, 0L)) { case ((_, c), (z, m)) => (z, c + m) }
      .drop(1)
    cum.init.map { case (z, c) => s"WHEN $v < $c THEN $z" }
      .mkString("CAST(CASE ", " ", s" ELSE $DpB END AS BIGINT)")
  }

  /** (k−1)·2^60 as an exact Double — 255·2^60 has 8 significant bits,
    * far inside the 53-bit mantissa, so `lit` here equals the oracle's
    * `255 * 1152921504606846976.0` bit-for-bit.
    */
  private val KmvNum: Double = (ThetaK - 1).toDouble * Pow2_60.toDouble

  /** Distinct-shingle stream labeled by source: the shared postings
    * (already distinct per doc) joined to the source column — the
    * input every sketch below reads. No distinct on (source, h): the
    * KMV buffer dedups in-sketch, so the posting stream flows straight
    * into map-side partials.
    */
  private def sourceShingles(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedShinglePostings(s, dir)
      .join(Tables(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("doc_id"))

  /** THE per-source governance sketch artifact: (source, mins,
    * exact_distinct), session-materialized (the Scratch discipline) —
    * one postings pass builds it, and every sketch leg of the family
    * CONSUMES it by KMV merge instead of re-aggregating the stream:
    * q_theta_sketch reads it verbatim, q_theta_setops merges the
    * member sources per half (min-k of a union IS the min-k of the
    * per-source min-k sets — each global top-k value is inside its
    * own source's top-k — so the merged sketch is bit-identical to
    * the one-pass aggregate and the oracles don't move), and
    * q_theta_matrix takes its per-source sketches directly. This is
    * the mergeable-state property the release store ships:
    * [[graft.streaming.Streams.releaseStage]] persists v1's copy
    * (`v1_theta`) beside the band artifacts, and StreamingSpec proves
    * store-merge ≡ full recompute. The exact column rides along as
    * the one-pass audit (it does NOT merge — distinct counts aren't
    * additive — which is precisely why the sketch exists).
    */
  private[graft] def sharedThetaSketches(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"theta_sketch|$dir") {
      sourceShingles(s, dir)
        .groupBy(col("source"))
        .agg(call_function("kmv_min_k", col("h"), lit(ThetaK)).as("mins"),
          countDistinct(col("h")).as("exact_distinct"))
    }

  private[ops] def estFromMins(mins: org.apache.spark.sql.Column) =
    when(size(mins) < ThetaK, size(mins).cast("double"))
      .otherwise(lit(KmvNum) / element_at(mins, ThetaK).cast("double"))

  /** The sketch census projection — (source, mins, exact_distinct) →
    * the q_theta_sketch output columns. ONE definition shared by the
    * batch query and the streaming twin's drain census, so the two
    * paths cannot drift and the twin shares the batch oracle verbatim.
    */
  def thetaCensus(skExact: DataFrame): DataFrame =
    skExact
      .select(col("source"),
        size(col("mins")).as("n_kept"),
        when(size(col("mins")) >= ThetaK, element_at(col("mins"), ThetaK))
          .as("theta"),
        round(estFromMins(col("mins")), 4).as("est_distinct"),
        col("exact_distinct"))
      .withColumn("err_pct",
        round(abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct") * 100, 4))

  /** The q_theta_delta census projection — (source, mins_v1) ⊕
    * (source, mins_full) ⊕ the two exact-audit legs → the output
    * columns, base = the MERGED sketch so a source with no v1 half
    * surfaces with est_v1 = 0 instead of dropping. ONE definition
    * shared by the batch query and the streaming twin's drain census
    * (the [[thetaCensus]] discipline), so the two paths cannot drift
    * and the twin shares the batch oracle verbatim.
    */
  def thetaDeltaCensus(skV1: DataFrame, merged: DataFrame,
      exactV1: DataFrame, exactNew: DataFrame): DataFrame = {
    val noMins = array().cast("array<bigint>")
    merged.join(skV1, Seq("source"), "left")
      .select(col("source"),
        round(estFromMins(coalesce(col("mins_v1"), noMins)), 4)
          .as("est_v1"),
        round(estFromMins(col("mins_full")), 4).as("est_full"),
        round(estFromMins(col("mins_full")) -
          estFromMins(coalesce(col("mins_v1"), noMins)), 4)
          .as("est_new"))
      .join(exactV1, Seq("source"), "left")
      .join(exactNew, Seq("source"), "left")
      .select(col("source"), col("est_v1"), col("est_full"),
        col("est_new"),
        coalesce(col("exact_v1"), lit(0L)).as("exact_v1"),
        coalesce(col("exact_new"), lit(0L)).as("exact_new"))
      .orderBy(col("source"))
  }

  val queries: Map[String, Q] = Map(
    // Per-source distinct-shingle cardinality from the KMV sketch,
    // with the exact count and error beside it (the sketch audit
    // table). Plan shape: postings ⋈ source (co-keyed), then ONE
    // aggregate carrying O(k) sketch state per source with map-side
    // combine — at 100 TB the exact column is the expensive one (it
    // shuffles distinct hashes); the sketch column alone never moves
    // more than k longs per source per partition. The aggregate is
    // the session-materialized [[sharedThetaSketches]] artifact, read
    // here and merged by the other family members.
    "q_theta_sketch" -> ((s, dir) =>
      thetaCensus(sharedThetaSketches(s, dir)).orderBy(col("source"))),

    // EXECUTES on the streaming engine: the per-source cardinality
    // monitor at ingest — per-micro-batch KMV partials merged at drain
    // (associative, batch-order-free), census via the SAME
    // [[thetaCensus]] projection, graded by q_theta_sketch's oracle
    // verbatim. See [[graft.streaming.Streams.thetaIngest]].
    "q_stream_theta" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_theta")
      graft.streaming.Streams.thetaIngest(s, dir, work)
    }),

    // Sketch-space SET OPERATIONS between two corpus halves (even vs
    // odd source id): union/intersection/Jaccard estimated from three
    // k-long sketches — the cross-corpus overlap question ("how much
    // of crawl B is already in crawl A?") answered WITHOUT co-shuffling
    // the corpora. θ = min of the two sketch thresholds; intersection
    // counts shared sketch values below θ (every union-sketch value is
    // below BOTH thresholds by construction, so membership tests
    // against the per-half sketches are exact). Exact counts ride
    // along as the audit. All arrays are ≤ k longs: the combine step
    // is three broadcast 1-row joins.
    "q_theta_setops" -> ((s, dir) => {
      // Half-split on the numeric tail of the `srcN` source-id
      // convention. UNBOUNDED substring on BOTH engines (oracle:
      // substr(source, 4)) — a length-capped form here would silently
      // diverge from the oracle on source ids longer than 11 chars.
      val dh = sourceShingles(s, dir)
        .select((expr("cast(substring(source, 4) as int)") % 2).as("grp"),
          col("h"))
      // sketch legs come from MERGING the per-source artifact (k longs
      // per source meet — never the postings; the cross-corpus
      // comparison the sketch exists for), bit-identical to the
      // one-pass aggregate; the exact audits still scan the stream —
      // distinct counts don't merge, which is the point of the table
      val grpSk = sharedThetaSketches(s, dir)
        .select((expr("cast(substring(source, 4) as int)") % 2).as("grp"),
          explode(col("mins")).as("h"))
        .groupBy(col("grp"))
        .agg(call_function("kmv_min_k", col("h"), lit(ThetaK)).as("mins"))
      val byGrp = grpSk.join(
        dh.groupBy(col("grp")).agg(countDistinct(col("h")).as("exact")),
        Seq("grp")).cache()
      val a = byGrp.where(col("grp") === 0)
        .select(col("mins").as("mins_a"), col("exact").as("exact_a"))
      val b = byGrp.where(col("grp") === 1)
        .select(col("mins").as("mins_b"), col("exact").as("exact_b"))
      val u = sharedThetaSketches(s, dir)
        .select(explode(col("mins")).as("h"))
        .agg(call_function("kmv_min_k", col("h"), lit(ThetaK)).as("mins_u"))
        .crossJoin(dh.agg(countDistinct(col("h")).as("exact_union")))
      val ei = dh.groupBy(col("h"))
        .agg(countDistinct(col("grp")).as("ng"))
        .agg(sum(when(col("ng") === 2, 1L).otherwise(0L)).as("exact_inter"))
      val thetaOf = (mins: org.apache.spark.sql.Column) =>
        when(size(mins) >= ThetaK, element_at(mins, ThetaK))
          .otherwise(lit(Pow2_60))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(u))
        .crossJoin(broadcast(ei))
        .withColumn("theta",
          least(thetaOf(col("mins_a")), thetaOf(col("mins_b"))))
        .withColumn("i_cnt", size(array_intersect(
          filter(col("mins_a"), x => x < col("theta")),
          filter(col("mins_b"), x => x < col("theta")))))
        .withColumn("j_num", size(array_intersect(
          array_intersect(col("mins_u"), col("mins_a")), col("mins_b"))))
        .select(lit(ThetaK).as("k"),
          round(estFromMins(col("mins_a")), 4).as("est_a"),
          round(estFromMins(col("mins_b")), 4).as("est_b"),
          round(estFromMins(col("mins_u")), 4).as("est_union"),
          round(col("i_cnt").cast("double") * lit(Pow2_60.toDouble) /
            col("theta").cast("double"), 4).as("est_inter"),
          round(col("j_num").cast("double") /
            size(col("mins_u")).cast("double"), 6).as("est_jaccard"),
          col("exact_a"), col("exact_b"), col("exact_union"),
          col("exact_inter"))
    }),

    // The cross-source duplication MATRIX: bottom-k Jaccard estimates
    // for ALL source pairs from the per-source sketches, with the
    // exact values as the audit — the census that decides dedup
    // priorities across crawl dumps. At 100 TB the estimate side
    // touches only |sources| sketches of k longs (the pair table is
    // |sources|²/2 rows of array math, driver-scale); the exact side
    // is the inverted self-join the sketch exists to avoid, carried
    // here as the harness truth. Per pair the union sketch is the k
    // smallest of the two sketch sets (array_union → sort → slice) and
    // J = |{x ∈ U : x ∈ A ∧ x ∈ B}| / |U| — every U value is below
    // both thetas, so the membership tests are exact.
    "q_theta_matrix" -> ((s, dir) => {
      val dh = sourceShingles(s, dir)
        .select(col("source"), col("h")).distinct().cache()
      // per-source sketches straight from the materialized artifact;
      // dh stays for the exact-audit legs only
      val sk = sharedThetaSketches(s, dir).select(col("source"), col("mins"))
      val est = sk.select(col("source").as("src_a"), col("mins").as("ma"))
        .crossJoin(broadcast(
          sk.select(col("source").as("src_b"), col("mins").as("mb"))))
        .where(col("src_a") < col("src_b"))
        .withColumn("u", slice(array_sort(array_union(col("ma"), col("mb"))),
          1, ThetaK))
        .select(col("src_a"), col("src_b"),
          round(size(array_intersect(array_intersect(col("u"), col("ma")),
              col("mb"))).cast("double") / size(col("u")).cast("double"), 6)
            .as("est_jaccard"))
      val sz = dh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val ei = dh.select(col("source").as("src_a"), col("h"))
        .join(dh.select(col("source").as("src_b"), col("h")), Seq("h"))
        .where(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("i"))
      val exact = ei
        .join(sz.select(col("source").as("src_a"), col("n").as("na")),
          Seq("src_a"))
        .join(sz.select(col("source").as("src_b"), col("n").as("nb")),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"),
          round(col("i").cast("double") / (col("na") + col("nb") - col("i")),
            6).as("exact_jaccard"))
      est.join(exact, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("est_jaccard"),
          coalesce(col("exact_jaccard"), lit(0.0)).as("exact_jaccard"))
        .withColumn("err_abs",
          round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // The CROSS-RELEASE governance delta: how many NEW distinct
    // shingles does the arriving release add per source — answered
    // SKETCH-ONLY from mergeable KMV state (v1's staged sketch ⊕ a
    // fresh sketch of the arrivals, re-aggregating k minima per
    // source; est_new = est(merged) − est(v1)), the question a crawl
    // pipeline asks before paying for a release ("is dump N+1 mostly
    // dump N?"). The same doc_id % 4 release split releaseStage
    // stages, so the staged `v1_theta` artifact IS this query's v1
    // leg. The exact columns are the anti-join audit — the co-shuffle
    // of (source, h) postings the sketch exists to avoid, carried as
    // the harness truth.
    "q_theta_delta" -> ((s, dir) => {
      val posts = sourceShingles(s, dir)
      val v1 = posts.where(col("doc_id") % 4 =!= 0)
      val nb = posts.where(col("doc_id") % 4 === 0)
      val skV1 = v1.groupBy(col("source"))
        .agg(call_function("kmv_min_k", col("h"), lit(ThetaK))
          .as("mins_v1"))
      val skNb = nb.groupBy(col("source"))
        .agg(call_function("kmv_min_k", col("h"), lit(ThetaK))
          .as("mins_b"))
      val merged = skV1.select(col("source"), explode(col("mins_v1")).as("h"))
        .unionByName(
          skNb.select(col("source"), explode(col("mins_b")).as("h")))
        .groupBy(col("source"))
        .agg(call_function("kmv_min_k", col("h"), lit(ThetaK))
          .as("mins_full"))
      val exV1 = v1.select(col("source"), col("h")).distinct()
      val exactV1 = exV1.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_v1"))
      val exactNew = nb.select(col("source"), col("h")).distinct()
        .join(exV1, Seq("source", "h"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("exact_new"))
      thetaDeltaCensus(skV1, merged, exactV1, exactNew)
    }),

    // EXECUTES on the streaming engine: the cross-release novelty
    // monitor at ingest — v1's sketch + postings stores stage ONCE
    // (the v1_theta release-artifact discipline), each arriving
    // micro-batch writes its own per-bid sketch partial, and the
    // drain merges v1_theta ⊕ arrival partials per source (k longs
    // each — v1 is never rescanned per trigger). Census via the SAME
    // [[thetaDeltaCensus]] projection, graded by q_theta_delta's
    // oracle verbatim. See [[graft.streaming.Streams.thetaDeltaIngest]].
    "q_stream_theta_delta" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_theta_delta")
      graft.streaming.Streams.thetaDeltaIngest(s, dir, work)
    }),

    // The top-M priority sample: keep the M largest integer priorities
    // p = (w·10¹²) div u; τ = the (M+1)-th. Every item's
    // Horvitz–Thompson weight is max(w, τ/10⁶) — Σ over any subset of
    // the sample estimates that subset's true Σw. Plan: one map over
    // the corpus then TakeOrderedAndProject(M+1) — the sample never
    // sorts more than M+1 rows globally. The HT weight ships in
    // MICRO-units as a BIGINT (τ already is one: p = w·10¹²/u with
    // u ≤ 10⁶, so τ's unit is 10⁻⁶·w): max(w, τ/10⁶) =
    // greatest(w·10⁶, τ)/10⁶ with no double anywhere — the r10
    // q_priority_estimate red row was a boundary double converting to
    // DECIMAL differently across DuckDB builds, so the whole family is
    // integer-exact end to end now (the graft.util.Exact discipline).
    "q_priority_sample" -> ((s, dir) => {
      val top = prioritized(s, dir)
        .orderBy(col("p").desc, col("doc_id")).limit(PriorityM + 1).cache()
      val tau = top.agg(count(lit(1)).as("n"), min(col("p")).as("pmin"))
        .select(when(col("n") === PriorityM + 1, col("pmin"))
          .otherwise(lit(0L)).as("tau"))
      top.orderBy(col("p").desc, col("doc_id")).limit(PriorityM)
        .crossJoin(broadcast(tau))
        .select(col("doc_id"), col("w"), col("p"),
          greatest(col("w") * lit(1000000L), col("tau")).as("ht_w_micro"))
        .orderBy(col("doc_id"))
    }),

    // The estimator audit: Σ of the sample's HT weights vs the exact
    // corpus Σw, one row. Everything is BIGINT micro-units: the Σ of
    // ≤ M exact longs, the corpus Σw scaled by 10⁶, and the relative
    // error as integer parts-per-million via `div` — partial-sum order
    // and engine FP rounding cannot move a single bit.
    "q_priority_estimate" -> ((s, dir) => {
      val top = prioritized(s, dir)
        .orderBy(col("p").desc, col("doc_id")).limit(PriorityM + 1).cache()
      val tau = top.agg(count(lit(1)).as("n"), min(col("p")).as("pmin"))
        .select(when(col("n") === PriorityM + 1, col("pmin"))
          .otherwise(lit(0L)).as("tau"))
      val est = top.orderBy(col("p").desc, col("doc_id")).limit(PriorityM)
        .crossJoin(broadcast(tau))
        .select(col("tau"),
          greatest(col("w") * lit(1000000L), col("tau")).as("ht_w_micro"))
        .groupBy(col("tau")).agg(sum(col("ht_w_micro")).as("est_total_micro"))
      val exact = Tables(s, dir, "documents")
        .agg(sum(col("n_chars")).as("exact_total"))
      // the ×10⁶ rescale runs in DECIMAL(38,0): a BIGINT multiply
      // silently wraps in Spark (non-ANSI) once Σ n_chars passes
      // ~9.2e12 while DuckDB errors loudly — the engines would
      // diverge exactly at the corpus sizes this family is for
      est.crossJoin(broadcast(exact))
        .select(lit(PriorityM).as("m"),
          col("tau").as("tau_w_micro"),
          col("est_total_micro"), col("exact_total"),
          expr("abs(cast(est_total_micro as decimal(38,0)) - " +
            "cast(exact_total as decimal(38,0)) * 1000000) " +
            "div exact_total").as("err_ppm"))
    }),

    // Per-source counts through the truncated geometric mechanism —
    // the noise-layer census a release's privacy review reads (true
    // count, drawn noise, released count; negatives clamp to 0, the
    // standard post-processing). One aggregate + one map; the CASE is
    // the generated [[dpNoiseCase]] both engines share.
    "q_dp_release" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("true_count"))
        .withColumn("v",
          pmod(h60(concat(lit("dp:"), col("source"))), lit(DpScale)))
        .withColumn("noise", expr(dpNoiseCase("v")))
        .select(col("source"), col("true_count"), col("noise"),
          greatest(col("true_count") + col("noise"), lit(0L)).as("dp_count"))
        .orderBy(col("source"))))

  /** (doc_id, w, p): the integer priority map — w = n_chars, u = the
    * seeded-hash ppm draw in [1, 10⁶], p = (w·10¹²) div u. Integer
    * division (`div`) in both engines: no FP boundary anywhere in the
    * ordering key.
    */
  private def prioritized(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        (pmod(h60(concat(lit("prio:"), col("doc_id").cast("string"))),
          lit(1000000L)) + 1L).as("u"))
      .withColumn("p", expr(s"(w * $PriorityScale) div u"))
      .drop("u")

  // ---- DuckDB oracles ----

  /** Shared oracle fragment: distinct shingle hashes labeled by
    * source — `bys` (source, h).
    */
  private def sqlSourceShingles: String =
    s"""${sqlShingleCtes("documents")},
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |bys AS (SELECT d.source, h FROM shh JOIN documents d USING (doc_id))""".stripMargin

  private val sqlKmvNum = s"${ThetaK - 1} * ${Pow2_60}.0"

  val oracles: Map[String, String] = Map(
    // the streaming twin's drained census equals the batch sketch
    // (associative KMV merge) — graded by the identical replay
    "q_stream_theta" -> thetaSketchOracle,
    "q_theta_sketch" -> thetaSketchOracle,
    "q_theta_matrix" ->
      s"""WITH $sqlSourceShingles,
         |dh AS (SELECT DISTINCT source, h FROM bys),
         |rk AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM dh),
         |sk AS (SELECT source, h FROM rk WHERE rn <= $ThetaK),
         |prs AS (SELECT x.source AS sa, y.source AS sb
         |  FROM (SELECT DISTINCT source FROM dh) x
         |  JOIN (SELECT DISTINCT source FROM dh) y ON x.source < y.source),
         |uk AS (SELECT sa, sb, h,
         |    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT p.sa, p.sb, s.h
         |    FROM prs p JOIN sk s ON s.source IN (p.sa, p.sb)) q),
         |un AS (SELECT sa, sb, h FROM uk WHERE rn <= $ThetaK),
         |ucnt AS (SELECT sa, sb, count(*) AS nu FROM un GROUP BY 1, 2),
         |jn AS (SELECT un.sa, un.sb, count(*) AS c
         |  FROM un JOIN sk a ON a.source = un.sa AND a.h = un.h
         |    JOIN sk b ON b.source = un.sb AND b.h = un.h
         |  GROUP BY 1, 2),
         |sz AS (SELECT source, count(*) AS n FROM dh GROUP BY source),
         |ei AS (SELECT a.source AS sa, b.source AS sb, count(*) AS i
         |  FROM dh a JOIN dh b USING (h) WHERE a.source < b.source
         |  GROUP BY 1, 2),
         |ex AS (SELECT ei.sa, ei.sb,
         |    round(CAST(ei.i AS DOUBLE) / (za.n + zb.n - ei.i), 6) AS ej
         |  FROM ei JOIN sz za ON za.source = ei.sa
         |    JOIN sz zb ON zb.source = ei.sb)
         |SELECT p.sa AS src_a, p.sb AS src_b,
         |  round(CAST(coalesce(jn.c, 0) AS DOUBLE) / ucnt.nu, 6)
         |    AS est_jaccard,
         |  coalesce(ex.ej, 0.0) AS exact_jaccard,
         |  round(abs(round(CAST(coalesce(jn.c, 0) AS DOUBLE) / ucnt.nu, 6) -
         |    coalesce(ex.ej, 0.0)), 6) AS err_abs
         |FROM prs p
         |JOIN ucnt ON ucnt.sa = p.sa AND ucnt.sb = p.sb
         |LEFT JOIN jn ON jn.sa = p.sa AND jn.sb = p.sb
         |LEFT JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb
         |ORDER BY src_a, src_b""".stripMargin,
    "q_theta_setops" ->
      s"""WITH $sqlSourceShingles,
         |dh AS (SELECT DISTINCT (CAST(substr(source, 4) AS INT) % 2) AS grp, h
         |  FROM bys),
         |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
         |  FROM dh WHERE grp = 0),
         |rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
         |  FROM dh WHERE grp = 1),
         |ru AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT h FROM dh) uu),
         |ka AS (SELECT count(*) AS n,
         |    coalesce(max(CASE WHEN rn = $ThetaK THEN h END), ${Pow2_60}) AS th
         |  FROM ra WHERE rn <= $ThetaK),
         |kb AS (SELECT count(*) AS n,
         |    coalesce(max(CASE WHEN rn = $ThetaK THEN h END), ${Pow2_60}) AS th
         |  FROM rb WHERE rn <= $ThetaK),
         |ku AS (SELECT count(*) AS n,
         |    max(CASE WHEN rn = $ThetaK THEN h END) AS th
         |  FROM ru WHERE rn <= $ThetaK),
         |th AS (SELECT least(ka.th, kb.th) AS t FROM ka, kb),
         |icnt AS (SELECT count(*) AS c
         |  FROM ra JOIN rb USING (h), th
         |  WHERE ra.rn <= $ThetaK AND rb.rn <= $ThetaK AND h < t),
         |jn AS (SELECT count(*) AS c
         |  FROM ru JOIN ra USING (h) JOIN rb USING (h)
         |  WHERE ru.rn <= $ThetaK AND ra.rn <= $ThetaK AND rb.rn <= $ThetaK),
         |ex AS (SELECT
         |    count(DISTINCT CASE WHEN grp = 0 THEN h END) AS ea,
         |    count(DISTINCT CASE WHEN grp = 1 THEN h END) AS eb,
         |    count(DISTINCT h) AS eu
         |  FROM dh),
         |ei AS (SELECT count(*) AS c FROM
         |  (SELECT h FROM dh GROUP BY h HAVING count(DISTINCT grp) = 2) q)
         |SELECT $ThetaK AS k,
         |  round(CASE WHEN ka.n < $ThetaK THEN CAST(ka.n AS DOUBLE)
         |    ELSE $sqlKmvNum / ka.th END, 4) AS est_a,
         |  round(CASE WHEN kb.n < $ThetaK THEN CAST(kb.n AS DOUBLE)
         |    ELSE $sqlKmvNum / kb.th END, 4) AS est_b,
         |  round(CASE WHEN ku.n < $ThetaK THEN CAST(ku.n AS DOUBLE)
         |    ELSE $sqlKmvNum / ku.th END, 4) AS est_union,
         |  round(icnt.c * ${Pow2_60}.0 / th.t, 4) AS est_inter,
         |  round(CAST(jn.c AS DOUBLE) / ku.n, 6) AS est_jaccard,
         |  ex.ea AS exact_a, ex.eb AS exact_b, ex.eu AS exact_union,
         |  ei.c AS exact_inter
         |FROM ka, kb, ku, th, icnt, jn, ex, ei""".stripMargin,
    // the identical split + KMV replay: per-half row_number sketches,
    // merged = re-rank of the union of kept minima (the KMV merge
    // law); the streaming twin's drained merge is associative, so ONE
    // SQL grades both paths (the thetaSketchOracle discipline)
    "q_theta_delta" -> thetaDeltaOracle,
    "q_stream_theta_delta" -> thetaDeltaOracle,
    "q_priority_sample" ->
      s"""WITH $sqlPrioritized,
         |rk AS (SELECT doc_id, w, p,
         |    row_number() OVER (ORDER BY p DESC, doc_id) AS rn
         |  FROM pr),
         |tau AS (SELECT coalesce(max(CASE WHEN rn = ${PriorityM + 1} THEN p END),
         |    CAST(0 AS BIGINT)) AS tau
         |  FROM rk)
         |SELECT doc_id, w, p,
         |  greatest(CAST(w AS BIGINT) * 1000000, tau) AS ht_w_micro
         |FROM rk, tau WHERE rn <= $PriorityM ORDER BY doc_id""".stripMargin,
    "q_priority_estimate" ->
      s"""WITH $sqlPrioritized,
         |rk AS (SELECT doc_id, w, p,
         |    row_number() OVER (ORDER BY p DESC, doc_id) AS rn
         |  FROM pr),
         |tau AS (SELECT coalesce(max(CASE WHEN rn = ${PriorityM + 1} THEN p END),
         |    CAST(0 AS BIGINT)) AS tau
         |  FROM rk),
         |est AS (SELECT CAST(sum(greatest(CAST(w AS BIGINT) * 1000000, tau))
         |      AS BIGINT) AS est_total_micro
         |  FROM rk, tau WHERE rn <= $PriorityM),
         |ex AS (SELECT CAST(sum(n_chars) AS BIGINT) AS exact_total
         |  FROM documents)
         |SELECT $PriorityM AS m,
         |  tau AS tau_w_micro,
         |  est_total_micro, exact_total,
         |  CAST(abs(CAST(est_total_micro AS HUGEINT) -
         |    CAST(exact_total AS HUGEINT) * 1000000) // exact_total
         |    AS BIGINT) AS err_ppm
         |FROM est, tau, ex""".stripMargin,
    "q_dp_release" ->
      s"""WITH c AS (SELECT source, count(*) AS true_count
         |  FROM documents GROUP BY source),
         |cv AS (SELECT source, true_count,
         |    ${sqlH60("'dp:' || source")} % $DpScale AS v
         |  FROM c),
         |n AS (SELECT source, true_count, ${dpNoiseCase("v")} AS noise
         |  FROM cv)
         |SELECT source, true_count, noise,
         |  greatest(true_count + noise, 0) AS dp_count
         |FROM n ORDER BY source""".stripMargin)

  /** The sketch-census replay — row_number over distinct hashes IS the
    * KMV, so one SQL grades both the batch query and the drained twin.
    */
  private def thetaSketchOracle: String =
    s"""WITH $sqlSourceShingles,
       |dh AS (SELECT DISTINCT source, h FROM bys),
       |rk AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM dh),
       |agg AS (SELECT source,
       |    CAST(count(*) FILTER (WHERE rn <= $ThetaK) AS INT) AS n_kept,
       |    max(CASE WHEN rn = $ThetaK THEN h END) AS theta,
       |    count(*) AS exact_distinct
       |  FROM rk GROUP BY source),
       |est AS (SELECT source, n_kept, theta,
       |    round(CASE WHEN n_kept < $ThetaK THEN CAST(n_kept AS DOUBLE)
       |      ELSE $sqlKmvNum / theta END, 4) AS est_distinct,
       |    exact_distinct
       |  FROM agg)
       |SELECT source, n_kept, theta, est_distinct, exact_distinct,
       |  round(abs(est_distinct - exact_distinct) / exact_distinct * 100, 4)
       |    AS err_pct
       |FROM est ORDER BY source""".stripMargin

  /** The cross-release delta replay — the identical doc_id % 4 split,
    * per-half row_number sketches, merged = re-rank of the union of
    * kept minima (the KMV merge law). The streaming twin's drained
    * merge is associative, so this ONE SQL grades both the batch
    * query and q_stream_theta_delta.
    */
  private def thetaDeltaOracle: String =
    s"""WITH ${sqlShingleCtes("documents")},
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |byd AS (SELECT d.source, d.doc_id, h
       |  FROM shh JOIN documents d USING (doc_id)),
       |v1 AS (SELECT DISTINCT source, h FROM byd WHERE doc_id % 4 <> 0),
       |nb AS (SELECT DISTINCT source, h FROM byd WHERE doc_id % 4 = 0),
       |rv AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM v1),
       |rb AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM nb),
       |skv AS (SELECT source,
       |    CAST(count(*) FILTER (WHERE rn <= $ThetaK) AS INT) AS nk,
       |    max(CASE WHEN rn = $ThetaK THEN h END) AS theta
       |  FROM rv GROUP BY source),
       |mu AS (SELECT DISTINCT source, h FROM (
       |  SELECT source, h FROM rv WHERE rn <= $ThetaK
       |  UNION ALL SELECT source, h FROM rb WHERE rn <= $ThetaK)),
       |rm AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM mu),
       |skm AS (SELECT source,
       |    CAST(count(*) FILTER (WHERE rn <= $ThetaK) AS INT) AS nk,
       |    max(CASE WHEN rn = $ThetaK THEN h END) AS theta
       |  FROM rm GROUP BY source),
       |ev1 AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_v1
       |  FROM v1 GROUP BY source),
       |en AS (SELECT nb.source, CAST(count(*) AS BIGINT) AS exact_new
       |  FROM nb LEFT JOIN v1 ON v1.source = nb.source AND v1.h = nb.h
       |  WHERE v1.h IS NULL GROUP BY nb.source)
       |SELECT skm.source,
       |  round(CASE WHEN skv.source IS NULL THEN 0.0
       |    WHEN skv.nk < $ThetaK THEN CAST(skv.nk AS DOUBLE)
       |    ELSE $sqlKmvNum / skv.theta END, 4) AS est_v1,
       |  round(CASE WHEN skm.nk < $ThetaK THEN CAST(skm.nk AS DOUBLE)
       |    ELSE $sqlKmvNum / skm.theta END, 4) AS est_full,
       |  round((CASE WHEN skm.nk < $ThetaK THEN CAST(skm.nk AS DOUBLE)
       |      ELSE $sqlKmvNum / skm.theta END) -
       |    (CASE WHEN skv.source IS NULL THEN 0.0
       |      WHEN skv.nk < $ThetaK THEN CAST(skv.nk AS DOUBLE)
       |      ELSE $sqlKmvNum / skv.theta END), 4) AS est_new,
       |  coalesce(ev1.exact_v1, CAST(0 AS BIGINT)) AS exact_v1,
       |  coalesce(en.exact_new, CAST(0 AS BIGINT)) AS exact_new
       |FROM skm LEFT JOIN skv ON skv.source = skm.source
       |LEFT JOIN ev1 ON ev1.source = skm.source
       |LEFT JOIN en ON en.source = skm.source
       |ORDER BY skm.source""".stripMargin

  /** Oracle twin of [[prioritized]]. */
  private def sqlPrioritized: String =
    s"""pr AS (SELECT doc_id, n_chars AS w,
       |    (n_chars * $PriorityScale) //
       |      (${sqlH60("'prio:' || CAST(doc_id AS VARCHAR)")} % 1000000 + 1)
       |      AS p
       |  FROM documents)""".stripMargin
}
