package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import TextFns._

/** EXACT repeated-substring dedup — the Lee et al. (arXiv:2107.06499,
  * "Deduplicating Training Data Makes Language Models Better")
  * suffix-array standard that the fixed-W window scans
  * (q_span_dedup / q_span_dedup_multi) approximate: for every token
  * position, the length of the LONGEST span starting there that also
  * occurs verbatim anywhere else in the corpus (another doc or
  * another offset of the same doc; matches never cross doc
  * boundaries, the paper's separator convention).
  *
  * Algorithm — built from primitives that distribute:
  *
  *  1. '''Prefix-doubling suffix ranks''' ([[SaRounds]] bounded
  *     rounds, the BPE-loop discipline): r_0 = h60(token); round k
  *     relabels the pair (r_k(pos), r_k(pos + 2^k), −1 past doc end)
  *     to a dense rank, so r_k equality ⟺ the padded 2^k-token
  *     windows are equal. After 2^K ≥ max doc length, equal final
  *     ranks ⟺ identical suffixes (including length). The per-round
  *     relabel is a distributed two-pass range-sort rank
  *     ([[denseRankPair]]) — never a global window.
  *  2. '''Rank-group adjacency''': all suffixes of one final rank are
  *     IDENTICAL, so the classical "max LCP is with an adjacent
  *     suffix" fact collapses to rank groups — a suffix's longest
  *     match is max(full length if its group has ≥ 2 members, LCP
  *     with the g−1 group, LCP with the g+1 group), and each group
  *     LCP is computed ONCE per adjacent rank pair on any
  *     representative (members are equal, so the choice cannot
  *     matter).
  *  3. '''LCP by direct prefix compare''': each adjacent pair fetches
  *     its two docs' token ARRAYS (one co-partitioned join per side —
  *     docs are row-sized here, unlike the corpus-wide suffix set)
  *     and counts leading equal tokens with a codegen
  *     zip_with/aggregate fold — the whole LCP is 2 joins + 1 map
  *     over the ≤|groups| pair table. (A doubling DESCENT over the
  *     kept r_k tables — 2 joins × K rounds — was the first cut; the
  *     direct compare replaced it at 14 joins → 2 and lets the rank
  *     build keep only its CURRENT column, which also slims every
  *     round's sort.)
  *
  * Census per doc: longest duplicated span, starts of duplicated
  * spans ≥ [[SpanExactMin]], exact positions covered (provably equal
  * to q_span_dedup's W=8 coverage — every position inside a
  * duplicated ≥8-span lies inside a duplicated 8-window and vice
  * versa; asserted in OpsSpec), coverage ratio and the keep flag.
  *
  * Scale shape at 100 TB: K = log₂(max doc tokens) rounds, each one
  * range-partitioned sort + one per-doc window over the token stream
  * (the known distributed SA-construction cost, all bounded rounds);
  * the descent joins are K × 2 co-partitioned probes over a ≤|ranks|
  * pair table; coverage explodes only duplicated volume. Nothing is
  * quadratic and no stage holds more than the token stream.
  */
object SpanExact {
  type Q = (SparkSession, String) => DataFrame

  /** DEFAULT suffix-compare horizon: final ranks separate any two
    * suffixes differing within this many tokens, so it must be ≥ the
    * longest doc (generator max = 100; guarded loudly at build). Both
    * engines derive their round count from this ONE constant; the
    * oracle SQL is generated from the default, so the driver gate
    * always runs at 128.
    */
  val SpanSaMaxLen = 128

  /** log₂([[SpanSaMaxLen]]) doubling rounds at the DEFAULT horizon,
    * fixed on BOTH engines so the rank tables are bit-identical.
    */
  val SaRounds = 7

  /** Representative packing: a suffix-group representative travels as
    * ONE long, rep = doc_id·[[RepPack]] + pos, so the group min-fold
    * in [[saGroupPass]] is a single compare and the census row stays
    * primitive. 2^20 holds positions to ~1M tokens — past the 10³–10⁵
    * tokens of real documents — and leaves doc_id a 2^43 budget
    * (enforced loudly at build beside the horizon guard; a corpus
    * keyed by 64-bit hashes would switch the rep to a (doc_id, pos)
    * struct and a struct-min fold, trading the primitive compare).
    * Through round 10 this was 1024, which silently CAPPED the
    * horizon; the constant is interpolated into the oracle SQL so
    * both engines always pack identically.
    */
  val RepPack: Long = 1L << 20

  /** Max doc_id the packed representative can hold: 2^63 / RepPack. */
  val RepMaxDocId: Long = Long.MaxValue / RepPack

  /** Conf key raising the suffix horizon for real corpora (docs of
    * 10³–10⁵ tokens): any power of two in [2, 2^20] — the upper bound
    * is the doc_id·[[RepPack]]+pos representative packing, which one
    * long holds only while pos < RepPack. The round count derives as
    * log₂, so a 4× horizon costs exactly 2 extra doubling rounds (the
    * K=log₂ scaling story — exercised by OpsSpec's long-doc fixtures
    * at 512 and, past the old 1024 cap, at 2048).
    */
  val SpanSaMaxLenConf = "spark.graft.spanSaMaxLen"

  private def horizon(s: SparkSession): Int = {
    val h = s.conf.get(SpanSaMaxLenConf, SpanSaMaxLen.toString).toInt
    require(h >= 2 && h <= RepPack && Integer.bitCount(h) == 1,
      s"$SpanSaMaxLenConf must be a power of two in [2, $RepPack], got $h")
    h
  }

  private def roundsFor(h: Int): Int = 31 - Integer.numberOfLeadingZeros(h)

  /** Minimum exact-match length to count as a dup start / cover
    * positions — q_span_dedup's window width, making the two
    * censuses' n_covered columns equal by construction.
    */
  val SpanExactMin: Int = Dedup.SpanW

  /** Contamination span threshold: 13 tokens — the GPT-3/PaLM
    * eval-decontamination standard (Brown et al. arXiv:2005.14165
    * appendix C uses 13-gram overlap). An eval doc is contaminated
    * when any ≥13-token span occurs verbatim in the training half.
    */
  val ContamSpanMin = 13

  /** The held-out eval-split convention: doc_id % EvalSplitMod == 0 is
    * EVAL, everything else TRAIN. Within THIS file the constant is
    * load-bearing — every span-family builder, both contamination
    * oracles, and [[saGroupPass]]'s baked-in TRAIN counts interpolate
    * it, and it is part of the shared pass's Scratch key so a changed
    * value can never serve stale session-materialized counts. The
    * SAME 2% convention is pinned as a literal 50 elsewhere
    * (Dedup.evalShingles, Prep's contamination views and their
    * oracles): changing the corpus-wide convention means changing it
    * THERE TOO — this constant keeps the span family internally
    * consistent, it does not repoint the other families.
    */
  val EvalSplitMod = 50L

  val queries: Map[String, Q] = Map(
    "q_span_dedup_exact" -> ((s, dir) => {
      val ranks = saRanks(s, dir)
      val sizes = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
      val perPos = ranks.select(col("doc_id"), col("pos"),
          col("r").as("g"))
        .join(saGroupLcp(s, dir), Seq("g"))
      val covered = perPos.where(col("dup_len") >= SpanExactMin)
        .select(col("doc_id"),
          explode(sequence(col("pos").cast("long"),
            col("pos") + col("dup_len") - 1)).as("tpos"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
      val perDoc = perPos.groupBy(col("doc_id"))
        .agg(max(col("dup_len")).as("longest_dup"),
          sum(when(col("dup_len") >= SpanExactMin, 1L).otherwise(0L))
            .as("n_dup_starts"))
      sizes.join(perDoc, Seq("doc_id"), "left")
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("longest_dup"), lit(0L)).as("longest_dup"),
          coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"))
        .withColumn("dup_ratio",
          when(col("n_tokens") > 0,
            round(col("n_covered").cast("double") / col("n_tokens"), 6))
            .otherwise(lit(0.0)))
        .withColumn("keep", col("dup_ratio") < 0.5)
        .orderBy(col("doc_id"))
    }),

    // The corpus duplication-length SPECTRUM — Lee et al.'s headline
    // figure ("how much of the corpus repeats, at what length"),
    // exact: every token position bucketed by its longest-match
    // length (power-of-two bands), with position counts and corpus
    // share. The data-quality view that decides a dedup threshold:
    // mass in the high bands = mirrored documents, mass at 8–31 =
    // boilerplate, the 1–7 residue = natural n-gram reuse. Rides the
    // session-materialized rank + group-LCP tables — incremental cost
    // is one join + a ≤9-row aggregate; the corpus never re-tokenizes.
    "q_dup_spectrum" -> ((s, dir) => {
      val perPos = saRanks(s, dir).select(col("r").as("g"))
        .join(saGroupLcp(s, dir), Seq("g"))
      val band = when(col("dup_len") >= 64, 64L)
        .when(col("dup_len") >= 32, 32L)
        .when(col("dup_len") >= 16, 16L)
        .when(col("dup_len") >= 8, 8L)
        .when(col("dup_len") >= 4, 4L)
        .when(col("dup_len") >= 2, 2L)
        .when(col("dup_len") >= 1, 1L)
        .otherwise(0L)
      val counted = perPos.select(band.as("band"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_positions"))
      val total = counted.agg(sum(col("n_positions")).as("n_total"))
      counted.crossJoin(broadcast(total))
        .select(col("band"), col("n_positions"),
          round(col("n_positions").cast("double") / col("n_total"), 6)
            .as("share"))
        .orderBy(col("band"))
    }),

    // EXACT eval-set decontamination — the suffix-array form of the
    // contamination question q_contamination answers with 3-gram
    // shingles: for every eval doc (doc_id % 50 == 0, the same held-out
    // convention), the length of the LONGEST span occurring verbatim
    // anywhere in the TRAINING half, plus the count of positions
    // starting a ≥13-token overlap (the GPT-3 13-gram standard,
    // [[ContamSpanMin]]). Max overlap with ANY train suffix = max of
    // the LCPs with the NEAREST train group above/below in suffix-rank
    // order (the classical SA fact), and those are range-min chains
    // over the adjacent-group LCP table — computed by [[trainChainScan]],
    // a two-pass range-sorted scan (per-partition summaries fold on the
    // driver, one row per partition — the denseRankPair discipline),
    // never a global window. A group containing a train suffix means
    // verbatim suffix identity: overlap = the full suffix length.
    // Rides the session-materialized rank table; the group chain is its
    // own Scratch intermediate. At 100 TB: the SA build dominates
    // (shared, K=log₂ rounds); the chain adds one range sort of the
    // ≤|groups| table and two O(1)-state scans.
    "q_contam_span" -> ((s, dir) => {
      val cg = contamGroups(s, dir, toTrain = true)
      val sizes = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
        .where(col("doc_id") % EvalSplitMod === 0)
      val ov = saRanks(s, dir).where(col("doc_id") % EvalSplitMod === 0)
        .select(col("doc_id"), col("pos"), col("r").as("g"))
        .join(cg, Seq("g"))
        .join(sizes, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          when(col("cnt_target") > 0,
            col("n_tokens").cast("long") - col("pos"))
            .otherwise(greatest(col("down"), col("up"), lit(0L))).as("ov"))
      ov.groupBy(col("doc_id"))
        .agg(first(col("n_tokens")).as("n_tokens"),
          max(col("ov")).as("max_overlap"),
          sum(when(col("ov") >= ContamSpanMin, 1L).otherwise(0L))
            .as("n_contam_starts"))
        .withColumn("contaminated", col("max_overlap") >= ContamSpanMin)
        .orderBy(col("doc_id"))
    }),

    // The ACTIONABLE side of span decontamination: which TRAIN docs
    // contain a ≥13-token span of the eval set — the set a training
    // run drops (q_decontaminate's question, answered by exact spans
    // instead of any-shared-3-gram, so boilerplate shingle collisions
    // stop costing training docs). Same chain machinery with the
    // target flipped to EVAL-containing groups; the census mirrors
    // q_decontaminate verbatim — per-source train/dropped/kept counts
    // with the order-free bit_xor receipt over kept content keys, so
    // the physical drop is re-verifiable after the fact.
    "q_decontam_span" -> ((s, dir) => {
      val cg = contamGroups(s, dir, toTrain = false)
      val perDoc = saRanks(s, dir).where(col("doc_id") % EvalSplitMod =!= 0)
        .select(col("doc_id"), col("pos"), col("r").as("g"))
        .join(cg, Seq("g"))
        .join(Tables.fanout(Tables(s, dir, "documents")
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
          .where(col("doc_id") % EvalSplitMod =!= 0), Seq("doc_id"))
        .select(col("doc_id"),
          when(col("cnt_target") > 0,
            col("n_tokens").cast("long") - col("pos"))
            .otherwise(greatest(col("down"), col("up"), lit(0L))).as("ov"))
        .groupBy(col("doc_id"))
        .agg((max(col("ov")) >= ContamSpanMin).as("hit"))
      Tables(s, dir, "documents")
        .where(col("doc_id") % EvalSplitMod =!= 0)
        .select(col("doc_id"), col("source"),
          h60(concat(lit("d:"), col("doc_id").cast("string"))).as("h"))
        .join(perDoc, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(!col("hit"), 1L).otherwise(0L)).as("n_kept"),
          expr("bit_xor(CASE WHEN NOT hit THEN h ELSE CAST(0 AS BIGINT) END)")
            .as("kept_checksum"))
        .orderBy(col("source"))
    })
  )

  /** The (g → cnt_train, down, up) contamination chain table,
    * session-materialized: per identical-suffix group, the number of
    * TRAIN members and the LCP with the nearest train-containing group
    * below (`down`) / above (`up`) in rank order (−1 = none exists).
    * Built from one [[saGroupPass]] over the shared rank table (the
    * census now carries the train count), the adjacent-pair LCPs via
    * [[graft.functions.ArrayLcpFrom]], and two [[trainChainScan]]s.
    */
  /** `toTrain = true` chains every group to its nearest
    * TRAIN-containing neighbor (what an EVAL doc's overlap question
    * needs); `false` chains to the nearest EVAL-containing neighbor
    * (the train-side drop question). Output column `cnt_target` is the
    * group's member count on the TARGET side.
    */
  private def contamGroups(s: SparkSession, dir: String,
      toTrain: Boolean): DataFrame = {
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val tag = if (toTrain) "t" else "e"
    try Scratch.materialize(s, s"span_sa_contam|$dir|h${horizon(s)}|$tag") {
      val targetCnt = if (toTrain) col("ct") else col("cnt") - col("ct")
      val census = sharedPass(s, dir).where(col("kind") === 0)
        .select(col("g"), targetCnt.as("tc"))
      val lcp = saAdjacency(s, dir)
      val seq = census
        .join(lcp.select((col("g") + 1).as("g"), col("l").as("lp")),
          Seq("g"), "left")
        .join(lcp.select(col("g"), col("l").as("ln")), Seq("g"), "left")
        .select(col("g"), (col("tc") > 0).as("is_train"),
          coalesce(col("lp"), lit(-1L)).as("lp"),
          coalesce(col("ln"), lit(-1L)).as("ln"))
        .persist()
      persisted += seq
      val nGroups = seq.count()
      val parts = math.max(1L, math.min(
        s.sparkContext.defaultParallelism.toLong, nGroups / 100000L + 1L)).toInt
      val down = trainChainScan(
        seq.select(col("g"), col("is_train"), col("lp").as("lcp")),
        asc = true, parts, "down", persisted)
      val up = trainChainScan(
        seq.select(col("g"), col("is_train"), col("ln").as("lcp")),
        asc = false, parts, "up", persisted)
      census.select(col("g"), col("tc").as("cnt_target"))
        .join(down, Seq("g"))
        .join(up, Seq("g"))
    } finally { persisted.foreach(_.unpersist()); () }
  }

  /** The [[saGroupPass]] output as a session-materialized shared
    * intermediate: the group census (with train counts) and the
    * adjacent-pair rep rows feed THREE families (the dup_len table,
    * the contamination chain, and the adjacent LCPs they both join) —
    * materialized, the range sort over the rank table runs once per
    * session instead of once per consumer.
    */
  private def sharedPass(s: SparkSession, dir: String): DataFrame = {
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try Scratch.materialize(s,
      s"span_sa_pass|$dir|h${horizon(s)}|e$EvalSplitMod")(
      saGroupPass(s, dir, persisted))
    finally { persisted.foreach(_.unpersist()); () }
  }

  /** The adjacent-group LCP table (g → leading equal tokens between
    * groups g and g+1), session-materialized — shared by the dup_len
    * census ([[saGroupLcp]]: max with the g±1 neighbors) and the
    * contamination chains ([[contamGroups]]: range-min links). One
    * early-exit [[graft.functions.ArrayLcpFrom]] pass over the
    * ≤|groups| pair table, never recomputed per consumer.
    */
  private[graft] def saAdjacency(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"span_sa_adjlcp|$dir|h${horizon(s)}") {
      val pass = sharedPass(s, dir)
      val toked = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("a"))
      // boundary half-rows: a partition's LAST group emits (g, rep) and
      // the NEXT partition's first group emits (g−1, rep) — joining on
      // g reassembles exactly the cross-partition adjacent pairs (≤ 1
      // per partition boundary, so both sides are partition-count-sized)
      val pairs = pass.where(col("kind") === 1)
          .select(col("g"), col("d1"), col("p1"), col("d2"), col("p2"))
        .unionByName(pass.where(col("kind") === 4)
          .select(col("g"), col("d1"), col("p1"))
          .join(broadcast(pass.where(col("kind") === 5)
            .select(col("g"), col("d2"), col("p2"))), Seq("g")))
      pairs
        .join(toked.select(col("doc_id").as("d1"), col("a").as("a1")),
          Seq("d1"))
        .join(toked.select(col("doc_id").as("d2"), col("a").as("a2")),
          Seq("d2"))
        .select(col("g"), call_function("array_lcp_from",
          col("a1"), col("p1"), col("a2"), col("p2")).as("l"))
    }

  /** Distributed "LCP chain to the nearest train group" scan over the
    * group table in rank order (asc = the `down` chain, desc = `up`):
    *
    *   D(g) = lcp(g)                 if the previous group is train
    *        = min(D(prev), lcp(g))   otherwise (−1 "none" propagates)
    *
    * where lcp(g) is the adjacent-pair LCP between g and its
    * predecessor in scan order. A global window would serialize the
    * group table; this is the two-pass discipline of [[denseRankPair]]:
    * range-sort by g, pass 1 folds each partition to ONE summary row
    * (has-train?, the constant outgoing state when it does, the full
    * LCP min + emptiness when it doesn't), the driver composes the
    * ≤|partitions| summaries left-to-right into per-partition entry
    * states, pass 2 re-scans with the right entry state. O(1) state
    * per row, output (g, <out>) with −1 = no train group exists on
    * that side.
    */
  private def trainChainScan(df: DataFrame, asc: Boolean, parts: Int,
      out: String,
      persisted: scala.collection.mutable.ListBuffer[DataFrame]): DataFrame = {
    val s = df.sparkSession
    val key = if (asc) col("g").asc else col("g").desc
    val sorted = df.repartitionByRange(parts, key)
      .sortWithinPartitions(key).persist()
    persisted += sorted
    val iG = sorted.schema.fieldIndex("g")
    val iT = sorted.schema.fieldIndex("is_train")
    val iL = sorted.schema.fieldIndex("lcp")
    // pass 1: one summary row per partition —
    // (n, hasTrain, constD, lastIsTrain, fullMin)
    val sums = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; var hasTrain = false; var lastIsTrain = false
      var d = -1L; var prevTrain = false; var fullMin = Long.MaxValue
      it.foreach { r =>
        val t = r.getBoolean(iT); val l = r.getLong(iL)
        d = if (prevTrain) l else if (d >= 0) math.min(d, l) else -1L
        if (l >= 0 && l < fullMin) fullMin = l
        prevTrain = t
        if (t) hasTrain = true
        lastIsTrain = t
        n += 1L
      }
      Iterator.single((pid, (n, hasTrain, d, lastIsTrain, fullMin)))
    }.collect().sortBy(_._1).map(_._2)
    // driver fold: entry state (D of the previous row, was it train)
    val entries = new Array[(Long, Boolean)](sums.length)
    var st = (-1L, false)
    for (i <- sums.indices) {
      entries(i) = st
      val (n, hasTrain, constD, lastIsTrain, fullMin) = sums(i)
      st =
        if (n == 0L) st
        else if (hasTrain) (constD, lastIsTrain)
        else {
          val x = if (st._2) fullMin
            else if (st._1 >= 0)
              math.min(st._1, if (fullMin == Long.MaxValue) st._1 else fullMin)
            else -1L
          (x, lastIsTrain)
        }
    }
    // pass 2: the same scan, seeded with the composed entry state
    val ranked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var (d, prevTrain) = entries(pid)
      it.map { r =>
        val t = r.getBoolean(iT); val l = r.getLong(iL)
        d = if (prevTrain) l else if (d >= 0) math.min(d, l) else -1L
        prevTrain = t
        Row(r.getLong(iG), d)
      }
    }
    s.createDataFrame(ranked, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g", LongType, nullable = false),
      org.apache.spark.sql.types.StructField(out, LongType, nullable = false))))
  }

  /** The (g → dup_len) group table: one row per identical-suffix
    * group with its longest-match length — session-materialized
    * (Scratch) because the group census feeds FOUR downstream
    * subtrees whose aliasing makes them canonically unequal (no
    * exchange reuse); materialized, the query's census is one
    * ranks ⋈ glcp join plus aggregates.
    *
    * dup_len(group) = max(full length if the group holds ≥ 2
    * identical suffixes, LCP with the g−1 group, LCP with the g+1
    * group); each group LCP is a direct leading-equal-token count
    * over the two representatives' token arrays.
    *
    * Round-10 shape: the group census (cnt + min packed rep) AND the
    * adjacent-pair rep table come out of ONE range-sorted pass over
    * the materialized rank table ([[saGroupPass]]) — final ranks are
    * globally dense, so a range partitioner gives every partition a
    * contiguous rank interval and groups never split; consecutive
    * distinct ranks inside a partition ARE the adjacent pairs, and
    * the ≤1-per-partition boundary pairs reassemble from half-rows
    * joined on the left group id. This replaces the round-9
    * groupBy-census shuffle + g↔g−1 self-join (three shuffles of a
    * ≈token-count table) with one range sort; the per-pair LCP is the
    * early-exit codegen [[graft.functions.ArrayLcpFrom]] instead of a
    * slice/zip_with/aggregate struct fold (no slice copies, stops at
    * the first mismatching token — adjacent rank groups usually
    * differ early, the fold always paid the full horizon).
    */
  private def saGroupLcp(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"span_sa_glcp|$dir|h${horizon(s)}") {
      val sizes = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
      val census = sharedPass(s, dir).where(col("kind") === 0)
        .select(col("g"), col("cnt"), col("d1").as("d"), col("p1").as("p"))
      val repLen = census.join(sizes.select(col("doc_id").as("d"),
          col("n_tokens").cast("long").as("nt")), Seq("d"))
        .select(col("g"), col("cnt"), (col("nt") - col("p")).as("len"))
      val lcp = saAdjacency(s, dir)
      repLen
        .join(lcp.select(col("g"), col("l").as("l_next")), Seq("g"), "left")
        .join(lcp.select((col("g") + 1).as("g"), col("l").as("l_prev")),
          Seq("g"), "left")
        .select(col("g"),
          greatest(when(col("cnt") >= 2, col("len")).otherwise(lit(0L)),
            coalesce(col("l_next"), lit(0L)),
            coalesce(col("l_prev"), lit(0L))).as("dup_len"))
    }

  /** One range-sorted pass over the rank table emitting, per
    * identical-suffix group: its census row (kind 0: g, cnt, min
    * packed rep split as d1/p1), the in-partition adjacent-pair row
    * (kind 1: reps of g and g+1), and at partition edges the two half
    * rows (kind 4: last group's left half at g; kind 5: first group's
    * right half at g−1) that [[saGroupLcp]] joins back together. The
    * representative key is packed doc_id·[[RepPack]]+pos (pos <
    * horizon ≤ RepPack by the build guard) so the min-fold is a
    * single long compare. mapPartitions is the same genuine
    * per-partition imperative case as [[denseRankPair]].
    */
  private def saGroupPass(s: SparkSession, dir: String,
      persisted: scala.collection.mutable.ListBuffer[DataFrame]): DataFrame = {
    val ranks = saRanks(s, dir)
    val nTok = Tables.fanout(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(size(tokens(col("text"))).cast("long").as("n"))
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val parts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, nTok / 100000L + 1L)).toInt
    val sorted = ranks.repartitionByRange(parts, col("r"))
      .sortWithinPartitions(col("r")).persist()
    persisted += sorted
    val iD = sorted.schema.fieldIndex("doc_id")
    val iP = sorted.schema.fieldIndex("pos")
    val iR = sorted.schema.fieldIndex("r")
    val out = sorted.rdd.mapPartitions { it =>
      val res = scala.collection.mutable.ArrayBuffer.empty[Row]
      var g = -1L; var cnt = 0L; var ct = 0L; var rp = Long.MaxValue
      var prevG = -1L; var prevRp = 0L
      def emitGroup(): Unit = if (g >= 0) {
        res += Row(0, g, cnt, ct, rp / RepPack, rp % RepPack, 0L, 0L)
        if (prevG >= 0)
          res += Row(1, prevG, 0L, 0L, prevRp / RepPack, prevRp % RepPack,
            rp / RepPack, rp % RepPack)
        else
          res += Row(5, g - 1L, 0L, 0L, 0L, 0L, rp / RepPack, rp % RepPack)
        prevG = g; prevRp = rp
      }
      it.foreach { row =>
        val r = row.getLong(iR)
        if (r != g) {
          emitGroup()
          g = r; cnt = 0L; ct = 0L; rp = Long.MaxValue
        }
        cnt += 1L
        val d = row.getLong(iD)
        if (d % EvalSplitMod != 0L) ct += 1L // TRAIN member (eval below)
        val packed = d * RepPack + row.getInt(iP)
        if (packed < rp) rp = packed
      }
      emitGroup()
      if (g >= 0)
        res += Row(4, g, 0L, 0L, rp / RepPack, rp % RepPack, 0L, 0L)
      res.iterator
    }
    s.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("g", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ct", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("d1", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("p1", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("d2", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("p2", LongType, nullable = false))))
  }

  /** The (doc_id, pos, r) final suffix rank table —
    * session-materialized (Scratch): the group census and the
    * per-suffix join scan one parquet instead of re-running the
    * doubling loop.
    */
  private[graft] def saRanks(s: SparkSession, dir: String): DataFrame = {
    // round intermediates are persisted during the build (each round's
    // two passes and the next round's sort read them); all released
    // once the materialized parquet is written
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try Scratch.materialize(s, s"span_sa_ranks|$dir|h${horizon(s)}")(
      buildRanks(s, dir, persisted))
    finally { persisted.foreach(_.unpersist()); () }
  }

  private def buildRanks(s: SparkSession, dir: String,
      persisted: scala.collection.mutable.ListBuffer[DataFrame]): DataFrame = {
    val tok = Tables.fanout(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .persist()
    persisted += tok
    // the stats pass (guards + partition sizing) and round 0 both
    // consume the tokenized stream — cache it so the corpus is
    // tokenized once, not twice (released with the round intermediates)
    val mRow = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")), sum(col("n")), max(col("doc_id"))).head()
    val maxLen = if (mRow.isNullAt(0)) 0L else mRow.getLong(0)
    val nTok = if (mRow.isNullAt(1)) 0L else mRow.getLong(1)
    val maxId = if (mRow.isNullAt(2)) 0L else mRow.getLong(2)
    val h = horizon(s)
    require(maxLen <= h,
      s"a $maxLen-token doc exceeds the $h-token suffix horizon — " +
        s"raise $SpanSaMaxLenConf (the round count derives as log₂; " +
        "the DuckDB oracle is generated at the 128 default only)")
    require(maxId <= RepMaxDocId,
      s"doc_id $maxId exceeds the packed-representative budget " +
        s"$RepMaxDocId (= 2^63 / RepPack) — re-key the corpus or switch " +
        "the representative to a (doc_id, pos) struct")
    // the 7 rounds are latency-bound at small corpora (each is a
    // range-sort + two passes): size the rank partitioning to the
    // token stream (≈100k tokens/partition, so sort work spreads
    // once the corpus is real) instead of paying 32 tasks' launch
    // overhead per pass on a 27k-token corpus; a real cluster's
    // parallelism cap scales with its executors
    val parts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, nTok / 100000L + 1L)).toInt
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // only the CURRENT rank rides the loop — the LCP is computed from
    // token arrays, not from kept r_k tables, so each round's sort
    // moves (doc_id, pos, r, rr) and nothing else
    var df = tok.select(col("doc_id"), col("pos"), h60(col("t")).as("r"))
    // Early exit (r13, guide §1.2 "remove unnecessary passes") — the
    // classical prefix-doubling termination test: each round's dense
    // relabel only REFINES the rank partition (equal (r, rr) pairs
    // stay together, unequal r never merges), so the group count is
    // monotone non-decreasing, and a round that splits NO group
    // (count unchanged) proves every group's members share their rr —
    // by induction their suffixes agree at ALL longer offsets, so
    // every remaining round is the identity relabel (same values, not
    // just the same partition: a stable round orders by (r, rr) ≡ by
    // r, and the dense rank of an already-dense r is r). Skipping the
    // identity rounds changes no rank bit; the oracle runs all
    // SaRounds rounds and its identity rounds change nothing either —
    // OpsSpec pins rank equality against the full-round loop. Rank
    // uniqueness (distinct == rows) is the no-further-split case
    // detected one round sooner, so test both.
    var k = 0
    var prevDistinct = -1L
    var converged = false
    while (k < roundsFor(h) && !converged) {
      val paired = df.withColumn("rr",
        coalesce(lead(col("r"), 1 << k).over(w), lit(-1L)))
      val (ranked, nDistinct, nRows) =
        denseRankPair(paired, "r", "rr", "rnew", parts, persisted)
      df = ranked.select(col("doc_id"), col("pos"), col("rnew").as("r"))
      converged = nDistinct == nRows || nDistinct == prevDistinct
      prevDistinct = nDistinct
      k += 1
    }
    // measured evidence for the early-exit claim (BENCH_SCALING):
    // rounds actually sorted vs the horizon's full count
    System.err.println(
      s"[sa] rounds executed: $k of ${roundsFor(h)} (horizon $h, " +
        s"converged=$converged)")
    df
  }

  /** Distributed dense rank over the pair ordering (c1, c2) — the
    * prefix-doubling relabel step. A global rank window would
    * serialize the corpus through one partition, so this is the
    * classical two-pass range-sort rank: range-partition + sort by
    * the pair, count distinct pairs per partition (one tiny row per
    * partition to the driver), prefix-sum the offsets, assign
    * per-partition local ranks + offset. The range partitioner sends
    * equal pairs to one partition, so the result is globally dense
    * and 1-based — identical to the oracle's dense_rank() window.
    * mapPartitionsWithIndex is the genuine per-partition imperative
    * case the RDD door exists for; everything around it stays
    * DataFrame.
    */
  private def denseRankPair(df: DataFrame, c1: String, c2: String,
      out: String, parts: Int,
      persisted: scala.collection.mutable.ListBuffer[DataFrame])
      : (DataFrame, Long, Long) = {
    val s = df.sparkSession
    val sorted = df.repartitionByRange(parts, col(c1), col(c2))
      .sortWithinPartitions(col(c1), col(c2)).persist()
    persisted += sorted
    val i1 = sorted.schema.fieldIndex(c1)
    val i2 = sorted.schema.fieldIndex(c2)
    // one tiny row per partition to the driver: distinct-pair count
    // (the rank offsets) AND row count (free in the same pass — it is
    // what lets the doubling loop detect rank uniqueness and stop)
    val counts = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; var rows = 0L; var seen = false; var l1 = 0L; var l2 = 0L
      it.foreach { r =>
        rows += 1
        val a = r.getLong(i1); val b = r.getLong(i2)
        if (!seen || a != l1 || b != l2) { n += 1; seen = true; l1 = a; l2 = b }
      }
      Iterator.single((pid, n, rows))
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    val ranked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = offsets(pid)
      var seen = false; var l1 = 0L; var l2 = 0L
      it.map { row =>
        val a = row.getLong(i1); val b = row.getLong(i2)
        if (!seen || a != l1 || b != l2) { r += 1; seen = true; l1 = a; l2 = b }
        Row.fromSeq(row.toSeq :+ r)
      }
    }
    (s.createDataFrame(ranked, schema), offsets.last, counts.map(_._3).sum)
  }

  /** DuckDB replay: the identical doubling loop as dense_rank()
    * windows (global windows are fine oracle-side), the identical
    * packed representative, descent and census — every round count
    * and constant generated from the same Scala values the Spark side
    * uses, so the two engines cannot drift.
    */
  /** The shared CTE chain (tokens → doubling ranks → groups →
    * adjacent-pair LCP → per-position dup_len) both oracles build on.
    */
  private def saCtes: String = {
    val K = SaRounds
    val rounds = (0 until K).map { k =>
      s"""p$k AS (SELECT doc_id, pos, r$k,
         |  coalesce(lead(r$k, ${1 << k})
         |    OVER (PARTITION BY doc_id ORDER BY pos), -1) AS rr
         |  FROM t$k),
         |t${k + 1} AS (SELECT doc_id, pos,
         |  CAST(dense_rank() OVER (ORDER BY r$k, rr) AS BIGINT) AS r${k + 1}
         |  FROM p$k)""".stripMargin
    }.mkString(",\n")
    s"""tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
       |sz AS (SELECT doc_id, len(a) AS n FROM tk),
       |t0 AS (SELECT doc_id, i - 1 AS pos, ${sqlH60("a[i]")} AS r0
       |  FROM tk, generate_series(1, $SpanSaMaxLen) g(i) WHERE i <= len(a)),
       |$rounds,
       |rep AS (SELECT r$K AS gg, CAST(count(*) AS BIGINT) AS cnt,
       |    min(doc_id * $RepPack + pos) AS rp
       |  FROM t$K GROUP BY r$K),
       |rlen AS (SELECT gg, cnt, rp // $RepPack AS d, rp % $RepPack AS p,
       |    sz.n - rp % $RepPack AS len
       |  FROM rep JOIN sz ON sz.doc_id = rp // $RepPack),
       |adj AS (SELECT a.gg, a.d AS d1, a.p AS p1, b.d AS d2, b.p AS p2
       |  FROM rlen a JOIN rlen b ON b.gg = a.gg + 1),
       |mm AS (SELECT adj.gg, u
       |  FROM adj JOIN tk ta ON ta.doc_id = adj.d1
       |    JOIN tk tb ON tb.doc_id = adj.d2
       |    CROSS JOIN generate_series(1, ${SpanSaMaxLen + 1}) s(u)
       |  WHERE ta.a[CAST(p1 + u AS INT)]
       |    IS DISTINCT FROM tb.a[CAST(p2 + u AS INT)]),
       |lcp AS (SELECT gg, CAST(min(u) - 1 AS BIGINT) AS l
       |  FROM mm GROUP BY gg),
       |glcp AS (SELECT rlen.gg,
       |    greatest(CASE WHEN cnt >= 2 THEN len ELSE 0 END,
       |      coalesce(nx.l, 0), coalesce(pv.l, 0)) AS dup_len
       |  FROM rlen
       |  LEFT JOIN lcp nx ON nx.gg = rlen.gg
       |  LEFT JOIN lcp pv ON pv.gg = rlen.gg - 1),
       |pp AS (SELECT t.doc_id, t.pos, glcp.dup_len
       |  FROM t$K t JOIN glcp ON glcp.gg = t.r$K)""".stripMargin
  }

  private def spanExactOracle: String =
    s"""WITH $saCtes,
       |cov AS (SELECT DISTINCT doc_id, pos + u AS tpos
       |  FROM pp, generate_series(0, ${SpanSaMaxLen - 1}) s(u)
       |  WHERE dup_len >= $SpanExactMin AND u < dup_len),
       |covd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered
       |  FROM cov GROUP BY doc_id),
       |pd AS (SELECT doc_id, max(dup_len) AS longest_dup,
       |    CAST(sum(CASE WHEN dup_len >= $SpanExactMin THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dup_starts
       |  FROM pp GROUP BY doc_id)
       |SELECT sz.doc_id, CAST(sz.n AS INTEGER) AS n_tokens,
       |  coalesce(pd.longest_dup, 0) AS longest_dup,
       |  coalesce(pd.n_dup_starts, 0) AS n_dup_starts,
       |  coalesce(covd.n_covered, 0) AS n_covered,
       |  CASE WHEN sz.n > 0
       |    THEN round(CAST(coalesce(covd.n_covered, 0) AS DOUBLE) / sz.n, 6)
       |    ELSE 0.0 END AS dup_ratio,
       |  CASE WHEN sz.n > 0
       |    THEN round(CAST(coalesce(covd.n_covered, 0) AS DOUBLE) / sz.n, 6)
       |    ELSE 0.0 END < 0.5 AS keep
       |FROM sz LEFT JOIN pd USING (doc_id) LEFT JOIN covd USING (doc_id)
       |ORDER BY sz.doc_id""".stripMargin

  private def dupSpectrumOracle: String =
    s"""WITH $saCtes,
       |b AS (SELECT CAST(CASE
       |    WHEN dup_len >= 64 THEN 64 WHEN dup_len >= 32 THEN 32
       |    WHEN dup_len >= 16 THEN 16 WHEN dup_len >= 8 THEN 8
       |    WHEN dup_len >= 4 THEN 4 WHEN dup_len >= 2 THEN 2
       |    WHEN dup_len >= 1 THEN 1 ELSE 0 END AS BIGINT) AS band
       |  FROM pp),
       |c AS (SELECT band, CAST(count(*) AS BIGINT) AS n_positions
       |  FROM b GROUP BY band)
       |SELECT band, n_positions,
       |  round(CAST(n_positions AS DOUBLE) /
       |    (SELECT sum(n_positions) FROM c), 6) AS share
       |FROM c ORDER BY band""".stripMargin

  /** Oracle replay of the contamination chain: the same rank/LCP CTEs,
    * train counts per group, then the down/up chains as running mins
    * over "segments opened by a train group" — `seg` counts train
    * groups up to each row, so a masked min within the segment IS the
    * adjacent-LCP chain back to the nearest train group (the opener's
    * own LCP masked out: the chain starts AT it, not before it).
    * Global windows are fine oracle-side.
    */
  /** The chain CTE block parametrized by which side is the TARGET
    * (`targetPred` selects target members; the probe side is its
    * complement): gt (per-group target counts), dn/up (nearest-target
    * LCP chains), ov (per-probe-position overlap).
    */
  private def contamChainCtes(targetPred: String, probePred: String): String = {
    val K = SaRounds
    s"""gt AS (SELECT r$K AS gg,
       |    count(*) FILTER (WHERE $targetPred) AS cnt_target
       |  FROM t$K GROUP BY 1),
       |sq AS (SELECT gt.gg, (gt.cnt_target > 0) AS is_tgt,
       |    pv.l AS lp, nx.l AS ln
       |  FROM gt LEFT JOIN lcp pv ON pv.gg = gt.gg - 1
       |    LEFT JOIN lcp nx ON nx.gg = gt.gg),
       |sg AS (SELECT gg, is_tgt, lp, ln,
       |    count(CASE WHEN is_tgt THEN 1 END)
       |      OVER (ORDER BY gg) AS segd,
       |    count(CASE WHEN is_tgt THEN 1 END)
       |      OVER (ORDER BY gg DESC) AS segu
       |  FROM sq),
       |dn AS (SELECT gg, CASE WHEN segd >= 1 THEN
       |    min(CASE WHEN is_tgt THEN NULL ELSE lp END)
       |      OVER (PARTITION BY segd ORDER BY gg) END AS d
       |  FROM sg),
       |up AS (SELECT gg, CASE WHEN segu >= 1 THEN
       |    min(CASE WHEN is_tgt THEN NULL ELSE ln END)
       |      OVER (PARTITION BY segu ORDER BY gg DESC) END AS u
       |  FROM sg),
       |tp AS (SELECT doc_id, pos, r$K AS gg FROM t$K WHERE $probePred),
       |ov AS (SELECT tp.doc_id,
       |    CASE WHEN gt.cnt_target > 0 THEN sz.n - tp.pos
       |      ELSE greatest(coalesce(dn.d, 0), coalesce(up.u, 0), 0)
       |      END AS ov
       |  FROM tp JOIN gt USING (gg) JOIN sz USING (doc_id)
       |    LEFT JOIN dn USING (gg) LEFT JOIN up USING (gg))""".stripMargin
  }

  private def contamSpanOracle: String =
    s"""WITH $saCtes,
       |${contamChainCtes(s"doc_id % $EvalSplitMod <> 0",
            s"doc_id % $EvalSplitMod = 0")},
       |cns AS (SELECT doc_id, max(ov) AS max_overlap,
       |    count(*) FILTER (WHERE ov >= $ContamSpanMin) AS n_contam_starts
       |  FROM ov GROUP BY doc_id)
       |SELECT sz.doc_id, CAST(sz.n AS INT) AS n_tokens,
       |  cns.max_overlap, cns.n_contam_starts,
       |  cns.max_overlap >= $ContamSpanMin AS contaminated
       |FROM sz JOIN cns USING (doc_id)
       |WHERE sz.doc_id % $EvalSplitMod = 0 ORDER BY sz.doc_id""".stripMargin

  private def decontamSpanOracle: String =
    s"""WITH $saCtes,
       |${contamChainCtes(s"doc_id % $EvalSplitMod = 0",
            s"doc_id % $EvalSplitMod <> 0")},
       |pd AS (SELECT doc_id,
       |    (max(ov) >= $ContamSpanMin) AS hit
       |  FROM ov GROUP BY doc_id),
       |tr AS (SELECT d.doc_id, d.source, pd.hit,
       |    ${sqlH60("'d:' || CAST(d.doc_id AS VARCHAR)")} AS h
       |  FROM documents d JOIN pd USING (doc_id)
       |  WHERE d.doc_id % $EvalSplitMod <> 0)
       |SELECT source, count(*) AS n_train,
       |  CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_dropped,
       |  CAST(count(*) FILTER (WHERE NOT hit) AS BIGINT) AS n_kept,
       |  bit_xor(CASE WHEN NOT hit THEN h ELSE 0 END) AS kept_checksum
       |FROM tr GROUP BY source ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_span_dedup_exact" -> spanExactOracle,
    "q_dup_spectrum" -> dupSpectrumOracle,
    "q_contam_span" -> contamSpanOracle,
    "q_decontam_span" -> decontamSpanOracle)
}
