package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import TextFns._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard — each both a
  * `queries` entry AND a full DuckDB oracle (the sketch hash families
  * are md5-derived so both engines compute identical signatures).
  *
  * Scale design (the 100 TB story):
  *  - exact:   one shuffle keyed on the text hash; at scale group on
  *    xxhash64(text) first so the exchange carries 8-byte keys, then
  *    resolve rare collisions within groups.
  *  - minhash: per-doc signatures via a single groupBy with K min()
  *    aggregates (map-side combine, no K-way row explosion), then the
  *    LSH band self-join touches only colliding buckets — never the
  *    O(n²) pair space.
  *  - simhash: 4 × 15-bit band keys; by pigeonhole every pair within
  *    hamming ≤ 3 shares a band, so the banded join is EXACT for the
  *    ≤3 predicate while joining on small integer keys.
  *  - jaccard: exact similarity join via the inverted shingle index —
  *    100% recall for any threshold (a qualifying pair shares ≥ 1
  *    shingle); pair generation is Σ df² over shingles, which the
  *    band/prefix filters above bound when df distributions are heavy.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** documents ∪ verbatim copies (ids shifted) — gives the exact-dedup
    * operator honest duplicates to drop. Near-dup ops run on the raw
    * table, which already contains real near-duplicate pairs.
    */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
  }

  private val sqlDupCorpus =
    """dup_corpus AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents)""".stripMargin

  val K = 32      // minhash signature length
  val Bands = 8   // LSH bands (rows per band = K / Bands = 4)

  private def docShingles(df: DataFrame): DataFrame =
    Tables.fanout(df.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("s"))

  /** Per-doc K-hash MinHash signature from raw (doc_id, text) — the
    * per-BATCH form of the signature build shared with the streaming
    * ingest ([[graft.streaming.Streams.minhashDedupIngest]]); the
    * batch q_dedup_minhash rides the materialized postings instead but
    * computes the identical md5-derived minima, so batch and stream
    * signatures cannot drift.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesOfHashes(shingleHashes(docs))

  /** Signature build over an ALREADY-COMPUTED (doc_id, h) shingle-hash
    * table — the [[minhashSignatures]] body below its shingle pass,
    * split out so callers that need BOTH the hash table and the
    * signatures (the release-staging v1 builds) tokenize the corpus
    * once instead of twice. Bit-identical: `minhashSignatures(docs) ==
    * minhashSignaturesOfHashes(shingleHashes(docs))` by construction.
    */
  def minhashSignaturesOfHashes(hashes: DataFrame): DataFrame = {
    val hm = hashes.select(col("doc_id"), (col("h") % P).as("hm"))
    val mhAggs = (0 until K).map(i =>
      min((lit(aCoef(i)) * col("hm") + lit(bCoef(i))) % P).as(s"mh_$i"))
    hm.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until K).map(i => col(s"mh_$i")): _*).as("v"))
  }

  /** Banded LSH keys of a signature table (doc_id, v) — b×r slicing of
    * the K-array; the single source for the batch query AND the
    * streaming store, so the bucket keys cannot drift either.
    */
  def minhashBands(vec: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map(b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until K / Bands).map(r =>
          element_at(col("v"), b * (K / Bands) + r + 1)): _*).as("sig")))
    vec.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Stop-band cap for the MinHash LSH band self-join — the last of
    * the four sketch/bucket self-joins to get the
    * PhashBucketCap/SimhashBandCap/IVF-shard guard: a (band, sig)
    * bucket with more than this many members is dropped from BOTH
    * join sides, bounding a degenerate corpus (every doc the same
    * signature ⇒ one bucket ⇒ n²) at n·cap. Chosen from the measured
    * bucket histogram: maxima are 4 at sf0.1 and 10 at the 10× corpus,
    * so the cap drops NOTHING at the oracle-gated SFs and the hash
    * gate pins the capped pipeline. Identical docs share all
    * [[Bands]] bands and forfeit together when saturated — the
    * documented stop-band trade; exact dedup catches identical text
    * upstream of the sketch.
    */
  val MinhashBandCap = 64L

  /** Live (≤cap) subset of a band table — shared by the batch band
    * self-join and the streaming store probe, mirrored in the three
    * minhash oracles. The SATURATED list is the broadcast side: it is
    * bounded by construction (every member exceeds cap, so there are
    * at most n·Bands/cap such buckets), where the keep list is
    * bucket-cardinality-sized — broadcasting the small complement
    * keeps the probe a map-side anti join instead of shuffling the
    * band table a second time (measured 5.3 s → the keep-join form
    * vs 2.1 s pre-cap at sf0.1).
    */
  def minhashLiveBands(bands: DataFrame): DataFrame = {
    val saturated = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") > MinhashBandCap)
      .select(col("band"), col("sig"))
    bands.join(broadcast(saturated), Seq("band", "sig"), "left_anti")
  }

  /** Estimated Jaccard from two K-hash signatures (matching-minima
    * fraction) — built-in higher-order functions, no UDF. `zip_with`
    * and `aggregate` are `CodegenFallback` in Spark 4.1: they evaluate
    * interpreted inside the generated stage, with no Scala closure or
    * row conversion.
    */
  def minhashEst(v1: Column, v2: Column): Column =
    aggregate(zip_with(v1, v2, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x) / lit(K.toDouble)

  /** Estimated-similarity threshold for the streaming near-dup ingest:
    * a new doc is dropped when any smaller-id doc shares an LSH band
    * AND the signature estimate reaches this. 0.5 sits just under the
    * sketch's S-curve midpoint ((1/b)^(1/r) ≈ 0.59, q_lsh_tuning), so
    * banded candidate generation still has high recall at the
    * threshold itself.
    */
  val StreamDupThreshold = 0.5

  /** Average candidate-pair fanout per posting (Σ df² / Σ df) above
    * which candidate generation switches from the plain inverted join
    * to the prefix-filtered (PPJoin) generator. On a Zipfian corpus a
    * handful of stop-shingles put the ratio in the thousands and the
    * plain join turns quadratic; on the synthetic flat-df testdata the
    * ratio is ~17 and the plain join is the cheaper plan (measured
    * ~4.3 s vs ~7.5 s at sf0.1) — so the strategy is chosen from the
    * measured df distribution, not hardcoded either way.
    */
  val HeavyDfRatio = 64.0

  /** Candidate-generation strategy the most recent [[jaccardPairs]]
    * call chose — observable for tests (OpsSpec asserts the prefix
    * path engages on a heavy-df corpus and agrees with the plain one).
    */
  @volatile var lastJaccardStrategy: String = ""

  /** Distinct (doc_id, 60-bit shingle hash) rows — THE canonical
    * shingle-index projection, shared by the batch postings paths and
    * the streaming contamination ingest so the sides cannot drift.
    */
  def shingleHashes(docs: DataFrame): DataFrame =
    docShingles(docs)
      .select(col("doc_id"), h60(col("s")).as("h")).distinct()

  /** Distinct (doc_id, 60-bit shingle hash) postings, cached — feeds
    * sizes plus both sides of whichever candidate join runs.
    */
  private def shinglePostings(docs: DataFrame): DataFrame =
    shingleHashes(docs).cache()

  /** PPJoin prefix-filtered candidates: only each doc's
    * ⌊(1−t)·|d|⌋+1 rarest shingles (global (df, h) order) generate
    * pairs, with the length and positional filters applied inside the
    * join. 100% recall for Jaccard ≥ t (prefix-filter theorem); see
    * q_jaccard_prefix for the full derivation.
    */
  private def prefixCandidates(sh: DataFrame, t: Double): DataFrame = {
    val dfh = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = sh.join(dfh, Seq("h"))
      .withColumn("pos", row_number().over(wdoc))
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .where(col("pos") <= floor((lit(1.0) - lit(t)) * col("sz")).cast("int") + 1)
      .select(col("h"), col("doc_id"), col("sz"), col("pos"))
    prefix.select(col("h"), col("doc_id").as("doc1"),
        col("sz").as("sz1"), col("pos").as("p1"))
      .join(prefix.select(col("h"), col("doc_id").as("doc2"),
        col("sz").as("sz2"), col("pos").as("p2")), Seq("h"))
      .where(col("doc1") < col("doc2") &&
        col("sz2") >= ceil(lit(t) * col("sz1")) &&
        col("sz2") <= floor(col("sz1") / lit(t)) &&
        lit(1) + least(col("sz1") - col("p1"), col("sz2") - col("p2")) >=
          ceil(lit(t / (1.0 + t)) * (col("sz1") + col("sz2"))))
      .select("doc1", "doc2").distinct()
  }

  /** Exact Jaccard ≥ threshold pairs via the inverted shingle index.
    * The join/shuffle key is the 60-bit shingle hash, not the shingle
    * string — 8-byte exchange keys instead of ~20-byte strings (the
    * oracle hashes identically, so results match even under the
    * negligible collision probability). 100% recall: a qualifying pair
    * always shares ≥ 1 shingle.
    *
    * Candidate generation is df-aware: when the measured posting-list
    * fanout Σ df²/Σ df exceeds [[HeavyDfRatio]] (the Zipfian
    * stop-shingle regime where the plain self-join goes quadratic),
    * pairs come from the prefix-filtered generator instead — same
    * output by the prefix-filter theorem, Σ df² restricted to the
    * rare end of the index. Both paths share the exact verify tail,
    * so the result is bit-identical either way.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardPairsFromPostings(shinglePostings(docs), threshold)

  /** [[jaccardPairs]] starting from an existing postings table
    * (distinct (doc_id, h)) — the entry point the materialized
    * [[sharedShinglePostings]] intermediate feeds.
    */
  def jaccardPairsFromPostings(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // One small aggregate over the (already cached) postings decides
    // the strategy; amortized to once per (corpus, threshold) by the
    // sharedJaccardPairs materialization below.
    val usePrefix = threshold > 0 && {
      val r = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .agg(sum(col("df") * col("df")), sum(col("df"))).first()
      !r.isNullAt(0) && r.getLong(0).toDouble > HeavyDfRatio * r.getLong(1)
    }
    lastJaccardStrategy = if (usePrefix) "prefix" else "inverted"
    val inter =
      if (usePrefix)
        prefixCandidates(sh, threshold)
          .join(sh.select(col("doc_id").as("doc1"), col("h")), Seq("doc1"))
          .join(sh.select(col("doc_id").as("doc2"), col("h")), Seq("doc2", "h"))
          .groupBy("doc1", "doc2").agg(count(lit(1)).as("i"))
      else
        sh.select(col("h"), col("doc_id").as("doc1"))
          .join(sh.select(col("h"), col("doc_id").as("doc2")), Seq("h"))
          .where(col("doc1") < col("doc2"))
          .groupBy("doc1", "doc2").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), Seq("doc1"))
      .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), Seq("doc2"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("sz1") + col("sz2") - col("i")))
      .where(col("jaccard") >= threshold)
      .select("doc1", "doc2", "jaccard")
  }

  /** The near-dup pair list IS the similarity join's output — a tiny
    * product consumed by nine downstream operators (components, sizes,
    * canonical, triangles, pagerank ×2, edit-distance re-rank, the
    * prep capstone, the plain pair query). Recomputing the shingle+join chain
    * per consumer multiplied a ~40 s upstream cost across the bench
    * (r2: ~285 s of a 439 s total), so it is materialized ONCE per
    * (corpus dir, threshold) through [[Scratch.materialize]] and every
    * consumer reads the file. This mirrors what a production pipeline
    * does anyway: the similarity join's output is a first-class
    * intermediate table, not a per-query subplan. The round-trip is
    * exact (long, long, double), so every oracle hash is unchanged;
    * correctness runs remain per-query independent because the file is
    * a pure deterministic function of the same inputs.
    *
    * Deliberate contract deviation, shared by every Scratch-backed
    * builder: the first call per session EXECUTES the materialization
    * (and the small df-stats job inside [[jaccardPairs]]) instead of
    * staying lazy — the price of a real intermediate table. Plan-only
    * tooling (Explain, plan lints) therefore sees the READ side of the
    * family queries; the build side's plan is audited once through
    * q_ngram_jaccard's oracle and the OpsSpec dispatch/property tests.
    */
  def sharedJaccardPairs(s: SparkSession, dir: String, threshold: Double): DataFrame =
    Scratch.materialize(s, s"jaccard_pairs|$dir|t$threshold")(
      jaccardPairsFromPostings(sharedShinglePostings(s, dir), threshold))

  /** The distinct (doc_id, 60-bit shingle hash) postings table, the
    * layer BELOW [[sharedJaccardPairs]] in the same materialized-
    * intermediate discipline: six operators (the pair-list build,
    * minhash, the prefix-filter join, the sketch audit, containment,
    * contamination) all start from identical postings, and at 100 TB
    * the tokenize→shingle→hash pass over the corpus is the single
    * most expensive map stage in the family — a production pipeline
    * writes it once as a first-class table and every consumer scans
    * the (far smaller) postings instead of re-deriving them from raw
    * text. Distinct-per-doc is the family's shared invariant: minhash
    * takes per-doc minima and the audits count distinct hashes, so
    * every consumer is unchanged by the dedup.
    */
  def sharedShinglePostings(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"shingle_postings|$dir")(
      shingleHashes(Tables(s, dir, "documents")))

  /** 60-bit SimHash signatures with their 4×15-bit band keys —
    * (doc_id, simhash, band, key), one definition shared by
    * q_dedup_simhash (the dedup) and q_simhash_recall (its candidate
    * audit) so the sketch and its audit cannot drift. Token-count
    * explode + one per-doc 60-column conditional aggregate; the band
    * explode is 4 rows/doc.
    */
  private def simhashBandTable(s: SparkSession, dir: String): DataFrame = {
    val tc = Tables.fanout(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .withColumn("h", h60(col("t")))
    val contribs = (0 until 60).map(j =>
      sum(col("cnt") * (shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1)).as(s"c_$j"))
    val sums = tc.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
    val sim = sums.select(col("doc_id"),
      (0 until 60).map(j =>
        when(col(s"c_$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(32767L)).as("key")))
    sim.select(col("doc_id"), col("simhash"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Stop-band cap for the SimHash band self-join (the PhashBucketCap
    * lesson applied to the third sketch): a band key shared by more
    * than this many docs is a population pattern, not a near-dup
    * signal, and its c² candidate product is what quadratices on a
    * self-similar corpus — measured 12.9M candidates for 50k sf1 docs
    * with ZERO exact pairs among them, and 62% of the sf0.1 pair
    * product coming from buckets over this cap. At the oracle-gated
    * SFs the cap drops nothing (max bucket 27), so the hash-exact gate
    * pins the capped pipeline itself. Recall tradeoff (same as phash):
    * a hamming-≤3 pair whose every shared band is saturated is lost —
    * acceptable because a saturated band is exactly where hamming
    * verification was about to do c² work for population-level
    * collisions.
    */
  val SimhashBandCap = 64

  /** [[simhashBandTable]] restricted to non-saturated band buckets —
    * the candidate-generation side shared by q_dedup_simhash and
    * q_simhash_recall (cap applied to BOTH join sides before the
    * product, the phashPairs shape).
    */
  private[graft] def simhashLiveBands(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"simhash_livebands_$dir") {
      val bt = simhashBandTable(s, dir)
      // broadcast the BOUNDED saturated complement (≤ n·4/cap buckets by
      // construction) as a map-side anti join — the keep-list inner join
      // shuffled the band table a second time (the minhash cap lesson)
      val saturated = bt.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") > SimhashBandCap)
        .select(col("band"), col("key"))
      bt.join(broadcast(saturated), Seq("band", "key"), "left_anti")
    }
  // ^ session-shared materialized intermediate (round 8): the capped
  //   band table feeds q_dedup_simhash AND q_simhash_recall — each
  //   re-ran the tokenize + 60-bit fold + band explode + stop-band
  //   census. Billed as shared_simhash_bands in Bench.

  /** The banded MinHash candidate pairs WITH estimates — q_dedup_minhash's
    * body, session-materialized (round 8): q_minhash_error and
    * q_lsh_recall each re-ran the signature build + band self-join +
    * estimate joins by invoking the query builder. The est-pair table
    * IS the sketch index's output, so materializing it is what a
    * production store does anyway. Billed as shared_minhash_pairs.
    */
  private[graft] def sharedMinhashEstPairs(s: SparkSession,
      dir: String): DataFrame = Scratch.materialize(s, s"minhash_pairs_$dir") {
    // Builder-time materialization (the ivfProbed precedent): plan
    // tooling that constructs these queries pays the one-time build
    // and then sees a parquet scan; the pipeline's own plan shape is
    // audited by its spec and the oracle replay, not by Explain.
    // The signature table is its OWN Scratch parquet (n × K longs),
    // not a .cache() — a cache built inside a once-per-session
    // materialize would pin executor storage with zero future readers
    // (every later consumer scans the pairs parquet).
    // per-doc minima are invariant to the postings dedup, so the
    // shared materialized postings replace the raw shingle pass
    val vec = Scratch.materialize(s, s"minhash_vec_$dir")(
      minhashSignaturesOfHashes(sharedShinglePostings(s, dir)))
    val bands = minhashLiveBands(minhashBands(vec))
    val cand = bands.select(col("band"), col("sig"), col("doc_id").as("doc1"))
      .join(bands.select(col("band"), col("sig"), col("doc_id").as("doc2")),
        Seq("band", "sig"))
      .where(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    cand
      .join(vec.select(col("doc_id").as("doc1"), col("v").as("v1")), Seq("doc1"))
      .join(vec.select(col("doc_id").as("doc2"), col("v").as("v2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        minhashEst(col("v1"), col("v2")).as("est_sim"))
  }

  /** THE contaminated-doc set (train docs sharing ≥ 1 shingle hash
    * with the doc_id % 50 = 0 eval slice) — single definition of the
    * decontamination predicate shared by the census (q_decontaminate)
    * and the physical drop ([[decontaminateApply]]), the
    * Prep.deletionList discipline applied to eval leakage.
    */
  private[graft] def contaminatedDocs(s: SparkSession, dir: String): DataFrame = {
    val sh = sharedShinglePostings(s, dir)
    val ev = sh.where(col("doc_id") % 50 === 0).select(col("h")).distinct()
    sh.where(col("doc_id") % 50 =!= 0)
      .join(broadcast(ev), Seq("h"))
      .select(col("doc_id")).distinct()
  }

  /** THE near-dup drop set (docs that are NOT their component's
    * min-id representative) — single predicate shared by the census
    * (q_dedup_apply) and the physical drop ([[dedupApply]]), the
    * deletionList discipline applied to near-dup collapse.
    */
  private[graft] def nearDupDrops(s: SparkSession, dir: String): DataFrame =
    connectedComponents(Tables(s, dir, "documents"),
      sharedJaccardPairs(s, dir, 0.6))
      .where(col("component") =!= col("doc_id"))
      .select(col("doc_id"))

  /** EXECUTE the near-dup collapse q_dedup_apply censuses: write the
    * corpus under `outDir` keeping exactly one representative (the
    * component's min doc_id) per near-dup cluster — one scan + one
    * anti-join probe on doc_id (the drop set is the similarity join's
    * bounded output). Idempotent by construction: survivors of
    * different components are never near-dups of each other (they
    * would have been one component), so re-running finds nothing.
    */
  def dedupApply(s: SparkSession, dir: String, outDir: String): Unit = {
    Tables(s, dir, "documents")
      .join(nearDupDrops(s, dir), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** EXECUTE the decontamination q_decontaminate censuses: write the
    * training corpus under `outDir` with every contaminated doc
    * physically removed — one scan + one anti-join probe on doc_id
    * (the forgetApply partition-rewrite shape; the flagged set is the
    * similarity join's bounded OUTPUT, not the corpus).
    */
  def decontaminateApply(s: SparkSession, dir: String, outDir: String): Unit = {
    Tables(s, dir, "documents").where(col("doc_id") % 50 =!= 0)
      .join(contaminatedDocs(s, dir), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Connected components over an undirected pair list: every doc's
    * label converges to the smallest doc_id reachable through near-dup
    * edges. Two structural choices carry the 100 TB story:
    *  - compute ONLY over vertices that have edges — the near-dup
    *    graph is orders of magnitude smaller than the corpus, and
    *    isolated docs (the overwhelming majority) join back in one
    *    final left join as their own singleton component;
    *  - the distributed path is alternating large-star/small-star
    *    (Kiveris et al., "Connected Components in MapReduce and
    *    Beyond"): each round rewrites the edge set toward min-rooted
    *    stars and converges in O(log n) rounds independent of graph
    *    diameter — a chain-of-captions graph that takes 10⁵ rounds of
    *    naive label propagation finishes in ~17.
    * Driver-side loop with two shuffles per star round, per-round
    * cache truncating the lineage. Deterministic (min reachable id is
    * algorithm-independent), so a recursive-CTE oracle replays it.
    */
  /** Size threshold under which the component computation collapses to
    * driver-side union-find. The pair list is the OUTPUT of the
    * similarity join — orders of magnitude smaller than the corpus —
    * so even a 100 TB corpus with a selective threshold often lands
    * under this; when it doesn't, the distributed propagation loop
    * takes over. Hybrid small-graph/large-graph dispatch is the shape
    * GraphFrames uses for the same reason: an iterative Spark job has
    * a per-round scheduling floor that dwarfs sub-second local work.
    */
  val LocalCcMaxPairs = 4000000L

  /** Power iterations for the full q_pagerank loop (unrolled verbatim
    * in its oracle — keep the two in sync through this constant).
    */
  val PrIters = 3

  def connectedComponents(docs: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(docs, pairs, LocalCcMaxPairs)

  def connectedComponents(docs: DataFrame, pairs: DataFrame,
      localMaxPairs: Long): DataFrame = {
    // Materialize the pair list ONCE before fanning out: it feeds both
    // union directions and every propagation round, and without the
    // eager count the two union branches race-compute the whole
    // similarity-join chain concurrently on a cold cache (measured 3×
    // the query cost). The pair list is the small product of the
    // similarity join — caching it is bounded at any corpus size.
    val p = pairs.cache()
    val nPairs = p.count()
    if (nPairs <= localMaxPairs) {
      // Driver-side union-find (union-by-min + path compression): the
      // root of every set is the smallest member, which is exactly the
      // min-label-propagation fixpoint, so both paths agree with the
      // recursive-CTE oracle. One broadcast join labels the corpus.
      val es = p.select(col("doc1"), col("doc2")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      p.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = es.iterator.flatMap(e => Iterator(e._1, e._2))
        .toSeq.distinct.map(v => (v, find(v)))
      val session = docs.sparkSession
      import session.implicits._
      val lab = broadcast(labels.toDF("doc_id", "cc_label"))
      return docs.select(col("doc_id"))
        .join(lab, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cc_label"), col("doc_id")).as("component"))
    }
    val labels = starComponents(p.select(col("doc1").as("u"), col("doc2").as("v")))
    p.unpersist()
    // Singleton components (docs with no near-dup edge) never enter
    // the loop; fold them back with one map-side-friendly left join.
    // The final round's cache backs the returned plan and is released
    // with the session (one bounded residual, not one per iteration).
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("component"))
  }

  /** Large-star: every node connects its strictly-larger neighbors to
    * the minimum of its closed neighborhood. Keeps connectivity,
    * strictly shrinks large-id hubs toward minima.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("nmin"))
      .select(col("u"), least(col("u"), col("nmin")).as("m"))
    sym.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: direct edges high→low, then every node connects its
    * smaller neighbors (and itself) to their collective minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dirE = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val withM = dirE.join(dirE.groupBy("u").agg(min(col("v")).as("m")), Seq("u"))
    withM.select(col("v").as("u"), col("m").as("v"))
      .unionByName(withM.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Alternating large-star/small-star to a fixpoint: the edge set
    * converges to stars rooted at each component's minimum id in
    * O(log n) rounds (vs O(diameter) for label propagation — the
    * difference between 17 rounds and 10⁵ on a chain of 10⁵ docs).
    * Convergence is detected by an order-independent edge-set
    * signature (count + bit_xor of the pair hash): one 2-value
    * aggregate per round instead of a set-difference join. Returns
    * (doc_id, label) for every vertex that appears in an edge.
    */
  def starComponents(pairs: DataFrame): DataFrame = {
    // localCheckpoint (not cache) each round: both star stages
    // reference their input several times, so the LOGICAL plan grows
    // ~16× per round and re-optimizing it turns exponential by round
    // 3 — caching prevents recomputation but never shrinks the plan.
    // Checkpointing restarts the plan from the materialized partitions
    // (on a multi-node cluster prefer reliable `checkpoint()` — a lost
    // executor can't replay truncated lineage). Superseded checkpoints
    // are released by the ContextCleaner once unreferenced.
    var e = pairs.where(col("u") =!= col("v")).distinct().localCheckpoint()
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(e)
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "star rounds exceeded 2·log2(maxLong) — non-convergence bug")
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nextSig = signature(next)
      e = next
      converged = nextSig == sig
      sig = nextSig
    }
    // Fixpoint edges form min-rooted stars: u → root, plus the roots
    // labeling themselves.
    e.select(col("u").as("doc_id"), col("v").as("label"))
      .unionByName(e.select(col("v").as("doc_id"), col("v").as("label")))
      .distinct()
  }

  val queries: Map[String, Q] = Map(
    // Near-dup clusters (not just pairs): connected components over
    // the jaccard graph; keeper = smallest doc_id per component.
    "q_dedup_components" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      connectedComponents(docs, sharedJaccardPairs(s, dir, 0.6))
        .withColumn("keeper", col("doc_id") === col("component"))
        .orderBy(col("doc_id"))
    }),

    // Component-SIZE distribution of the near-dup graph — the shape
    // statistic that drives dedup policy (a long tail of pairs vs a
    // few mega-clusters need different survivors-per-cluster rules;
    // a web-scale mega-component usually means a boilerplate shingle
    // leaked through the filters). One tiny re-aggregate of the
    // labels frame: size per component, then components per size.
    "q_cc_sizes" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      connectedComponents(docs, sharedJaccardPairs(s, dir, 0.6))
        .groupBy(col("component")).agg(count(lit(1)).as("cl_size"))
        .groupBy(col("cl_size")).agg(count(lit(1)).as("n_components"))
        .orderBy(col("cl_size"))
    }),

    // Near-dup rate per crawl SOURCE — the curation-prioritization
    // census: which sources feed the duplicate graph (a source with a
    // high dup rate or a fat share of pair endpoints is boilerplate-
    // heavy and worth a source-specific filter before it taxes every
    // downstream dedup pass). Rides the session-shared pair list;
    // beyond it the cost is one metadata join on doc_id and two small
    // per-source aggregates — text never moves.
    "q_dup_rate_by_source" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = sharedJaccardPairs(s, dir, 0.6)
      val ends = pairs.select(col("doc1").as("doc_id"))
        .unionByName(pairs.select(col("doc2").as("doc_id")))
      val dup = ends.distinct().withColumn("is_dup", lit(true))
      val pairEnds = ends
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_pair_ends"))
      docs.select(col("doc_id"), col("source"))
        .join(dup, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"))
        .join(pairEnds, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
            .as("dup_rate"),
          coalesce(col("n_pair_ends"), lit(0L)).as("n_pair_ends"))
        .orderBy(col("source"))
    }),

    // Source-assortativity of the near-dup graph — does duplication
    // stay WITHIN sources (mirror sites, template reuse) or cross
    // them (syndication, scraping overlap)? Newman's assortativity
    // coefficient over the source partition: r = (q_intra − Σ_s
    // (d_s/2m)²)/(1 − Σ_s (d_s/2m)²), where m = |pairs|, q_intra =
    // same-source pair share, d_s = pair-ends in s. Cross-source
    // duplication is the governance signal: it survives per-source
    // dedup shards, so high disassortativity means the dedup job
    // CANNOT be partitioned by source. Rides the shared pair list;
    // beyond it the cost is two broadcast label joins and one
    // |sources|-key aggregate. Σd_s² stays BIGINT (exact) and the
    // three doubles are single divisions — hash-exact. Both 0/0
    // poles degrade to NULL via guarded CASEs, not NaN mismatches:
    // m = 0 (a pair-free corpus, the sf1 lesson) NULLs the rates, and
    // q_exp = 1 (every pair-end inside one source) NULLs r itself.
    "q_dup_assortativity" -> ((s, dir) => {
      val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      val pairs = sharedJaccardPairs(s, dir, 0.6)
        .join(src.select(col("doc_id").as("doc1"), col("source").as("s1")),
          Seq("doc1"))
        .join(src.select(col("doc_id").as("doc2"), col("source").as("s2")),
          Seq("doc2"))
      val deg = pairs.select(col("s1").as("source"))
        .unionByName(pairs.select(col("s2").as("source")))
        .groupBy(col("source")).agg(count(lit(1)).as("d"))
      val sumSq = deg.agg(coalesce(sum(col("d") * col("d")), lit(0L))
        .as("sum_d2"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("s1") === col("s2"), 1L).otherwise(0L)).as("n_intra"))
        .crossJoin(broadcast(sumSq))
        .withColumn("q_intra",
          when(col("n_pairs") > 0,
            col("n_intra").cast("double") / col("n_pairs")))
        .withColumn("q_exp",
          when(col("n_pairs") > 0, col("sum_d2").cast("double") /
            (lit(4L) * col("n_pairs") * col("n_pairs"))))
        .select(col("n_pairs"), col("n_intra"),
          round(col("q_intra"), 6).as("intra_rate"),
          round(col("q_exp"), 6).as("expected_rate"),
          // q_exp = 1 (every pair-end in one source) makes Newman's r
          // 0/0; guard to NULL like the m = 0 case rather than lean
          // on both engines hashing NaN identically.
          round(when(col("q_exp") < 1.0,
            (col("q_intra") - col("q_exp")) / (lit(1.0) - col("q_exp"))), 6)
            .as("assortativity"))
    }),

    // SoftDeDup down-weighting (Xue et al. 2024, arXiv:2407.04787 —
    // "reweight, don't remove"): instead of dropping near-dup copies,
    // every document gets sampling weight 1/|its near-dup cluster|, so
    // duplicated CONTENT contributes the mass of one copy while no
    // text is discarded. Rides the session-shared pair list and the
    // same component labels as q_dedup_components; beyond them the
    // cost is one cluster-size aggregate (≤ docs rows) and a label
    // join — the corpus text never moves. Singletons keep weight 1 by
    // construction (their component is themselves). The per-doc
    // weights feed a sampler directly (q_importance_sample's seeded
    // coin with p = weight is the executable form).
    "q_softdedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = connectedComponents(docs, sharedJaccardPairs(s, dir, 0.6))
      val csize = labels.groupBy(col("component"))
        .agg(count(lit(1)).as("cl_size"))
      labels.join(csize, Seq("component"))
        .select(col("doc_id"), col("cl_size"),
          round(lit(1.0) / col("cl_size"), 6).as("weight"))
        .orderBy(col("doc_id"))
    }),

    // First-seen n-gram novelty (the Lee et al. dedup-analysis lens
    // turned into a standing audit): for every document, the fraction
    // of its distinct shingles whose FIRST occurrence in doc_id order
    // is that document — how much genuinely new content each doc adds
    // to the corpus. Low-novelty docs are recombinations of earlier
    // material (template farms score ~0 even when no pair clears the
    // Jaccard threshold — this catches mosaic duplication that
    // pairwise dedup structurally cannot). Rides the shared postings:
    // one min-per-hash fold and one hash-co-partitioned join back,
    // both linear in the postings, then a doc_id-local fold. No pair
    // product anywhere — saturation-proof where the band joins need
    // caps.
    "q_ngram_novelty" -> ((s, dir) => {
      val post = sharedShinglePostings(s, dir)
      val first = post.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      post.join(first, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_sh"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_sh"), 6).as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // Canonical-copy selection per near-dup cluster — dedup that keeps
    // the BEST copy, not the lexicographically first: join the
    // component labels with the per-doc quality score (same formula as
    // q_quality_score) and take the per-component argmax in ONE
    // aggregate — max over a (score, -doc_id) struct, ties to the
    // smaller doc_id — no per-cluster sort, no window. The label frame
    // is O(docs), scoring is map-only, and the argmax shuffles one
    // struct per doc; at 100 TB the cluster sizes never enter the
    // memory or shuffle picture.
    "q_dedup_canonical" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = connectedComponents(docs, sharedJaccardPairs(s, dir, 0.6))
      val lt = lower(col("text"))
      val toks = tokens(col("text"))
      val scored = Tables.fanout(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          TextAnalysis.qualityScore(size(toks),
            TextAnalysis.nMatches(lt, TextAnalysis.EnPat),
            TextAnalysis.nMatches(col("text"), TextAnalysis.PunctPat),
            TextAnalysis.nMatches(col("text"), TextAnalysis.DigitPat),
            length(col("text"))).as("score"))
      labels.join(scored, Seq("doc_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("score").as("s"), (-col("doc_id")).as("nid")))
            .as("best"))
        .select(col("component"), col("n_members"),
          (-col("best.nid")).as("best_doc"),
          round(col("best.s"), 6).as("best_score"))
        .orderBy(col("component"))
    }),

    // EXECUTABLE near-dup collapse: the components computation turned
    // into the censused DROP the whole dedup family exists to drive —
    // per-source counts of docs/dropped/kept plus the bit_xor receipt
    // over kept content keys (the q_forget / q_decontaminate receipt
    // discipline — this completes the executable-removal trio: RTBF,
    // eval decontamination, near-dup collapse). ONE shared drop
    // predicate ([[nearDupDrops]]: not the component's min-id rep)
    // drives both the census and the physical anti-join rewrite
    // ([[dedupApply]], OpsSpec proves receipt equality + idempotence).
    "q_dedup_apply" -> ((s, dir) => {
      val drops = nearDupDrops(s, dir).withColumn("hit", lit(1))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          h60(concat(lit("d:"), col("doc_id").cast("string"))).as("h"))
        .join(drops, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hit") === 1, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_kept"),
          expr("bit_xor(CASE WHEN hit IS NULL THEN h ELSE CAST(0 AS BIGINT) END)")
            .as("kept_checksum"))
        .orderBy(col("source"))
    }),

    // Exact dedup: keep the smallest doc_id per identical text.
    "q_dedup_exact" -> ((s, dir) =>
      dupCorpus(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies"))
        .orderBy(col("keeper"))),

    // The dedup CASCADE census (the Dolma/FineWeb pipeline shape:
    // exact → near-dup → semantic): every doc is credited to the
    // FIRST standing drop signal that catches it — content-hash
    // non-keeper, near-dup non-representative ([[nearDupDrops]], the
    // q_dedup_apply predicate), or SemDeDup within-cluster duplicate
    // ([[Similarity.semdedupDropped]], the q_semdedup predicate).
    // Attribution semantics, stated precisely: the signals are the
    // STANDING full-corpus predicates intersected in cascade order
    // (the q_filter_funnel convention), NOT a re-executed pipeline
    // where each stage recomputes on the prior stage's survivors.
    // For the exact and near stages the two are provably identical
    // (exact duplicates share their shingle set, so the pair graph
    // restricted to exact survivors yields the same components); for
    // the semantic stage they can differ — re-clustering the
    // survivor subset could re-seed and keep a doc whose only
    // sub-threshold mate was already dropped upstream. The census
    // form is the cheap standing audit; [[dedupApply]]-style staged
    // re-execution is the physical pipeline. Reusing the three
    // standing predicates means this census can never disagree with
    // the operators that execute the drops. Each
    // signal is the bounded output of its own banded/blocked join;
    // the funnel itself adds two doc_id probe joins, one 8-byte
    // content-hash keeper join (the text never shuffles), and a 1-row
    // aggregate exploded into 3 stage rows.
    // At 100 TB the stages run at their own contracts; the funnel's
    // incremental cost is one corpus scan.
    "q_dedup_funnel" -> ((s, dir) => {
      // exact stage shuffles the 8-byte content hash, never the text
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), h60(col("text")).as("ch"))
      val keepers = docs.groupBy(col("ch")).agg(min(col("doc_id")).as("keeper"))
      val near = nearDupDrops(s, dir).withColumn("near_hit", lit(1))
      val sem = Similarity.semdedupDropped(s, dir)
        .select(col("vec_id").as("doc_id"), lit(1).as("sem_hit"))
      val flags = docs.join(keepers, Seq("ch"))
        .join(near, Seq("doc_id"), "left")
        .join(sem, Seq("doc_id"), "left")
        .select((col("doc_id") =!= col("keeper")).as("ex"),
          col("near_hit").isNotNull.as("nr"),
          col("sem_hit").isNotNull.as("sm"))
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      val a = flags.agg(count(lit(1)).as("n0"),
        cnt(col("ex")).as("d1"),
        cnt(!col("ex") && col("nr")).as("d2"),
        cnt(!col("ex") && !col("nr") && col("sm")).as("d3"))
      a.select(explode(array(
          struct(lit(1).as("stage"), lit("exact").as("rule"),
            col("n0").as("n_in"), col("d1").as("n_dropped"),
            (col("n0") - col("d1")).as("n_out")),
          struct(lit(2).as("stage"), lit("near").as("rule"),
            (col("n0") - col("d1")).as("n_in"), col("d2").as("n_dropped"),
            (col("n0") - col("d1") - col("d2")).as("n_out")),
          struct(lit(3).as("stage"), lit("semantic").as("rule"),
            (col("n0") - col("d1") - col("d2")).as("n_in"),
            col("d3").as("n_dropped"),
            (col("n0") - col("d1") - col("d2") - col("d3")).as("n_out"))))
          .as("r"))
        .select(col("r.*")).orderBy(col("stage"))
    }),

    // MinHash + LSH near-dup candidates with estimated similarity —
    // the session-materialized est-pair table ([[sharedMinhashEstPairs]])
    // plus the presentation sort.
    "q_dedup_minhash" -> ((s, dir) =>
      sharedMinhashEstPairs(s, dir).orderBy(col("doc1"), col("doc2"))),

    // SimHash: 60-bit signature, banded self-join, hamming ≤ 3.
    "q_dedup_simhash" -> ((s, dir) => {
      val bt = simhashLiveBands(s, dir)
      bt.select(col("band"), col("key"), col("doc_id").as("doc1"), col("simhash").as("sh1"))
        .join(bt.select(col("band"), col("key"), col("doc_id").as("doc2"), col("simhash").as("sh2")),
          Seq("band", "key"))
        .where(col("doc1") < col("doc2"))
        .select(col("doc1"), col("doc2"),
          expr("CAST(bit_count(sh1 ^ sh2) AS INT)").as("hamming"))
        .distinct()
        .where(col("hamming") <= 3)
        .orderBy(col("doc1"), col("doc2"))
    }),

    // Empirical candidate-quality audit of the SimHash bands — the
    // q_lsh_recall twin for the OTHER sketch: banded-SimHash candidate
    // pairs scored against the exact shingle-Jaccard ≥ 0.6 truth (the
    // shared pair list). SimHash sketches token-multiset cosine, not
    // shingle Jaccard, so unlike MinHash its recall on this truth is
    // NOT a banding theorem — the measured number quantifies the
    // sketch-mismatch penalty, which is exactly the datum an operator
    // needs when choosing between the two sketches for a corpus. Same
    // bounded shape as q_lsh_recall: band self-join + one semi-join +
    // three 1-row aggregates.
    "q_simhash_recall" -> ((s, dir) => {
      val bt = simhashLiveBands(s, dir)
      val cand = bt.select(col("band"), col("key"), col("doc_id").as("doc1"))
        .join(bt.select(col("band"), col("key"), col("doc_id").as("doc2")),
          Seq("band", "key"))
        .where(col("doc1") < col("doc2"))
        .select("doc1", "doc2").distinct()
      val exact = sharedJaccardPairs(s, dir, 0.6).select(col("doc1"), col("doc2"))
      val hits = exact.join(cand, Seq("doc1", "doc2"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(col("n_exact"), col("n_cand"), col("n_hit"),
          // a corpus where a stage finds NOTHING (zero exact pairs or
          // zero banded candidates — the sf1 SimHash corpus does this)
          // must yield NULL, not an ANSI divide-by-zero: DuckDB's x/0
          // is NULL, so the guard IS the oracle's semantics
          when(col("n_exact") > 0,
            round(col("n_hit").cast("double") / col("n_exact"), 6))
            .as("recall"),
          when(col("n_cand") > 0,
            round(col("n_hit").cast("double") / col("n_cand"), 6))
            .as("candidate_precision"))
    }),

    // Exact n-gram Jaccard similarity join via inverted shingle index.
    "q_ngram_jaccard" -> ((s, dir) =>
      sharedJaccardPairs(s, dir, 0.6)
        .orderBy(col("doc1"), col("doc2"))),

    // Triangle count over the near-dup graph — the clustering-
    // coefficient primitive for auditing how clique-like near-dup
    // neighborhoods are (transitive similarity ⇒ safe to collapse a
    // whole component to one survivor; sparse triangles ⇒ chains of
    // borderline pairs stitched through hubs). Canonical a<b<c edges
    // make each triangle one (a,b)⋈(b,c) wedge closed by an (a,c)
    // edge — two joins on the PAIR LIST (the similarity join's small
    // output, cached once), never the corpus. At web scale the
    // standard refinement is compact-forward: orient edges low-degree
    // → high-degree so wedge generation is bounded by Σ min-degree².
    "q_triangles" -> ((s, dir) => {
      val e = sharedJaccardPairs(s, dir, 0.6)
        .select(col("doc1").as("a"), col("doc2").as("b")).cache()
      val wedges = e.join(e.select(col("a").as("b"), col("b").as("c")), "b")
      wedges.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // Prefix-filtered exact Jaccard (PPJoin's candidate pruning): the
    // SAME pairs as q_ngram_jaccard (identical oracle — this query is
    // the optimization, not a new semantic), but candidates are
    // generated only from each doc's ⌊(1−t)·|d|⌋+1 RAREST shingles
    // under a global (df, h) order. Prefix-filter theorem: a pair
    // with overlap ≥ α shares an element within its (|d|−α+1)-prefix
    // under any common total order, and J ≥ t ⇒ α ≥ ⌈t·max(|A|,|B|)⌉,
    // so recall stays 100% while candidate generation touches only
    // the low-df end of the index — at web scale this is the
    // difference between Σ df² over ALL shingles (stop-shingles make
    // it quadratic) and Σ df² over rare ones. Candidates then verify
    // exactly against the full shingle sets.
    // Honest bench note: the synthetic corpus draws from a ~31-token
    // vocabulary, so its shingle df distribution is FLAT — "rarest"
    // shingles still collide heavily and the pruning passes cost more
    // than they save here (~7.5 s vs ~4.3 s for the plain inverted
    // join at sf0.1). On Zipfian real text the stop-shingle head is
    // what makes the plain join quadratic, and the prefix+length+
    // positional filters are the standard fix; this query carries the
    // pattern and proves its recall, the bench carries the caveat.
    "q_jaccard_prefix" -> ((s, dir) => {
      // Forces the prefix-filtered generator (the same
      // [[prefixCandidates]] that [[jaccardPairs]] dispatches to when
      // the df distribution is heavy) so the scale path is exercised
      // and oracle-checked even on this flat-df corpus, where the
      // adaptive dispatch would pick the plain join. PPJoin's prunes
      // (length filter: J ≥ t bounds the size ratio to [t·|A|, |A|/t];
      // positional filter: a shared prefix element at (p1, p2) caps
      // remaining overlap at 1 + min(sz1−p1, sz2−p2), which must reach
      // ⌈t/(1+t)·(sz1+sz2)⌉) live inside prefixCandidates.
      val t = 0.6
      val sh = sharedShinglePostings(s, dir).cache()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      prefixCandidates(sh, t)
        .join(sh.select(col("doc_id").as("doc1"), col("h")), Seq("doc1"))
        .join(sh.select(col("doc_id").as("doc2"), col("h")), Seq("doc2", "h"))
        .groupBy("doc1", "doc2").agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), Seq("doc1"))
        .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), Seq("doc2"))
        .withColumn("jaccard",
          col("i").cast("double") / (col("sz1") + col("sz2") - col("i")))
        .where(col("jaccard") >= t)
        .select("doc1", "doc2", "jaccard")
        .orderBy(col("doc1"), col("doc2"))
    }),

    // Sketch-quality audit: MAE and worst-case error of the MinHash
    // estimate against exact Jaccard, over the LSH candidate pairs.
    // This is how a production pipeline validates its sketch
    // parameters (K, bands) on a sample before trusting them at
    // 100 TB. Exact Jaccard is computed CANDIDATES-ONLY: the sketch
    // emits a handful of pairs, so the verify tail (postings join +
    // intersection count) runs restricted to those pairs instead of
    // materializing the full threshold-0 pair list (which at 100 TB
    // is the one thing a sketch audit must never do — r2 spent 9 s
    // of bench on it at sf0.1). The inner join drops sketch pairs
    // with zero shared shingles, exactly as the full-list join did.
    // The mean goes through a decimal sum so it is aggregation-order
    // independent.
    "q_minhash_error" -> ((s, dir) => {
      val est = sharedMinhashEstPairs(s, dir)
      val sh = sharedShinglePostings(s, dir).cache()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      est.select(col("doc1"), col("doc2"), col("est_sim"))
        .join(sh.select(col("doc_id").as("doc1"), col("h")), Seq("doc1"))
        .join(sh.select(col("doc_id").as("doc2"), col("h")), Seq("doc2", "h"))
        .groupBy("doc1", "doc2", "est_sim").agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), Seq("doc1"))
        .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), Seq("doc2"))
        .withColumn("jaccard",
          col("i").cast("double") / (col("sz1") + col("sz2") - col("i")))
        .select(abs(col("est_sim") - col("jaccard")).as("err"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("err").cast("decimal(28,20)")).cast("double") /
            count(lit(1)), 6).as("mae"),
          round(max(col("err")), 6).as("max_err"))
    }),

    // k-core decomposition (k=2, fixed 3 peel rounds) over the
    // near-dup graph — the graph-family member that separates DENSE
    // duplication cores (template farms, mirror clusters — every
    // vertex keeps ≥2 neighbors after repeated peeling) from incidental
    // pairwise matches, which CC lumps into the same component. Each
    // round is one degree aggregate + one induced-subgraph semi-join
    // on the (tiny) surviving vertex set; edges only shrink, and
    // localCheckpoint truncates the loop lineage (the pagerank
    // discipline). Fixed-round form like q_pagerank_step, so the
    // oracle unrolls the peels verbatim.
    "q_kcore" -> ((s, dir) => {
      val kMin = 2; val rounds = 3 // mirrored literally in the oracle
      val p = sharedJaccardPairs(s, dir, 0.6).select(col("doc1"), col("doc2"))
      var edges = p.select(col("doc1").as("a"), col("doc2").as("b"))
        .unionByName(p.select(col("doc2").as("a"), col("doc1").as("b")))
      for (_ <- 0 until rounds) {
        val keep = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
          .where(col("deg") >= kMin).select(col("a").as("v"))
        edges = edges
          .join(keep.select(col("v").as("a")), Seq("a"))
          .join(keep.select(col("v").as("b")), Seq("b"))
          .select(col("a"), col("b"))
          .localCheckpoint()
      }
      edges.groupBy(col("a")).agg(count(lit(1)).as("core_deg"))
        .select(col("a").as("doc_id"), col("core_deg"))
        .orderBy(col("doc_id"))
    }),

    // LSH parameter design table — the analytic S-curve of the
    // configured sketch (K=32 hashes as b=8 bands × r=4 rows):
    // P(candidate | J=s) = 1 − (1 − s^r)^b, evaluated on a similarity
    // grid. This is the other half of the q_minhash_error audit: the
    // empirical sketch quality is measured there, the DESIGN curve
    // (what recall/false-positive trade the parameters promise, where
    // the 50% threshold (1/b)^(1/r) ≈ 0.59 sits) is computed here —
    // together they are how band/row counts get chosen before a
    // 100 TB run. Powers are spelled as repeated IEEE multiplications,
    // NOT pow(): libm pow differs across engines in the last ulp,
    // double multiplication is bit-exact everywhere.
    "q_lsh_tuning" -> ((s, dir) => {
      require(K / Bands == 4 && Bands == 8,
        "oracle SQL unrolls r=4 rows and b=8 bands — keep in sync")
      val sim = col("id").cast("double") * lit(0.05)
      val pBand = sim * sim * sim * sim // s^r, r = 4
      val q = lit(1.0) - pBand
      val q8 = q * q * q * q * q * q * q * q // (1-s^r)^b, b = 8
      s.range(1, 20).toDF("id")
        .select(sim.as("sim"), pBand.as("p_band"),
          (lit(1.0) - q8).as("p_candidate"))
        .orderBy(col("sim"))
    }),

    // Empirical LSH candidate-quality audit — the MEASURED complement
    // of q_lsh_tuning's analytic S-curve, closing the audit symmetry
    // the approximate families share (IVF ANN → q_ann_recall, MinHash
    // estimate → q_minhash_error, LSH candidate GENERATION → this):
    // recall = fraction of true Jaccard-≥0.6 pairs the banded join
    // surfaces, candidate_precision = fraction of surfaced candidates
    // that are true pairs (the verify stage's workload efficiency).
    // Both sides ride session-materialized intermediates (pair list,
    // sketch candidates from the shared postings) and the whole
    // pipeline is deterministic md5 arithmetic, so the quality metric
    // itself is ORACLE-EXACT — at 100 TB this single cheap row is how
    // you know the sketch parameters still fit the corpus before
    // trusting a full dedup pass (three tiny aggregates + a semi-join
    // on 8-byte pair keys; never the corpus).
    "q_lsh_recall" -> ((s, dir) => {
      val exact = sharedJaccardPairs(s, dir, 0.6).select(col("doc1"), col("doc2"))
      val cand = sharedMinhashEstPairs(s, dir).select(col("doc1"), col("doc2"))
      val hits = exact.join(cand, Seq("doc1", "doc2"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(col("n_exact"), col("n_cand"), col("n_hit"),
          // a corpus where a stage finds NOTHING (zero exact pairs or
          // zero banded candidates — the sf1 SimHash corpus does this)
          // must yield NULL, not an ANSI divide-by-zero: DuckDB's x/0
          // is NULL, so the guard IS the oracle's semantics
          when(col("n_exact") > 0,
            round(col("n_hit").cast("double") / col("n_exact"), 6))
            .as("recall"),
          when(col("n_cand") > 0,
            round(col("n_hit").cast("double") / col("n_cand"), 6))
            .as("candidate_precision"))
    }),

    // EXECUTES on the streaming engine: sketch-based near-dup dedup of
    // a document stream — each micro-batch's signatures banded-join the
    // accumulated signature store, docs with a smaller-id neighbor at
    // est ≥ StreamDupThreshold are dropped on arrival (see
    // Streams.minhashDedupIngest for the state story). The kept set is
    // the order-free predicate "no smaller id with est ≥ θ", so the
    // oracle replays it from the batch MinHash pipeline and streaming ≡
    // batch is hash-checked, not just asserted.
    "q_stream_minhash" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_minhash")
      graft.streaming.Streams.minhashDedupIngest(s, dir, work)
        .orderBy(col("doc_id"))
    }),

    // Boilerplate detection: documents sharing their first or last 5
    // tokens (the header/footer signature of template pages). Runs on
    // the dup corpus so exact copies demonstrably cluster. Map-only
    // hash of two token slices per doc, one groupBy on the 8-byte
    // hash — the cheap pre-pass that strips crawl chrome before
    // shingle-level dedup ever runs.
    "q_boilerplate" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Tables.fanout(dupCorpus(s, dir))
        .select(col("doc_id"), toks.as("a"))
        .where(size(col("a")) >= 10)
        .select(col("doc_id"), explode(array(
          struct(lit("prefix").as("kind"),
            h60(array_join(slice(col("a"), 1, 5), " ")).as("h")),
          struct(lit("suffix").as("kind"),
            h60(array_join(slice(col("a"), size(col("a")) - 4, lit(5)), " ")).as("h"))))
          .as("k"))
        .groupBy(col("k.kind").as("kind"), col("k.h").as("h"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .where(col("n_docs") >= 2)
        .orderBy(col("kind"), col("h"))
    }),

    // Levenshtein re-rank of near-dup candidates: edit distance is
    // O(len²) per pair, so it NEVER runs on the corpus — only on the
    // candidate pairs the cheap inverted-index join produced (the
    // classic two-stage verify pattern: sketch recall, exact-verify
    // precision). levenshtein() is a native codegen function in both
    // engines, so the scores are exact integers on both sides.
    "q_edit_distance" -> ((s, dir) => {
      val t = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      sharedJaccardPairs(s, dir, 0.5).select(col("doc1"), col("doc2"))
        .join(t.select(col("doc_id").as("doc1"), col("text").as("t1")), Seq("doc1"))
        .join(t.select(col("doc_id").as("doc2"), col("text").as("t2")), Seq("doc2"))
        .select(col("doc1"), col("doc2"),
          levenshtein(col("t1"), col("t2")).as("edit_dist"),
          (lit(1.0) - levenshtein(col("t1"), col("t2")).cast("double") /
            greatest(length(col("t1")), length(col("t2")))).as("edit_sim"))
        .orderBy(col("doc1"), col("doc2"))
    }),

    // One PageRank power iteration over the near-dup graph (uniform
    // prior, damping 0.85). Per-node contribution sums go through
    // DECIMAL(20,12) — integer arithmetic underneath, so the sum is
    // associative and partition-order-independent (util.Exact
    // discipline), then cast back to double. Dangling/isolated docs
    // keep the teleport mass via the left join. At corpus scale this
    // is the per-iteration shape: edges ⋈ ranks, one shuffle on dst.
    "q_pagerank_step" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val n = docs.count()
      // Symmetrize by exploding each pair into both directions in ONE
      // pass (a unionByName of two selects would evaluate the whole
      // similarity-join chain twice), then cache the edge list — the
      // tiny join product — because degree and contribution both
      // consume it.
      val edges = sharedJaccardPairs(s, dir, 0.6)
        .select(explode(array(
          struct(col("doc1").as("u"), col("doc2").as("v")),
          struct(col("doc2").as("u"), col("doc1").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .cache()
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      val contrib = edges.join(deg, Seq("u"))
        .select(col("v"),
          (lit(0.85) * (lit(1.0 / n) / col("deg")))
            .cast("decimal(20,12)").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("cs"))
      docs.select(col("doc_id"))
        .join(contrib.select(col("v").as("doc_id"), col("cs")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(0.15 / n).cast("decimal(20,12)") +
            coalesce(col("cs"), lit(0).cast("decimal(20,12)")))
            .cast("double").as("pr"))
        .orderBy(col("doc_id"))
    }),

    // The FULL PageRank power loop (PrIters rounds) over the near-dup
    // graph — q_pagerank_step is round 1 of exactly this. The
    // edge⋈degree table is localCheckpoint'ed once and reused every
    // round (the per-round plan restarts from materialized partitions
    // instead of re-deriving the similarity join, and lineage stays
    // flat); ranks live distributed — never collected — because the
    // vertex set scales with the graph, unlike q_kmeans' K×Dim state.
    // Per-round contribution sums keep the util.Exact discipline
    // (double term → one DECIMAL(20,12) cast → integer-arithmetic
    // sum), so every round's ranks are bit-identical in both engines
    // and the unrolled-CTE oracle can replay all of them. Isolated
    // docs never enter the loop and emit the teleport fixpoint.
    "q_pagerank" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val n = docs.count()
      val edges = sharedJaccardPairs(s, dir, 0.6)
        .select(explode(array(
          struct(col("doc1").as("u"), col("doc2").as("v")),
          struct(col("doc2").as("u"), col("doc1").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      val withDeg = edges.join(deg, Seq("u")).localCheckpoint()
      val verts = withDeg.select(col("u").as("doc_id")).distinct()
        .localCheckpoint()
      val teleport = lit(0.15 / n).cast("decimal(20,12)")
      var rank = verts.select(col("doc_id"), lit(1.0 / n).as("pr"))
      for (_ <- 1 to PrIters) {
        val contrib = withDeg
          .join(rank.select(col("doc_id").as("u"), col("pr")), Seq("u"))
          .select(col("v"),
            (lit(0.85) * (col("pr") / col("deg"))).cast("decimal(20,12)").as("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("cs"))
        rank = verts
          .join(contrib.select(col("v").as("doc_id"), col("cs")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (teleport + coalesce(col("cs"), lit(0).cast("decimal(20,12)")))
              .cast("double").as("pr"))
          .localCheckpoint()
      }
      docs.select(col("doc_id"))
        .join(rank, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("pr"), teleport.cast("double")).as("pr"))
        .orderBy(col("doc_id"))
    }),

    // Asymmetric containment (|A∩B| / |A|) over the same inverted
    // shingle index as q_ngram_jaccard — the "doc A is quoted inside
    // doc B" detector that symmetric Jaccard misses when sizes differ.
    // Intersections are computed once per unordered pair and cached
    // (the tiny similarity-join product), then emitted in both
    // directions with the matching denominator.
    "q_containment" -> ((s, dir) => {
      // cached: feeds sizes + BOTH sides of the inverted join (the
      // shared materialized postings ARE this distinct projection)
      val sh = sharedShinglePostings(s, dir).cache()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = sh.select(col("h"), col("doc_id").as("doc1"))
        .join(sh.select(col("h"), col("doc_id").as("doc2")), Seq("h"))
        .where(col("doc1") < col("doc2"))
        .groupBy("doc1", "doc2").agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), Seq("doc1"))
        .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), Seq("doc2"))
        .cache()
      inter.select(col("doc1").as("src"), col("doc2").as("dst"),
          (col("i").cast("double") / col("sz1")).as("containment"))
        .unionByName(inter.select(col("doc2").as("src"), col("doc1").as("dst"),
          (col("i").cast("double") / col("sz2")).as("containment")))
        .where(col("containment") >= 0.7)
        .orderBy(col("src"), col("dst"))
    }),

    // Benchmark-contamination scan: which training docs share 3-gram
    // shingles with a held-out eval set (doc_id % 50 = 0 stands in for
    // the benchmark corpus). The eval side is tiny relative to the
    // corpus — broadcast it, so the corpus-side shingle stream never
    // shuffles for the join; the only exchange is the final per-doc
    // count-distinct. Join key is the 60-bit shingle hash (8 bytes).
    "q_contamination" -> ((s, dir) => {
      // n_shared/n_eval_docs are countDistinct — invariant to the
      // postings dedup, so the shared table replaces the raw pass
      val sh = sharedShinglePostings(s, dir)
      val ev = sh.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("eval_id"), col("h"))
      sh.where(col("doc_id") % 50 =!= 0)
        .join(broadcast(ev), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_shared"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .orderBy(col("doc_id"))
    }),

    // EXECUTES on the streaming engine: the contamination scan as an
    // ingest-time guard — static broadcast eval index, per-micro-batch
    // probe, per-bid idempotent flag writes. Shares the shingle
    // projection AND the oracle with q_contamination (docs never
    // straddle batches, so the drained union equals the batch query).
    "q_stream_contamination" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_contam")
      graft.streaming.Streams.contaminationIngest(s, dir, work)
    }),

    // EXECUTABLE decontamination: the q_contamination scan turned into
    // the censused DROP it exists to drive — per-source counts of
    // trained/dropped/kept plus a bit_xor receipt over the kept docs'
    // content keys (the q_forget purge-receipt discipline), so the
    // physical pass ([[decontaminateApply]], OpsSpec-tested against
    // this census) is verifiable after the fact. The flagged set comes
    // from ONE shared predicate ([[contaminatedDocs]]); the census is
    // a broadcast-eval probe + one per-source aggregate.
    "q_decontaminate" -> ((s, dir) => {
      val flagged = contaminatedDocs(s, dir).withColumn("hit", lit(1))
      Tables(s, dir, "documents")
        .where(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("source"),
          h60(concat(lit("d:"), col("doc_id").cast("string"))).as("h"))
        .join(flagged, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("hit") === 1, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_kept"),
          expr("bit_xor(CASE WHEN hit IS NULL THEN h ELSE CAST(0 AS BIGINT) END)")
            .as("kept_checksum"))
        .orderBy(col("source"))
    }),

    // Incremental (cross-snapshot) exact dedup: a new crawl batch
    // lands against an existing corpus and only unseen content
    // survives. Anti-join on the content hash, never the text — the
    // 16-byte key is what ships through the exchange, and at 100 TB
    // the corpus side is a bucketed md5 index so the anti-join is
    // co-located with zero corpus shuffle per batch.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 4 =!= 0)
        .select(md5(col("text")).as("content_md5"))
      val batch = d.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          md5(col("text")).as("content_md5"))
      batch.join(corpus, Seq("content_md5"), "left_anti")
        .select(col("doc_id"), col("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // Span-level duplicate coverage — the sliding-window form of
    // repeated-substring dedup (Lee et al.'s "deduplicating training
    // data" signal): every W-token window (stride 1, so overlaps at
    // ARBITRARY offsets are caught — the case disjoint-chunk dedup
    // q_chunk_dedup structurally misses), windows whose hash occurs
    // ≥ 2 times globally mark their token positions as duplicated,
    // per-doc coverage ratio decides the keep flag. No pair list, no
    // suffix array: the plan is explode (L rows/doc) → one groupBy on
    // the 8-byte window hash → bounded W× position explode of DUP
    // windows only → per-doc agg. At 100 TB every stage is a single
    // partial+final aggregate over scan-partitioned data; the dup
    // side is corpus-duplication-bounded, not corpus-bounded.
    "q_span_dedup" -> ((s, dir) => {
      val W = SpanW
      val docs = Tables(s, dir, "documents")
      val toked = Tables.fanout(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val sizes = toked.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      // consumed twice (occurrence count + the coverage join) — cache
      // so the tokenize+shingle+md5 chain runs once (the
      // shinglePostings discipline)
      val wins = toked
        .select(col("doc_id"),
          posexplode(shingles(col("toks"), W)).as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos"), h60(col("g")).as("h"))
        .cache()
      val dupHashes = wins.groupBy("h")
        .agg(count(lit(1)).as("occ")).where(col("occ") >= 2)
      val covered = wins.join(dupHashes, Seq("h"))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + lit(W - 1))).as("tpos"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
      sizes.join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"))
        .withColumn("dup_ratio",
          when(col("n_tokens") > 0,
            round(col("n_covered").cast("double") / col("n_tokens"), 6))
            .otherwise(lit(0.0)))
        .withColumn("keep", col("dup_ratio") < 0.5)
        .orderBy(col("doc_id"))
    }),

    // Multi-resolution span dedup — q_span_dedup at W ∈ [[SpanWs]]
    // with LONGEST-WINDOW-FIRST attribution (the Lee-et-al.
    // exact-substring semantics: a long verbatim match should be
    // credited as one long duplicate, not dissolve into its short
    // sub-windows). Every duplicated token position is attributed to
    // the LONGEST W whose duplicated window covers it, so cov_w32
    // counts positions inside ≥32-token verbatim repeats, cov_w16 the
    // 16-31-token tail, cov_w8 the short-phrase residue — the length
    // spectrum of duplication, which a single-W scan cannot see
    // (boilerplate = high cov_w8; mirrored paragraphs = high cov_w32).
    // No suffix array: three stride-1 window explodes share one token
    // pass, each resolution is one hash-count aggregate exactly like
    // q_span_dedup, and attribution is one (doc_id, tpos) max-fold —
    // a single extra shuffle over the duplication-bounded coverage
    // rows (union WITHOUT per-W distinct: the max-fold collapses
    // duplicates, so per-W distincts would just add three shuffles).
    // At 100 TB every stage stays a partial+final aggregate over
    // scan-partitioned data; the coverage side is bounded by
    // duplicated volume × |SpanWs|, not the corpus.
    "q_span_dedup_multi" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // one tokenize pass feeds all three resolutions (lazy cache —
      // builders stay plan-only cheap)
      val toked = Tables.fanout(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("toks")).cache()
      val sizes = toked.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      val covs = SpanWs.map { w =>
        val wins = toked.select(col("doc_id"),
            posexplode(shingles(col("toks"), w)).as(Seq("pos", "g")))
          .select(col("doc_id"), col("pos"), h60(col("g")).as("h"))
        val dup = wins.groupBy(col("h"))
          .agg(count(lit(1)).as("occ")).where(col("occ") >= 2)
          .select(col("h"))
        wins.join(dup, Seq("h"))
          .select(col("doc_id"),
            explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("tpos"),
            lit(w).as("w"))
      }
      val attributed = covs.reduce(_.unionByName(_))
        .groupBy(col("doc_id"), col("tpos"))
        .agg(max(col("w")).as("w"))
      // per-W columns generated from SpanWs exactly like the oracle's
      // — one constant owns the resolutions on both engines
      val covAggs = SpanWs.map(w =>
        sum(when(col("w") === w, 1L).otherwise(0L)).as(s"cov_w$w"))
      val perDoc = attributed.groupBy(col("doc_id"))
        .agg(covAggs.head,
          (covAggs.tail :+ count(lit(1)).as("n_covered")): _*)
      val covOut = SpanWs.map(w =>
        coalesce(col(s"cov_w$w"), lit(0L)).as(s"cov_w$w"))
      sizes.join(perDoc, Seq("doc_id"), "left")
        .select((Seq(col("doc_id"), col("n_tokens")) ++ covOut :+
          coalesce(col("n_covered"), lit(0L)).as("n_covered")): _*)
        .withColumn("dup_ratio",
          when(col("n_tokens") > 0,
            round(col("n_covered").cast("double") / col("n_tokens"), 6))
            .otherwise(lit(0.0)))
        .withColumn("keep", col("dup_ratio") < 0.5)
        .orderBy(col("doc_id"))
    })
  )

  /** Window width for q_span_dedup (tokens). */
  val SpanW = 8

  /** Resolutions for q_span_dedup_multi — longest wins attribution. */
  val SpanWs = Seq(8, 16, 32)

  // ---- oracles (generated so the 32/60-column signature SQL cannot
  //      drift from the Scala constants) ----

  /** Shared CTE chain for the MinHash oracles: shingles → hashed
    * minima (`mh`), the b×r band table, the ≤[[MinhashBandCap]] keep
    * list, and the capped candidate set (`cand`) — replaying
    * [[minhashLiveBands]] exactly. ONE fragment for all four
    * consumers (q_dedup_minhash / q_minhash_error / q_lsh_recall /
    * q_stream_minhash) so a cap change cannot silently drift a
    * subset of them.
    */
  private[ops] def sqlMinhashCandCtes: String = {
    val mhCols = (0 until K).map(i =>
      s"min((${aCoef(i)}*hm+${bCoef(i)}) % $P) AS mh_$i").mkString(",\n  ")
    val bands = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws(',', " +
        (0 until K / Bands).map(r => s"mh_${b * (K / Bands) + r}").mkString(", ") +
        ") AS sig FROM mh").mkString("\nUNION ALL\n")
    s"""${sqlShingleCtes("documents")},
       |hm AS (SELECT doc_id, ${sqlH60("s")} % $P AS hm FROM sh),
       |mh AS (SELECT doc_id, $mhCols FROM hm GROUP BY doc_id),
       |bands AS ($bands),
       |keepb AS (SELECT band, sig FROM bands GROUP BY band, sig
       |  HAVING count(*) <= $MinhashBandCap),
       |lb AS (SELECT bands.* FROM bands JOIN keepb USING (band, sig)),
       |cand AS (SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
       |  FROM lb b1 JOIN lb b2
       |    ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id)""".stripMargin
  }

  /** The K-term signature-match estimate expression over `mh x`/`mh y`. */
  private[ops] def sqlMinhashEst: String = (0 until K).map(i =>
    s"CASE WHEN x.mh_$i = y.mh_$i THEN 1 ELSE 0 END").mkString(" + ")

  private def minhashOracle: String =
    s"""WITH $sqlMinhashCandCtes
       |SELECT doc1, doc2, ($sqlMinhashEst) / 32.0 AS est_sim
       |FROM cand JOIN mh x ON doc1 = x.doc_id JOIN mh y ON doc2 = y.doc_id
       |ORDER BY doc1, doc2""".stripMargin

  /** Shared CTE chain for the SimHash oracles: signatures (`sg`), the
    * 4×15-bit band table, the ≤[[SimhashBandCap]] keep list, and the
    * capped candidate set (`cand`) — replaying
    * [[simhashLiveBands]] exactly. Before the cap the oracle could
    * take the n² shortcut (banding is recall-exact for hamming ≤ 3 by
    * pigeonhole); with the stop-band it must replay the bands, since
    * pairs alive ONLY through saturated buckets are now dropped by
    * design.
    */
  private def sqlSimhashCandCtes: String = {
    val sums = (0 until 60).map(j =>
      s"sum(cnt * (2*((h >> $j) & 1) - 1)) AS c_$j").mkString(",\n  ")
    val bits = (0 until 60).map(j =>
      s"CASE WHEN c_$j > 0 THEN ${1L << j}::BIGINT ELSE 0 END").mkString(" + ")
    val bandSel = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, (simhash >> ${b * 15}) & 32767 AS key FROM sg")
      .mkString("\nUNION ALL\n")
    s"""tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS t FROM documents),
       |tc AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |hh AS (SELECT doc_id, cnt, ${sqlH60("t")} AS h FROM tc),
       |cs AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id),
       |sg AS (SELECT doc_id, ($bits) AS simhash FROM cs),
       |bands AS ($bandSel),
       |bk AS (SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= $SimhashBandCap),
       |live AS (SELECT b.doc_id, b.band, b.key FROM bands b
       |  JOIN bk USING (band, key)),
       |cand AS (SELECT DISTINCT l1.doc_id AS doc1, l2.doc_id AS doc2
       |  FROM live l1 JOIN live l2
       |    ON l1.band = l2.band AND l1.key = l2.key
       |    AND l1.doc_id < l2.doc_id)""".stripMargin
  }

  private def simhashOracle: String =
    s"""WITH $sqlSimhashCandCtes
       |SELECT doc1, doc2,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
       |FROM cand JOIN sg x ON doc1 = x.doc_id JOIN sg y ON doc2 = y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
       |ORDER BY doc1, doc2""".stripMargin

  /** Replays the banded SimHash candidate set (the simhashOracle CTE
    * chain, signatures renamed `sg` to dodge sqlShingleCtes' `sh`) and
    * the exact Jaccard-≥0.6 pair list, then counts the overlap — the
    * lshRecallOracle shape for the other sketch.
    */
  private def simhashRecallOracle: String = {
    s"""WITH $sqlSimhashCandCtes,
       |${sqlShingleCtes("documents")},
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
       |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |jp AS (SELECT doc1, doc2
       |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
       |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
       |hits AS (SELECT doc1, doc2 FROM jp INTERSECT SELECT doc1, doc2 FROM cand)
       |SELECT CAST((SELECT count(*) FROM jp) AS BIGINT) AS n_exact,
       |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       |  CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hit,
       |  round(CAST((SELECT count(*) FROM hits) AS DOUBLE)
       |    / (SELECT count(*) FROM jp), 6) AS recall,
       |  round(CAST((SELECT count(*) FROM hits) AS DOUBLE)
       |    / (SELECT count(*) FROM cand), 6) AS candidate_precision""".stripMargin
  }

  /** Census replay of [[contaminatedDocs]] + the per-source drop
    * audit; the kept-side bit_xor receipt is what decontaminateApply's
    * output is checked against.
    */
  private def decontaminateOracle: String =
    s"""WITH ${sqlShingleCtes("documents")},
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |ev AS (SELECT DISTINCT h FROM shh WHERE doc_id % 50 = 0),
       |fl AS (SELECT DISTINCT t.doc_id FROM shh t JOIN ev USING (h)
       |  WHERE t.doc_id % 50 <> 0)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_train,
       |  CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST(sum(CASE WHEN fl.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  bit_xor(CASE WHEN fl.doc_id IS NULL
       |    THEN ${sqlH60("'d:' || CAST(d.doc_id AS VARCHAR)")}
       |    ELSE 0 END) AS kept_checksum
       |FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id
       |WHERE d.doc_id % 50 <> 0
       |GROUP BY source ORDER BY source""".stripMargin

  private def minhashErrorOracle: String = {
    s"""WITH $sqlMinhashCandCtes,
       |es AS (SELECT doc1, doc2, ($sqlMinhashEst) / 32.0 AS est_sim
       |  FROM cand JOIN mh x ON doc1 = x.doc_id JOIN mh y ON doc2 = y.doc_id),
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
       |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |ex AS (SELECT doc1, doc2, CAST(i AS DOUBLE) / (x.sz + y.sz - i) AS jaccard
       |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id),
       |j AS (SELECT abs(est_sim - jaccard) AS err
       |  FROM es JOIN ex USING (doc1, doc2))
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(CAST(sum(CAST(err AS DECIMAL(28,20))) AS DOUBLE) / count(*), 6) AS mae,
       |  round(max(err), 6) AS max_err
       |FROM j""".stripMargin
  }

  /** Replays the banded candidate set (the minhashOracle CTEs) and the
    * exact Jaccard-≥0.6 pair list over the same shingles, then counts
    * the overlap — recall and candidate precision are hash-checked.
    */
  private def lshRecallOracle: String = {
    s"""WITH $sqlMinhashCandCtes,
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
       |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |jp AS (SELECT doc1, doc2
       |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
       |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
       |hits AS (SELECT doc1, doc2 FROM jp INTERSECT SELECT doc1, doc2 FROM cand)
       |SELECT CAST((SELECT count(*) FROM jp) AS BIGINT) AS n_exact,
       |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       |  CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hit,
       |  round(CAST((SELECT count(*) FROM hits) AS DOUBLE)
       |    / (SELECT count(*) FROM jp), 6) AS recall,
       |  round(CAST((SELECT count(*) FROM hits) AS DOUBLE)
       |    / (SELECT count(*) FROM cand), 6) AS candidate_precision""".stripMargin
  }

  /** Kept set of the streaming sketch dedup: docs with NO smaller-id
    * banded neighbor at est ≥ StreamDupThreshold — replayed from the
    * batch MinHash pipeline (es = candidate pairs with estimates,
    * doc1 < doc2, so the LARGER side of a qualifying pair drops).
    */
  private def streamMinhashOracle: String = {
    s"""WITH $sqlMinhashCandCtes,
       |es AS (SELECT doc1, doc2, ($sqlMinhashEst) / 32.0 AS est_sim
       |  FROM cand JOIN mh x ON doc1 = x.doc_id JOIN mh y ON doc2 = y.doc_id),
       |dropped AS (SELECT DISTINCT doc2 AS doc_id FROM es
       |  WHERE est_sim >= $StreamDupThreshold)
       |SELECT d.doc_id FROM documents d LEFT JOIN dropped USING (doc_id)
       |WHERE dropped.doc_id IS NULL ORDER BY d.doc_id""".stripMargin
  }

  /** Shared by q_contamination and q_stream_contamination — the
    * streamed union equals the batch scan (id-sharded micro-batches
    * never split a doc), so the pair is gated by one SQL text.
    */
  private def contaminationOracle: String =
    s"""WITH ${sqlShingleCtes("documents")},
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |ev AS (SELECT doc_id AS eval_id, h FROM shh WHERE doc_id % 50 = 0),
       |tr AS (SELECT doc_id, h FROM shh WHERE doc_id % 50 <> 0)
       |SELECT tr.doc_id, CAST(count(DISTINCT tr.h) AS BIGINT) AS n_shared,
       |  CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
       |FROM tr JOIN ev USING (h)
       |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_minhash_error" -> minhashErrorOracle,
    "q_lsh_recall" -> lshRecallOracle,
    "q_simhash_recall" -> simhashRecallOracle,
    "q_decontaminate" -> decontaminateOracle,
    // The components recursive-CTE chain folded per source with the
    // keeper predicate (component = doc_id) and the kept-side receipt.
    "q_dedup_apply" ->
      s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS u FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
         |comp AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN c.component <> d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(CASE WHEN c.component = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  bit_xor(CASE WHEN c.component = d.doc_id
         |    THEN ${sqlH60("'d:' || CAST(d.doc_id AS VARCHAR)")}
         |    ELSE 0 END) AS kept_checksum
         |FROM documents d JOIN comp c ON d.doc_id = c.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,
    "q_stream_minhash" -> streamMinhashOracle,
    // 3 peel rounds unrolled verbatim (k=2): v_r = vertices with
    // degree ≥ 2 in e_{r-1}, e_r = the induced subgraph.
    "q_kcore" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |e0 AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |v1 AS (SELECT a AS v FROM e0 GROUP BY a HAVING count(*) >= 2),
         |e1 AS (SELECT a, b FROM e0
         |  WHERE a IN (SELECT v FROM v1) AND b IN (SELECT v FROM v1)),
         |v2 AS (SELECT a AS v FROM e1 GROUP BY a HAVING count(*) >= 2),
         |e2 AS (SELECT a, b FROM e1
         |  WHERE a IN (SELECT v FROM v2) AND b IN (SELECT v FROM v2)),
         |v3 AS (SELECT a AS v FROM e2 GROUP BY a HAVING count(*) >= 2),
         |e3 AS (SELECT a, b FROM e2
         |  WHERE a IN (SELECT v FROM v3) AND b IN (SELECT v FROM v3))
         |SELECT a AS doc_id, count(*) AS core_deg FROM e3
         |GROUP BY a ORDER BY doc_id""".stripMargin,
    // Same left-associative multiplication chains as the Spark side —
    // bit-exact IEEE agreement needs identical operation order.
    "q_lsh_tuning" ->
      """WITH g AS (SELECT CAST(range AS DOUBLE) * 0.05 AS sim FROM range(1, 20)),
        |b AS (SELECT sim, sim*sim*sim*sim AS p_band,
        |  1.0 - sim*sim*sim*sim AS q FROM g)
        |SELECT sim, p_band, 1.0 - q*q*q*q*q*q*q*q AS p_candidate
        |FROM b ORDER BY sim""".stripMargin,
    "q_dedup_components" ->
      s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS u FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
         |SELECT v AS doc_id, min(u) AS component,
         |  v = min(u) AS keeper
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS u FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
         |labels AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
         |m AS (SELECT doc_id,
         |  CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
         |  CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.EnPat}')) AS INT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PunctPat}')) AS INT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.DigitPat}')) AS INT) AS n_digit,
         |  CAST(length(text) AS INT) AS len FROM documents),
         |q AS (SELECT doc_id,
         |  ${TextAnalysis.sqlScore("n_tok", "n_stop", "n_punct", "n_digit", "len")} AS score
         |  FROM m),
         |j AS (SELECT l.component, q.doc_id, q.score
         |  FROM labels l JOIN q USING (doc_id)),
         |r AS (SELECT component, doc_id, score,
         |  row_number() OVER (PARTITION BY component
         |    ORDER BY score DESC, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY component) AS n_members FROM j)
         |SELECT component, n_members, doc_id AS best_doc,
         |  round(score, 6) AS best_score
         |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,
    "q_cc_sizes" ->
      s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS u FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
         |labels AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
         |csz AS (SELECT component, count(*) AS cl_size FROM labels GROUP BY 1)
         |SELECT cl_size, count(*) AS n_components
         |FROM csz GROUP BY cl_size ORDER BY cl_size""".stripMargin,
    // Same jpairs replay, then doc-level dup membership + endpoint
    // counts folded into one per-source census.
    "q_dup_rate_by_source" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc1 AS doc_id FROM jpairs
         |  UNION ALL SELECT doc2 FROM jpairs)),
         |pe AS (SELECT source, count(*) AS n_pair_ends FROM (
         |    SELECT doc1 AS doc_id FROM jpairs
         |    UNION ALL SELECT doc2 FROM jpairs) e
         |  JOIN documents USING (doc_id) GROUP BY source),
         |cen AS (SELECT source, count(*) AS n_docs,
         |    sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
         |  FROM documents LEFT JOIN dup USING (doc_id) GROUP BY source)
         |SELECT cen.source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_dup AS BIGINT) AS n_dup_docs,
         |  round(CAST(n_dup AS DOUBLE) / n_docs, 6) AS dup_rate,
         |  CAST(coalesce(n_pair_ends, 0) AS BIGINT) AS n_pair_ends
         |FROM cen LEFT JOIN pe USING (source) ORDER BY source""".stripMargin,
    // Same jpairs replay labeled by source; Σd² stays BIGINT, the
    // three rates are guarded single divisions.
    "q_dup_assortativity" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |pr AS (SELECT d1.source AS s1, d2.source AS s2
         |  FROM jpairs JOIN documents d1 ON doc1 = d1.doc_id
         |  JOIN documents d2 ON doc2 = d2.doc_id),
         |deg AS (SELECT source, count(*) AS d FROM (
         |    SELECT s1 AS source FROM pr UNION ALL SELECT s2 FROM pr)
         |  GROUP BY source),
         |sq AS (SELECT coalesce(CAST(sum(d * d) AS BIGINT), 0) AS sum_d2
         |  FROM deg),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN s1 = s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_intra
         |  FROM pr),
         |j AS (SELECT n_pairs, n_intra,
         |  CASE WHEN n_pairs > 0
         |    THEN CAST(n_intra AS DOUBLE) / n_pairs END AS q_intra,
         |  CASE WHEN n_pairs > 0 THEN CAST(sum_d2 AS DOUBLE) /
         |    (4 * n_pairs * n_pairs) END AS q_exp
         |  FROM ag CROSS JOIN sq)
         |SELECT n_pairs, n_intra, round(q_intra, 6) AS intra_rate,
         |  round(q_exp, 6) AS expected_rate,
         |  round(CASE WHEN q_exp < 1
         |    THEN (q_intra - q_exp) / (CAST(1.0 AS DOUBLE) - q_exp) END, 6)
         |    AS assortativity
         |FROM j""".stripMargin,
    // Same recursive component labels as q_dedup_components, then one
    // cluster-size aggregate and the 1/size weight.
    "q_softdedup" ->
      s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS u FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
         |lab AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
         |cs AS (SELECT component, count(*) AS cl_size FROM lab GROUP BY component)
         |SELECT doc_id, CAST(cl_size AS BIGINT) AS cl_size,
         |  round(CAST(1.0 AS DOUBLE) / cl_size, 6) AS weight
         |FROM lab JOIN cs USING (component) ORDER BY doc_id""".stripMargin,
    // min(doc_id) per shingle hash = the first-seen owner; novelty is
    // the per-doc share of self-owned hashes.
    "q_ngram_novelty" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |fs AS (SELECT h, min(doc_id) AS first_doc FROM shh GROUP BY h),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_novel
         |  FROM shh JOIN fs USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_sh, n_novel,
         |  round(CAST(n_novel AS DOUBLE) / n_sh, 6) AS novelty
         |FROM ag ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      s"""WITH $sqlDupCorpus
         |SELECT min(doc_id) AS keeper, count(*) AS n_copies
         |FROM dup_corpus GROUP BY text ORDER BY keeper""".stripMargin,
    // The three standing drop predicates replayed (exact keeper /
    // near-dup component rep / SemDeDup), first-signal attribution,
    // one aggregate exploded into the 3 stage rows.
    "q_dedup_funnel" ->
      s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS u FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
         |lab AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
         |ndrop AS (SELECT doc_id FROM lab WHERE component <> doc_id),
         |keepers AS (SELECT ${sqlH60("text")} AS ch, min(doc_id) AS keeper
         |  FROM documents GROUP BY 1),
         |${graft.ops.Similarity.sqlSemdedupCtes},
         |fl AS (SELECT d.doc_id,
         |    d.doc_id <> k.keeper AS ex,
         |    nd.doc_id IS NOT NULL AS nr,
         |    sd.vec_id IS NOT NULL AS sm
         |  FROM documents d JOIN keepers k ON ${sqlH60("d.text")} = k.ch
         |  LEFT JOIN ndrop nd ON d.doc_id = nd.doc_id
         |  LEFT JOIN semdrop sd ON d.doc_id = sd.vec_id),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n0,
         |  CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |  CAST(sum(CASE WHEN NOT ex AND nr THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         |  CAST(sum(CASE WHEN NOT ex AND NOT nr AND sm THEN 1 ELSE 0 END)
         |    AS BIGINT) AS d3
         |  FROM fl)
         |SELECT * FROM (
         |  SELECT 1 AS stage, 'exact' AS rule, n0 AS n_in, d1 AS n_dropped,
         |    n0 - d1 AS n_out FROM ag
         |  UNION ALL SELECT 2, 'near', n0 - d1, d2, n0 - d1 - d2 FROM ag
         |  UNION ALL SELECT 3, 'semantic', n0 - d1 - d2, d3,
         |    n0 - d1 - d2 - d3 FROM ag)
         |ORDER BY stage""".stripMargin,
    "q_boilerplate" ->
      s"""WITH $sqlDupCorpus,
         |tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM dup_corpus),
         |f AS (SELECT doc_id, a FROM tk WHERE len(a) >= 10),
         |k AS (SELECT doc_id, 'prefix' AS kind,
         |    ${sqlH60("array_to_string(list_slice(a, 1, 5), ' ')")} AS h FROM f
         |  UNION ALL SELECT doc_id, 'suffix',
         |    ${sqlH60("array_to_string(list_slice(a, len(a) - 4, len(a)), ' ')")} FROM f)
         |SELECT kind, h, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc
         |FROM k GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY kind, h""".stripMargin,
    "q_edit_distance" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.5)
         |SELECT jp.doc1, jp.doc2,
         |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
         |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
         |    greatest(length(a.text), length(b.text)) AS edit_sim
         |FROM jp JOIN documents a ON jp.doc1 = a.doc_id
         |  JOIN documents b ON jp.doc2 = b.doc_id
         |ORDER BY doc1, doc2""".stripMargin,
    "q_pagerank_step" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS u, doc2 AS v FROM jp
         |  UNION ALL SELECT doc2, doc1 FROM jp),
         |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
         |nn AS (SELECT count(*) AS n FROM documents),
         |contrib AS (SELECT v,
         |  sum(CAST(0.85 * ((1.0 / n) / deg) AS DECIMAL(20,12))) AS cs
         |  FROM edges JOIN deg USING (u) CROSS JOIN nn GROUP BY v)
         |SELECT d.doc_id,
         |  CAST(CAST(0.15 / n AS DECIMAL(20,12)) +
         |    coalesce(cs, CAST(0 AS DECIMAL(20,12))) AS DOUBLE) AS pr
         |FROM documents d CROSS JOIN nn
         |  LEFT JOIN contrib ON d.doc_id = contrib.v
         |ORDER BY doc_id""".stripMargin,
    // Unrolled PrIters-round replay of the Spark power loop: each
    // round's ranks are rebuilt from the previous round's decimal
    // contribution sums, bit-identically to the DataFrame path.
    "q_pagerank" -> {
      val rounds = (1 to PrIters).map { t =>
        s"""co$t AS (SELECT v, sum(CAST(0.85 * (pr / deg) AS DECIMAL(20,12))) AS cs
           |  FROM wd JOIN r${t - 1} ON wd.u = r${t - 1}.doc_id GROUP BY v),
           |r$t AS (SELECT vd.doc_id,
           |  CAST(CAST(0.15 / n AS DECIMAL(20,12)) +
           |    coalesce(cs, CAST(0 AS DECIMAL(20,12))) AS DOUBLE) AS pr
           |  FROM vd CROSS JOIN nn LEFT JOIN co$t ON vd.doc_id = co$t.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6),
         |edges AS (SELECT doc1 AS u, doc2 AS v FROM jp
         |  UNION ALL SELECT doc2, doc1 FROM jp),
         |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
         |nn AS (SELECT count(*) AS n FROM documents),
         |wd AS (SELECT edges.u, edges.v, deg FROM edges JOIN deg USING (u)),
         |vd AS (SELECT DISTINCT u AS doc_id FROM edges),
         |r0 AS (SELECT doc_id, 1.0 / n AS pr FROM vd CROSS JOIN nn),
         |$rounds
         |SELECT d.doc_id,
         |  coalesce(r$PrIters.pr, CAST(CAST(0.15 / n AS DECIMAL(20,12)) AS DOUBLE)) AS pr
         |FROM documents d CROSS JOIN nn
         |  LEFT JOIN r$PrIters ON d.doc_id = r$PrIters.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_containment" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |j AS (SELECT doc1, doc2, i, x.sz AS sz1, y.sz AS sz2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id),
         |b AS (SELECT doc1 AS src, doc2 AS dst, CAST(i AS DOUBLE) / sz1 AS containment FROM j
         |  UNION ALL SELECT doc2, doc1, CAST(i AS DOUBLE) / sz2 FROM j)
         |SELECT src, dst, containment FROM b
         |WHERE containment >= 0.7 ORDER BY src, dst""".stripMargin,
    "q_contamination" -> contaminationOracle,
    // ONE oracle for the batch/stream contamination pair — id-sharded
    // batches cannot split a doc, so the drained union is the batch
    // query (the q_stream_minhash shared-oracle discipline).
    "q_stream_contamination" -> contaminationOracle,
    "q_dedup_incremental" ->
      s"""WITH corpus AS (SELECT md5(text) AS content_md5 FROM documents
         |  WHERE doc_id % 4 <> 0),
         |batch AS (SELECT doc_id + 100000 AS doc_id, md5(text) AS content_md5
         |  FROM documents WHERE doc_id % 2 = 0)
         |SELECT doc_id, content_md5 FROM batch
         |WHERE content_md5 NOT IN (SELECT content_md5 FROM corpus)
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash" -> minhashOracle,
    "q_dedup_simhash" -> simhashOracle,
    "q_ngram_jaccard" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc1, doc2, CAST(i AS DOUBLE) / (x.sz + y.sz - i) AS jaccard
         |FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6
         |ORDER BY doc1, doc2""".stripMargin,
    "q_triangles" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |e AS (SELECT doc1 AS a, doc2 AS b
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6)
         |SELECT count(*) AS n_triangles
         |FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    // Same answer as q_ngram_jaccard by construction — the prefix
    // filter is a candidate-pruning optimization, so the oracle IS
    // the unpruned computation.
    "q_jaccard_prefix" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc1, doc2, CAST(i AS DOUBLE) / (x.sz + y.sz - i) AS jaccard
         |FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.6
         |ORDER BY doc1, doc2""".stripMargin,
    // Sliding W-gram windows (series bound 512 covers the testdata's
    // ≤ 100-token docs; oracle-only construct), duplicate = hash occurs
    // ≥ 2 times globally, coverage = distinct positions under any
    // duplicated window.
    "q_span_dedup" -> {
      val W = SpanW
      val gram = (0 until W).map(j => s"a[i+$j]").mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |sz AS (SELECT doc_id, CAST(len(a) AS INT) AS n_tokens FROM tk),
         |win AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |    ${sqlH60(s"($gram)")} AS h
         |  FROM tk, generate_series(1, 512) g(i) WHERE i <= len(a) - ${W - 1}),
         |freq AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
         |dup AS (SELECT doc_id, pos FROM win JOIN freq USING (h)),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS tpos
         |  FROM dup, generate_series(0, ${W - 1}) s(j)),
         |nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered
         |  FROM cov GROUP BY doc_id)
         |SELECT sz.doc_id, n_tokens,
         |  coalesce(n_covered, 0) AS n_covered,
         |  CASE WHEN n_tokens > 0
         |    THEN round(CAST(coalesce(n_covered, 0) AS DOUBLE) / n_tokens, 6)
         |    ELSE 0.0 END AS dup_ratio,
         |  CASE WHEN n_tokens > 0
         |    THEN round(CAST(coalesce(n_covered, 0) AS DOUBLE) / n_tokens, 6)
         |    ELSE 0.0 END < 0.5 AS keep
         |FROM sz LEFT JOIN nc USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    // Same window/dup/coverage replay per resolution, UNION ALL, then
    // max-w attribution per (doc_id, tpos) — generated from SpanWs so
    // the resolutions cannot drift from the Scala side.
    "q_span_dedup_multi" -> {
      val perW = SpanWs.map { w =>
        val gram = (0 until w).map(j => s"a[i+$j]").mkString(" || ' ' || ")
        s"""win$w AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           |    ${sqlH60(s"($gram)")} AS h
           |  FROM tk, generate_series(1, 512) g(i) WHERE i <= len(a) - ${w - 1}),
           |freq$w AS (SELECT h FROM win$w GROUP BY h HAVING count(*) >= 2),
           |cov$w AS (SELECT doc_id, pos + j AS tpos, $w AS w
           |  FROM win$w JOIN freq$w USING (h),
           |    generate_series(0, ${w - 1}) s(j))""".stripMargin
      }.mkString(",\n")
      val union = SpanWs.map(w => s"SELECT * FROM cov$w")
        .mkString(" UNION ALL ")
      val covCols = SpanWs.map(w =>
        s"CAST(sum(CASE WHEN w = $w THEN 1 ELSE 0 END) AS BIGINT) AS cov_w$w")
        .mkString(",\n  ")
      val covSel = SpanWs.map(w => s"coalesce(cov_w$w, 0) AS cov_w$w")
        .mkString(",\n  ")
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |sz AS (SELECT doc_id, CAST(len(a) AS INT) AS n_tokens FROM tk),
         |$perW,
         |cu AS (SELECT doc_id, tpos, max(w) AS w FROM ($union)
         |  GROUP BY doc_id, tpos),
         |pd AS (SELECT doc_id,
         |  $covCols,
         |  CAST(count(*) AS BIGINT) AS n_covered
         |  FROM cu GROUP BY doc_id)
         |SELECT sz.doc_id, n_tokens,
         |  $covSel,
         |  coalesce(n_covered, 0) AS n_covered,
         |  CASE WHEN n_tokens > 0
         |    THEN round(CAST(coalesce(n_covered, 0) AS DOUBLE) / n_tokens, 6)
         |    ELSE 0.0 END AS dup_ratio,
         |  CASE WHEN n_tokens > 0
         |    THEN round(CAST(coalesce(n_covered, 0) AS DOUBLE) / n_tokens, 6)
         |    ELSE 0.0 END < 0.5 AS keep
         |FROM sz LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin
    }
  )
}
