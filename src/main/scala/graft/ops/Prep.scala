package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import TextFns._
import TextAnalysis._

/** The capstone training-data prep pipeline, composed from the
  * engine's own operators and oracle-checked end-to-end:
  *
  *   1. exact near-duplicate removal — drop the higher doc_id of every
  *      n-gram-Jaccard ≥ 0.6 pair ([[Dedup.jaccardPairs]], inverted
  *      shingle index: exact, 100% recall);
  *   2. language filter — keep predicted-English docs (stopword
  *      profile, same CASE chain as q_lang_id);
  *   3. quality filter — score ≥ 0.5 and ≥ 10 tokens (same arithmetic
  *      as q_quality_score, bit-identical in both engines).
  *
  * At 100 TB this is: one inverted-index self-join (bounded by Σ df²,
  * with MinHash banding as the prefilter when shingle frequencies are
  * heavy), then two map-only filter stages — the shape of a real
  * corpus-prep job. The whole chain is deterministic, so the DuckDB
  * oracle replays it exactly.
  */
object Prep {
  type Q = (SparkSession, String) => DataFrame

  val JaccardThreshold = 0.6
  val MinScore = 0.5
  val MinTokens = 10

  val queries: Map[String, Q] = Map(
    "q_prep_pipeline" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // rides the session-shared materialized pair list (same corpus,
      // same threshold) instead of re-deriving the shingle+join chain
      val dupIds = Dedup.sharedJaccardPairs(s, dir, JaccardThreshold)
        .select(col("doc2").as("doc_id")).distinct()
      val deduped = docs.join(dupIds, Seq("doc_id"), "left_anti")

      val lt = lower(col("text"))
      val toks = tokens(col("text"))
      deduped
        .select(col("doc_id"), col("lang"),
          size(toks).as("n_tok"),
          nMatches(lt, EnPat).as("n_stop"),
          nMatches(col("text"), PunctPat).as("n_punct"),
          nMatches(col("text"), DigitPat).as("n_digit"),
          length(col("text")).as("len"),
          predLangFromCounts(nMatches(lt, EnPat), nMatches(lt, DePat),
            nMatches(lt, FrPat), nMatches(lt, EsPat),
            nMatches(col("text"), ZhPat)).as("pred_lang"))
        .withColumn("score", qualityScore(col("n_tok"), col("n_stop"),
          col("n_punct"), col("n_digit"), col("len")))
        .where(col("pred_lang") === "en" &&
          col("score") >= MinScore && col("n_tok") >= MinTokens)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic importance sampling: acceptance probability scales
    // with quality (p = 0.2 + 0.6·score) and the accept/reject coin is
    // the seeded hash, NOT rand() — every re-run, resume, or backfill
    // draws the SAME sample, which is what makes corpus ablations
    // reproducible. One map-only pass (score + hash + compare), no
    // shuffle until the presentation sort. The accept test compares
    // INTEGERS (hash ppm vs floor(p·10⁶)) so there is no FP boundary
    // for the engines to disagree on.
    "q_importance_sample" -> ((s, dir) => {
      val lt = lower(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).as("n_tok"),
          nMatches(lt, EnPat).as("n_stop"),
          nMatches(col("text"), PunctPat).as("n_punct"),
          nMatches(col("text"), DigitPat).as("n_digit"),
          length(col("text")).as("len"))
        .withColumn("score", qualityScore(col("n_tok"), col("n_stop"),
          col("n_punct"), col("n_digit"), col("len")))
        .withColumn("u_ppm",
          h60(concat(lit("samp:"), col("doc_id").cast("string"))) % 1000000)
        .where(col("u_ppm") <
          floor((lit(0.2) + lit(0.6) * col("score")) * 1000000).cast("long"))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic shuffle-sharding — the training-order shuffle that
    // follows corpus prep: every doc gets a reproducible (shard, pos)
    // from a seeded hash, so any worker can materialize its shard
    // independently and a re-run (or a resumed job) yields the SAME
    // permutation. The seed prefix is the epoch: "shuf:" → epoch-0
    // order; changing it re-permutes without rewriting data. Scale
    // shape: one hash projection + a window partitioned by shard
    // (corpus/16 rows per partition — bounded, parallel, no global
    // sort anywhere; shard files then stream to trainers in pos
    // order).
    "q_shuffle_shards" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          h60(concat(lit("shuf:"), col("doc_id").cast("string"))).as("h"))
        .withColumn("shard", (col("h") % 16).cast("int"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))),

    // Token-budget mixture assembly — the executable "fill the mix to
    // N tokens" pass that follows the weight computation
    // (q_mix_weights/q_unimax decide SHARES; this emits the DOCS): a
    // uniform per-source token budget of total/(2·n_sources), docs
    // admitted in seeded-hash order (so any re-run, resume, or
    // backfill assembles the SAME corpus) until the source's running
    // token count would pass the budget. Low-resource sources
    // saturate (everything admitted); over-represented ones truncate
    // — the balanced-mix shape of a real pretraining assembly. Scale:
    // TWO map passes over the scan (the budget aggregate and the fill
    // branch each tokenize — the q_quantize_embedding stats+apply
    // trade: rescanning beats pinning an n-row token cache; a 100 TB
    // run materializes `base` once instead), one |1|-row broadcast
    // for the budget, one cumulative-sum window partitioned BY
    // SOURCE. A single mega-source makes that partition wide; the
    // window form stays because it IS the declarative contract.
    "q_budget_fill" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).as("n_tok"),
          h60(concat(lit("fill:"), col("doc_id").cast("string"))).as("h"))
      val tot = base.agg(sum(col("n_tok")).as("total_tok"),
        countDistinct(col("source")).as("n_sources"))
      val withBudget = base.crossJoin(broadcast(tot))
        .withColumn("budget", expr("total_tok div (2 * n_sources)"))
      val order = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      withBudget
        .withColumn("cum_tok", sum(col("n_tok")).over(order
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("pos", row_number().over(order))
        .where(col("cum_tok") <= col("budget"))
        .select(col("source"), col("pos"), col("doc_id"), col("n_tok"),
          col("cum_tok"), col("budget"))
        .orderBy(col("source"), col("pos"))
    }),

    // Dedup-AWARE train/val/test split: assignment hashes the near-dup
    // CLUSTER label (the connected-component representative), not the
    // document, so a doc and all its near-duplicates land in the SAME
    // split by construction — the standard fix for eval leakage that a
    // per-doc content hash (q_split_assign) cannot give you, because
    // near-dups differ in text and hash apart. Cost at 100 TB: the
    // component labels are the already-bounded dedup-graph output
    // (pairs ≪ corpus), the label join is one hash join, and the final
    // aggregate is tiny. Output is the per-(split, lang) doc and
    // cluster census — the table you'd eyeball before a training run.
    "q_dedup_aware_split" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = Dedup.connectedComponents(docs,
        Dedup.sharedJaccardPairs(s, dir, JaccardThreshold))
      val b = pmod(h60(concat(lit("dsplit:"),
        col("component").cast("string"))), lit(100L))
      docs.select(col("doc_id"), col("lang")).join(labels, Seq("doc_id"))
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_clusters"))
        .orderBy(col("split"), col("lang"))
    }),

    // Leakage audit for the NAIVE content-hash split: how many
    // near-dup pairs straddle split boundaries? Each cell of the
    // split×split confusion matrix counts Jaccard-≥-0.6 pairs whose
    // members hashed into (split_a, split_b); `leaky` rows are
    // train/test contamination a dedup-aware split (above) eliminates.
    // The pair list is the similarity join's bounded output, so both
    // enrichment joins broadcast the pair side and stream the corpus
    // scan once — no corpus-sized shuffle anywhere.
    "q_leakage_guard" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val split = docs.select(col("doc_id"),
        when(pmod(h60(col("text")), lit(100L)) < 80, "train")
          .when(pmod(h60(col("text")), lit(100L)) < 90, "val")
          .otherwise("test").as("split"))
      val pairs = Dedup.sharedJaccardPairs(s, dir, JaccardThreshold)
        .select(col("doc1"), col("doc2"))
      val p1 = split.select(col("doc_id").as("doc1"), col("split").as("s1"))
        .join(broadcast(pairs), Seq("doc1"))
      split.select(col("doc_id").as("doc2"), col("split").as("s2"))
        .join(broadcast(p1), Seq("doc2"))
        .select(least(col("s1"), col("s2")).as("split_a"),
          greatest(col("s1"), col("s2")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", col("split_a") =!= col("split_b"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // Strided overlapping chunking (the RAG / context-window shape):
    // each document becomes ⌈n/S⌉ chunks of up to C = ChunkLen tokens
    // starting every S = ChunkStride tokens, so consecutive chunks
    // overlap by C − S tokens and no token-span longer than C − S is
    // ever split across a chunk boundary. Entirely map-side — the
    // chunk list is built in-row (sequence → transform → posexplode)
    // with NO shuffle until the presentation sort, which is the whole
    // point at 100 TB: chunking is a scan-shaped operator, and the
    // emitted h60(chunk_text) hash makes the content reconstruction
    // verifiable (the oracle recomputes it from its own slices).
    "q_chunk_overlap" -> ((s, dir) => {
      val n = col("n")
      val start = (c: Column) => c * ChunkStride
      val clen = (c: Column) => least(lit(ChunkLen), n - start(c))
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("a"))
        .select(col("doc_id"), col("a"), size(col("a")).as("n"))
        .where(n > 0)
        .select(col("doc_id"), n.as("n_tok"),
          posexplode(transform(
            sequence(lit(0), floor((n - 1).cast("double") / ChunkStride).cast("int")),
            k => struct(start(k).as("start_tok"), clen(k).as("chunk_len"),
              h60(concat_ws(" ", slice(col("a"), start(k) + 1, clen(k))))
                .as("chunk_hash")))).as(Seq("chunk_no", "c")))
        .select(col("doc_id"), col("chunk_no").cast("int").as("chunk_no"),
          col("n_tok"), col("c.start_tok"), col("c.chunk_len"),
          col("c.chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_no"))
    }),

    // Corpus snapshot-diff census — the versioning view a curation
    // pipeline publishes between releases: two deterministic snapshot
    // projections of the documents table (old = ids ∉ 0 mod 5 with
    // original text; new = ids ∉ 0 mod 11, ids ≡ 0 mod 7 re-crawled
    // with edited text) full-outer-join on doc_id and compare 16-byte
    // content hashes → added / removed / changed / unchanged counts
    // per language. The join ships only (doc_id, lang, md5) — never
    // text — and co-partitions on doc_id at scale; the census is one
    // small aggregate. The mod-sampled snapshots stand in for two
    // real releases the way q_dedup_incremental's crawl-batch split
    // does.
    "q_snapshot_diff" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val old = d.where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h_old"))
      val neu = d.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("lang"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h_new"))
      old.join(neu, Seq("doc_id", "lang"), "full_outer")
        .select(col("lang"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("status"), col("lang"))
    }),

    // k-anonymity audit over the quasi-identifier tuple
    // (nation, market segment) — the privacy gate run before a
    // dataset with person-level rows is released for training: every
    // QI group smaller than K = KanonK re-identifies its members. One
    // hash aggregate on the QI key (map-side partials — the corpus is
    // touched once), then a single-row audit over the |groups| frame:
    // the dataset's k (the smallest group), how many rows/groups sit
    // below K. All-integer, hash-exact; at 100 TB the only real cost
    // is the one QI aggregate.
    "q_kanon" -> ((s, dir) => {
      val g = Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("sz"))
      g.agg(sum(col("sz")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("sz")).as("k_anonymity"),
        sum(when(col("sz") < KanonK, col("sz")).otherwise(0L))
          .as("rows_at_risk"),
        sum(when(col("sz") < KanonK, 1L).otherwise(0L))
          .as("groups_at_risk"))
    }),

    // Right-to-be-forgotten deletion-propagation audit: given a
    // deletion list of customers (modeled as the deterministic
    // key-mod-[[ForgetMod]] sample — real deletion lists are
    // regulatory requests, small by nature, hence the broadcast),
    // report per table how many rows the cascade purges and an
    // order-free bit_xor checksum of the KEPT rows' primary-key
    // hashes — the receipt a governance pipeline stores to prove the
    // purge (re-running the audit after the physical delete must
    // reproduce the checksum with n_purged = 0). The cascade reaches
    // lineitem THROUGH orders (lineitem has no customer key): one
    // orderkey join, co-partitioned at scale. Each table is one scan
    // + one broadcast probe + a single-row aggregate; bit_xor is
    // associative/commutative, so the checksum is partition-order
    // free with no decimal machinery.
    "q_forget" -> ((s, dir) => {
      val del = deletionList(s, dir).withColumn("hit", lit(1))
      def audit(table: String, keyed: DataFrame): DataFrame =
        keyed.join(broadcast(del), Seq("k"), "left")
          .agg(sum(when(col("hit") === 1, 1L).otherwise(0L)).as("n_purged"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_kept"),
            expr("bit_xor(CASE WHEN hit IS NULL THEN h ELSE CAST(0 AS BIGINT) END)")
              .as("kept_checksum"))
          .select(lit(table).as("tbl"), col("n_purged"), col("n_kept"),
            col("kept_checksum"))
      val cust = audit("customer", Tables(s, dir, "customer")
        .select(col("c_custkey").as("k"),
          h60(concat(lit("c:"), col("c_custkey").cast("string"))).as("h")))
      val ord = audit("orders", Tables(s, dir, "orders")
        .select(col("o_custkey").as("k"),
          h60(concat(lit("o:"), col("o_orderkey").cast("string"))).as("h")))
      val li = audit("lineitem", Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
        .join(Tables(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
          Seq("l_orderkey"))
        .select(col("o_custkey").as("k"),
          h60(concat(lit("l:"), col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string"))).as("h")))
      val ev = audit("events", Tables(s, dir, "events")
        .select(col("user_id").as("k"),
          h60(concat(lit("e:"), col("event_id").cast("string"))).as("h")))
      cust.unionByName(ord).unionByName(li).unionByName(ev)
        .orderBy(col("tbl"))
    }),

    // EXECUTES on the streaming engine: the RTBF purge as an
    // ingest-time guard — arriving event micro-batches probe the
    // static broadcast deletion list, drop purged rows, and fold
    // per-batch (count, count, bit_xor) partials whose drained
    // combination equals q_forget's events audit row exactly (all
    // three folds are associative/commutative with identity 0).
    // Checked by the events slice of q_forget's oracle; restart
    // safety is per-bid idempotent partials (StreamingSpec).
    "q_stream_forget" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_forget")
      graft.streaming.Streams.forgetIngest(s, dir, work)
    }),

    // THE curation capstone — the release-build census. Every standing
    // drop/keep signal the executable family defines, composed into
    // one first-signal-wins cascade over the documents corpus:
    // governance (doc-level RTBF mod-[[ForgetMod]] sample, eval
    // holdout, decontamination), the dedup funnel (exact content-hash
    // non-keepers, near-dup non-representatives =
    // [[Dedup.nearDupDrops]], SemDeDup = [[Similarity
    // .semdedupDropped]]), the quality funnel (the four Gopher flags +
    // the q_prep_pipeline language keep), and DSIR above-mean
    // selection ([[TextAnalysis.dsirSelected]]). Output: one row per
    // stage carrying BOTH censuses —
    //   (n_in, n_dropped, n_out): the stage's own FAMILY funnel over
    //     the full corpus, so the dedup rows equal q_dedup_funnel and
    //     the quality rows equal q_filter_funnel ROW-FOR-ROW (same
    //     predicates, same attribution — asserted in OpsSpec anyway),
    //     the decontaminate row equals the q_decontaminate census
    //     summed over sources, and the dsir row equals q_dsir_apply's;
    //   (rel_in, rel_dropped, rel_out): the chained release cascade in
    //     stage order, telescoping from |corpus| to the release size;
    //   kept_checksum: bit_xor of h60('d:'||doc_id) over the chained
    //     survivors AFTER the stage — the per-stage purge receipt; the
    //     final 'release' row's (rel_out, kept_checksum) is the
    //     receipt [[corpusReleaseApply]]'s physical write must match.
    // All signals are standing full-corpus predicates (the
    // q_dedup_funnel attribution convention), so the kept set — and
    // hence the physical release — is order-independent set algebra;
    // the stage order only attributes credit. Scale shape: each signal
    // is the bounded output of its own banded/blocked join (their
    // contracts are unchanged); the capstone adds doc_id probe joins
    // against those bounded sets, one map-only flag pass, and a 1-row
    // aggregate exploded into 13 rows. One corpus scan of incremental
    // cost, exactly like the funnels it composes.
    "q_corpus_release" -> ((s, dir) => {
      val f = releaseFlags(s, dir)
      // (funnel, rule, drop signal) in cascade order
      val sig: Seq[(String, String, Column)] = Seq(
        ("governance", "forget", col("fg")),
        ("governance", "eval_holdout", col("ev")),
        ("governance", "decontaminate", col("ct")),
        ("dedup", "exact", col("ex")),
        ("dedup", "near", col("nr")),
        ("dedup", "semantic", col("sm")),
        ("quality", "len", !col("ok_len")),
        ("quality", "wordlen", !col("ok_wordlen")),
        ("quality", "sym", !col("ok_sym")),
        ("quality", "stop", !col("ok_stop")),
        ("quality", "lang", col("bl")),
        ("governance", "dsir", col("nds")))
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      // chained prefix survivors: surv_i = no signal among stages 1..i
      val prefixes = sig.scanLeft(lit(true))((acc, t) => acc && !t._3).tail
      val relDropAggs = sig.zipWithIndex.map { case ((_, _, c), i) =>
        val prev = if (i == 0) lit(true) else prefixes(i - 1)
        cnt(prev && c).as(s"rd_$i")
      }
      val ckAggs = prefixes.zipWithIndex.map { case (p, i) =>
        call_function("bit_xor",
          when(p, col("h")).otherwise(lit(0L))).as(s"ck_$i")
      }
      // family-standing funnels (the row-for-row-equal numbers)
      val qk1 = col("ok_len")
      val qk2 = qk1 && col("ok_wordlen")
      val qk3 = qk2 && col("ok_sym")
      val qk4 = qk3 && col("ok_stop")
      val standing = Seq(
        cnt(col("fg")).as("fgc"), cnt(col("ev")).as("evc"),
        cnt(col("ct")).as("ctc"),
        cnt(col("ex")).as("d1"),
        cnt(!col("ex") && col("nr")).as("d2"),
        cnt(!col("ex") && !col("nr") && col("sm")).as("d3"),
        cnt(qk1).as("q1"), cnt(qk2).as("q2"), cnt(qk3).as("q3"),
        cnt(qk4).as("q4"), cnt(qk4 && !col("bl")).as("q5"),
        cnt(!col("nds")).as("dsk"))
      val a = f.agg(count(lit(1)).as("n0"),
        (standing ++ relDropAggs ++ ckAggs): _*)
      // standing (n_in, n_dropped, n_out) per stage, release-chain cols
      val n0 = col("n0")
      val famIn: Seq[Column] = Seq(n0, n0, n0 - col("evc"), n0,
        n0 - col("d1"), n0 - col("d1") - col("d2"), n0, col("q1"),
        col("q2"), col("q3"), col("q4"), n0)
      val famDrop: Seq[Column] = Seq(col("fgc"), col("evc"), col("ctc"),
        col("d1"), col("d2"), col("d3"), n0 - col("q1"),
        col("q1") - col("q2"), col("q2") - col("q3"),
        col("q3") - col("q4"), col("q4") - col("q5"), n0 - col("dsk"))
      def relOut(i: Int): Column =
        (0 to i).map(j => col(s"rd_$j")).foldLeft(n0)(_ - _)
      val rows = sig.zipWithIndex.map { case ((fam, rule, _), i) =>
        struct(lit(i + 1).as("stage"), lit(fam).as("funnel"),
          lit(rule).as("rule"),
          famIn(i).as("n_in"), famDrop(i).as("n_dropped"),
          (famIn(i) - famDrop(i)).as("n_out"),
          (if (i == 0) n0 else relOut(i - 1)).as("rel_in"),
          col(s"rd_$i").as("rel_dropped"), relOut(i).as("rel_out"),
          col(s"ck_$i").as("kept_checksum"))
      } :+ struct(lit(13).as("stage"), lit("release").as("funnel"),
        lit("write").as("rule"), relOut(11).as("n_in"),
        lit(0L).as("n_dropped"), relOut(11).as("n_out"),
        relOut(11).as("rel_in"), lit(0L).as("rel_dropped"),
        relOut(11).as("rel_out"), col("ck_11").as("kept_checksum"))
      a.select(explode(array(rows: _*)).as("r"))
        .select(col("r.*")).orderBy(col("stage"))
    }),

    // The INCREMENTAL release extension — what q_corpus_release
    // becomes after the initial build, because a 100 TB release is
    // never rebuilt from scratch: a new crawl batch (the doc_id ≡ 0
    // mod 4 slice, the q_dedup_incremental snapshot convention; v1 =
    // the rest) is ADMITTED doc-by-doc against v1's standing stores
    // plus its own batch-local signals. Stages, first-signal order:
    // governance (forget / eval holdout — map-only mods), quality
    // (Gopher conjunction) and language (the q_prep_pipeline keep),
    // exact-vs-store (16-byte content key probed against v1's hash
    // index — the store holds EVERYTHING v1 ever saw, kept or
    // dropped, the minhashDedupIngest store rule), exact-in-batch
    // (min-id keeper), and near-vs-store (banded MinHash est ≥
    // StreamDupThreshold against any v1 doc or any smaller-id batch
    // doc — the q_stream_minhash arrival-order predicate with v1 as
    // the pre-existing store; rides the SESSION-MATERIALIZED
    // [[Dedup.sharedMinhashEstPairs]], whose band cap is the v1 ∪
    // batch occupancy, exactly the stream's arrival-time census).
    // Deliberately NOT in the delta: semantic dedup and DSIR
    // selection — both are corpus-GLOBAL (re-clustering / re-fitting
    // on v1 ∪ batch can reverse v1 decisions), so they belong to the
    // periodic q_corpus_release REBUILD, not the per-batch extension.
    // Output: per-source batch census with first-signal drop counts,
    // admitted count, and the bit_xor receipt over admitted content
    // keys (the release family's receipt discipline). Scale shape:
    // two 16-byte-key probes, one banded-pair probe against the
    // bounded est-pair output, map-only flags, one |sources|-row
    // fold — the batch, never v1, is the unit of work.
    "q_release_delta" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val batch = docs.where(col("doc_id") % 4 === 0)
      val v1Hash = docs.where(col("doc_id") % 4 =!= 0)
        .select(md5(col("text")).as("ch")).distinct()
        .withColumn("v1_hit", lit(1))
      val keeper = batch.select(md5(col("text")).as("ch"), col("doc_id"))
        .groupBy(col("ch")).agg(min(col("doc_id")).as("keeper"))
      val est = Dedup.sharedMinhashEstPairs(s, dir)
        .where(col("est_sim") >= Dedup.StreamDupThreshold)
      // a batch doc b is near-blocked by any v1 neighbor (arrived
      // before b regardless of id) or any SMALLER-id batch neighbor;
      // pairs are canonical doc1 < doc2, so b appears as doc2 against
      // all smaller ids and as doc1 against larger (v1-only) ids
      val nearBlk = est.where(col("doc2") % 4 === 0)
        .select(col("doc2").as("doc_id"))
        .unionByName(est.where(col("doc1") % 4 === 0 &&
          col("doc2") % 4 =!= 0).select(col("doc1").as("doc_id")))
        .distinct().withColumn("nr_hit", lit(1))
      val f = deltaLocalFlags(batch)
        .join(v1Hash, Seq("ch"), "left")
        .join(keeper, Seq("ch"))
        .join(nearBlk, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("h"),
          col("fg"), col("ev"), col("bq"), col("bl"),
          col("v1_hit").isNotNull.as("xv"),
          (col("doc_id") =!= col("keeper")).as("xb"),
          col("nr_hit").isNotNull.as("nr"))
      deltaCensus(f).orderBy(col("source"))
    }),

    // EXECUTES on the streaming engine: q_release_delta's admission
    // cascade AT INGEST — the one execution mode the release family
    // was missing (the reference's stream-like contract,
    // /root/reference/README.md:81-82, applied to corpus curation).
    // v1's standing stores (content-hash index, MinHash signature
    // store) are fixed before the stream starts; arriving crawl
    // micro-batches (the doc_id ≡ 0 mod 4 slice, range-staged so
    // arrival order is id order) probe them plus their own
    // batch-local signals and fold per-bid idempotent census
    // partials whose drained combination equals q_release_delta
    // row-for-row — the two SHARE [[deltaLocalFlags]]/[[deltaCensus]]
    // and this entry shares the batch oracle verbatim. Kill/resume
    // in StreamingSpec.
    "q_stream_release" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_release")
      graft.streaming.Streams.releaseIngest(s, dir, work)
    })
  )

  /** The BATCH-LOCAL admission signals of one arriving crawl frame
    * (doc_id, source, text) — everything the release-delta cascade can
    * decide without a standing store: the governance mods (fg/ev), the
    * Gopher quality conjunction (bq), the language keep (bl), plus the
    * 16-byte content key `ch` the exact probes use and the h60 receipt
    * key `h`. ONE definition shared by q_release_delta and the
    * streaming admission twin ([[graft.streaming.Streams.releaseRun]])
    * — the batch/stream no-drift discipline of forgetRun/gopherFlags.
    */
  private[graft] def deltaLocalFlags(bdf: DataFrame): DataFrame = {
    val lt = lower(col("text"))
    TextAnalysis.gopherFlags(Tables.fanout(
        bdf.select(col("doc_id"), col("source"), col("text"))))
      .withColumn("pred_lang",
        predLangFromCounts(nMatches(lt, EnPat), nMatches(lt, DePat),
          nMatches(lt, FrPat), nMatches(lt, EsPat),
          nMatches(col("text"), ZhPat)))
      .select(col("doc_id"), col("source"), md5(col("text")).as("ch"),
        h60(concat(lit("d:"), col("doc_id").cast("string"))).as("h"),
        (col("doc_id") % ForgetMod === 0).as("fg"),
        (col("doc_id") % 50 === 0).as("ev"),
        (!col("ok_len") || !col("ok_wordlen") || !col("ok_sym") ||
          !col("ok_stop")).as("bq"),
        (col("pred_lang") =!= "en").as("bl"))
  }

  /** First-signal-wins census over a complete delta flags frame
    * (source, h, fg, ev, bq, bl, xv, xb, nr): per-source batch size,
    * per-stage drop counts in cascade order, admitted count, and the
    * bit_xor receipt over admitted keys. Every aggregate is
    * associative/commutative with identity 0, so the SAME definition
    * serves the batch census and the streaming twin's per-micro-batch
    * partials (whose drained fold is then exact).
    */
  private[graft] def deltaCensus(f: DataFrame): DataFrame = {
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val s1 = !col("fg"); val s2 = s1 && !col("ev")
    val s3 = s2 && !col("bq"); val s4 = s3 && !col("bl")
    val s5 = s4 && !col("xv"); val s6 = s5 && !col("xb")
    val adm = s6 && !col("nr")
    f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        cnt(col("fg")).as("d_forget"),
        cnt(s1 && col("ev")).as("d_eval"),
        cnt(s2 && col("bq")).as("d_quality"),
        cnt(s3 && col("bl")).as("d_lang"),
        cnt(s4 && col("xv")).as("d_exact_v1"),
        cnt(s5 && col("xb")).as("d_exact_batch"),
        cnt(s6 && col("nr")).as("d_near"),
        cnt(adm).as("n_admitted"),
        call_function("bit_xor",
          when(adm, col("h")).otherwise(lit(0L))).as("admitted_checksum"))
  }

  /** q_forget deletion-list sampler: customers with key ≡ 0 (mod 97). */
  val ForgetMod = 97

  /** THE deletion list (`k` = sampled customer key) — single
    * definition of the RTBF sampling predicate shared by the audit
    * (q_forget), the physical delete ([[forgetApply]]), and the
    * streaming ingest guard (Streams.forgetRun), so the three
    * surfaces cannot drift on who is being forgotten.
    */
  private[graft] def deletionList(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .select(col("c_custkey").as("k")).where(col("k") % ForgetMod === 0)

  /** EXECUTE the right-to-be-forgotten cascade q_forget audits: rewrite
    * customer → orders → lineitem → events under `outDir` with the
    * deletion list's rows physically removed. Each table is one scan +
    * one broadcast ANTI-join probe (the deletion list is a regulatory
    * request — small by nature), i.e. the same partition-rewrite shape
    * a production purge runs at 100 TB: no shuffle of the fact tables,
    * the anti-join rides the scan. lineitem has no customer key, so
    * its purge routes THROUGH the deleted customers' order keys (a
    * second broadcast, |orders of deleted customers|-sized — bounded
    * by the deletion list's activity, not the table).
    *
    * The audit claim is closed by OpsSpec: re-running q_forget on
    * `outDir` must report n_purged = 0 per table with kept_checksum
    * identical to the pre-delete audit's — the bit_xor receipt proves
    * the purge removed exactly the predicted rows and nothing else —
    * and re-applying the delete to the purged copy is a no-op
    * (idempotent re-ingest). NOTE (round-5 advice): the events cascade
    * keys events.user_id against c_custkey — valid because the fixture
    * draws user_id from the customer key domain, asserted in OpsSpec
    * so a corpus change fails loudly rather than purging garbage.
    */
  def forgetApply(s: SparkSession, dir: String, outDir: String): Unit = {
    val del = broadcast(deletionList(s, dir))
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    write("customer", Tables(s, dir, "customer")
      .join(del, col("c_custkey") === col("k"), "left_anti"))
    write("orders", Tables(s, dir, "orders")
      .join(del, col("o_custkey") === col("k"), "left_anti"))
    val deletedOrders = broadcast(Tables(s, dir, "orders")
      .join(del, col("o_custkey") === col("k"), "left_semi")
      .select(col("o_orderkey").as("l_orderkey")))
    write("lineitem", Tables(s, dir, "lineitem")
      .join(deletedOrders, Seq("l_orderkey"), "left_anti"))
    write("events", Tables(s, dir, "events")
      .join(del, col("user_id") === col("k"), "left_anti"))
  }

  /** THE release drop-signal frame — one row per document with every
    * standing predicate the release cascade composes, each taken from
    * the SAME definition its standalone census/apply uses (so the
    * capstone census cannot drift from the operators that execute the
    * drops):
    *   fg  doc-level RTBF sample (doc_id ≡ 0 mod [[ForgetMod]] — the
    *       deletionList discipline at corpus level),
    *   ev  the q_decontaminate eval holdout (doc_id ≡ 0 mod 50),
    *   ct  [[Dedup.contaminatedDocs]],
    *   ex  exact content-hash non-keeper (the q_dedup_funnel rule),
    *   nr  [[Dedup.nearDupDrops]], sm [[Similarity.semdedupDropped]],
    *   ok_len/ok_wordlen/ok_sym/ok_stop [[TextAnalysis.gopherFlags]],
    *   bl  predicted language ≠ en (the q_prep_pipeline lang keep),
    *   nds NOT in [[TextAnalysis.dsirSelected]] (above-mean DSIR).
    * `h` is the h60('d:'||doc_id) content key all receipts fold.
    * Shared by the q_corpus_release census and the physical write
    * ([[corpusReleaseApply]]).
    */
  private[graft] def releaseFlags(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val keepers = docs.select(h60(col("text")).as("ch"), col("doc_id"))
      .groupBy(col("ch")).agg(min(col("doc_id")).as("keeper"))
    val near = Dedup.nearDupDrops(s, dir).withColumn("near_hit", lit(1))
    val sem = Similarity.semdedupDropped(s, dir)
      .select(col("vec_id").as("doc_id"), lit(1).as("sem_hit"))
    val cont = Dedup.contaminatedDocs(s, dir).withColumn("ct_hit", lit(1))
    val sel = TextAnalysis.dsirSelected(s, dir).withColumn("sel_hit", lit(1))
    val lt = lower(col("text"))
    gopherFlags(Tables.fanout(docs.select(col("doc_id"), col("text"))))
      .withColumn("pred_lang",
        predLangFromCounts(nMatches(lt, EnPat), nMatches(lt, DePat),
          nMatches(lt, FrPat), nMatches(lt, EsPat),
          nMatches(col("text"), ZhPat)))
      .withColumn("ch", h60(col("text")))
      .join(keepers, Seq("ch"))
      .join(near, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        h60(concat(lit("d:"), col("doc_id").cast("string"))).as("h"),
        (col("doc_id") % ForgetMod === 0).as("fg"),
        (col("doc_id") % 50 === 0).as("ev"),
        col("ct_hit").isNotNull.as("ct"),
        (col("doc_id") =!= col("keeper")).as("ex"),
        col("near_hit").isNotNull.as("nr"),
        col("sem_hit").isNotNull.as("sm"),
        col("ok_len"), col("ok_wordlen"), col("ok_sym"), col("ok_stop"),
        (col("pred_lang") =!= "en").as("bl"),
        col("sel_hit").isNull.as("nds"))
  }

  /** The release keep predicate over a [[releaseFlags]] row — no drop
    * signal fires. ONE definition for the census's final row and the
    * physical write.
    */
  private[graft] def releaseKeep: Column =
    !col("fg") && !col("ev") && !col("ct") && !col("ex") && !col("nr") &&
      !col("sm") && col("ok_len") && col("ok_wordlen") && col("ok_sym") &&
      col("ok_stop") && !col("bl") && !col("nds")

  /** EXECUTE the release build q_corpus_release censuses: write the
    * curated corpus under `outDir` keeping exactly the docs no
    * standing drop signal touches — one corpus scan + one semi-join
    * probe against the flag frame's kept ids (each signal is its own
    * bounded banded/blocked output; the write itself never shuffles
    * the text). OpsSpec closes the loop: the written corpus's
    * (count, bit_xor) must equal the census's final 'release' row,
    * re-running the census on the released corpus drops nothing in
    * the subset-stable stages, and q_data_card runs on the release as
    * the shipped datasheet.
    */
  def corpusReleaseApply(s: SparkSession, dir: String, outDir: String): Unit = {
    // cache: the kept-id list (bounded: ids only) feeds BOTH table
    // writes — without it each write re-runs the whole signal chain;
    // unpersisted after the writes so repeated applies in a long
    // session don't pin executor storage
    val keep = releaseFlags(s, dir).where(releaseKeep)
      .select(col("doc_id")).cache()
    try {
      Tables(s, dir, "documents")
        .join(keep, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      // the release ships its ALIGNED embeddings (vec_id ↔ doc_id), so
      // downstream consumers — including a census re-run on the release
      // itself — see a consistent corpus, not dangling vectors
      Tables(s, dir, "embeddings")
        .join(keep.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    } finally { keep.unpersist(); () }
  }

  /** k-anonymity threshold: QI groups below this size are "at risk". */
  val KanonK = 5

  /** q_chunk_overlap geometry: C-token chunks every S tokens
    * (overlap C − S). C > S so every boundary is double-covered.
    */
  val ChunkLen = 32
  val ChunkStride = 24

  /** Replay of [[releaseFlags]] + the 13-row q_corpus_release census.
    * Assembled from the same fragments the standalone oracles use
    * (shingle/pair/component chain from q_dedup_apply, semdedup CTEs,
    * Gopher flags, lang CASE, contamination, the DSIR chain and its
    * above-mean selx), so a Spark/oracle divergence in any ONE signal
    * fails its standalone gate too. Prefix conjunctions, chained
    * receipts, and the 13 rows are generated, not hand-typed — the
    * stage list lives in exactly one Scala Seq per engine.
    */
  private def corpusReleaseOracle: String = {
    val sigs = Seq("fg", "ev", "ct", "ex", "nr", "sm",
      "NOT ok_len", "NOT ok_wordlen", "NOT ok_sym", "NOT ok_stop",
      "bl", "nds")
    def pref(i: Int): String =
      if (i == 0) "TRUE"
      else sigs.take(i).map(s => s"NOT ($s)").mkString(" AND ")
    def cnt(cond: String) =
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)"
    val rdCols = sigs.zipWithIndex.map { case (sg, i) =>
      s"${cnt(s"${pref(i)} AND ($sg)")} AS rd_$i" }
    val ckCols = sigs.indices.map(i =>
      s"bit_xor(CASE WHEN ${pref(i + 1)} THEN h ELSE 0 END) AS ck_$i")
    val standing = Seq(
      s"${cnt("fg")} AS fgc", s"${cnt("ev")} AS evc", s"${cnt("ct")} AS ctc",
      s"${cnt("ex")} AS d1", s"${cnt("NOT ex AND nr")} AS d2",
      s"${cnt("NOT ex AND NOT nr AND sm")} AS d3",
      s"${cnt("ok_len")} AS q1", s"${cnt("ok_len AND ok_wordlen")} AS q2",
      s"${cnt("ok_len AND ok_wordlen AND ok_sym")} AS q3",
      s"${cnt("ok_len AND ok_wordlen AND ok_sym AND ok_stop")} AS q4",
      s"${cnt("ok_len AND ok_wordlen AND ok_sym AND ok_stop AND NOT bl")} AS q5",
      s"${cnt("NOT nds")} AS dsk")
    def relOut(i: Int): String =
      "n0 - " + (0 to i).map(j => s"rd_$j").mkString(" - ")
    val fam = Seq(
      ("governance", "forget", "n0", "fgc"),
      ("governance", "eval_holdout", "n0", "evc"),
      ("governance", "decontaminate", "n0 - evc", "ctc"),
      ("dedup", "exact", "n0", "d1"),
      ("dedup", "near", "n0 - d1", "d2"),
      ("dedup", "semantic", "n0 - d1 - d2", "d3"),
      ("quality", "len", "n0", "n0 - q1"),
      ("quality", "wordlen", "q1", "q1 - q2"),
      ("quality", "sym", "q2", "q2 - q3"),
      ("quality", "stop", "q3", "q3 - q4"),
      ("quality", "lang", "q4", "q4 - q5"),
      ("governance", "dsir", "n0", "n0 - dsk"))
    val rows = fam.zipWithIndex.map { case ((fn, rl, nin, nd), i) =>
      val relIn = if (i == 0) "n0" else relOut(i - 1)
      s"""SELECT CAST(${i + 1} AS INT) AS stage, '$fn' AS funnel,
         |  '$rl' AS rule, $nin AS n_in, $nd AS n_dropped,
         |  ($nin) - ($nd) AS n_out, $relIn AS rel_in,
         |  rd_$i AS rel_dropped, ${relOut(i)} AS rel_out,
         |  ck_$i AS kept_checksum FROM rag""".stripMargin
    } :+
      s"""SELECT CAST(13 AS INT), 'release', 'write', ${relOut(11)},
         |  CAST(0 AS BIGINT), ${relOut(11)}, ${relOut(11)},
         |  CAST(0 AS BIGINT), ${relOut(11)}, ck_11 FROM rag""".stripMargin
    s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
       |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
       |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
       |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |jpairs AS (SELECT doc1, doc2
       |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
       |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= $JaccardThreshold),
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
       |$sqlGopherFlags,
       |lng AS (SELECT doc_id, $sqlLangCase AS pred_lang FROM documents),
       |cev AS (SELECT DISTINCT h FROM shh WHERE doc_id % 50 = 0),
       |cfl AS (SELECT DISTINCT t.doc_id FROM shh t JOIN cev USING (h)
       |  WHERE t.doc_id % 50 <> 0),
       |bgd AS (SELECT doc_id, unnest(list_transform(range(greatest(len(a) - 1, 0)),
       |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
       |ft AS (SELECT doc_id, ${sqlH60("'dsir:' || bg")} % ${TextAnalysis.DsirBuckets} AS f,
       |    count(*) AS cnt
       |  FROM bgd GROUP BY 1, 2),
       |tg AS (SELECT doc_id FROM gf
       |  WHERE ok_len AND ok_wordlen AND ok_sym AND ok_stop),
       |cq AS (SELECT f, sum(cnt) AS cq FROM ft GROUP BY f),
       |cp AS (SELECT f, sum(cnt) AS cp FROM ft JOIN tg USING (doc_id) GROUP BY f),
       |md AS (SELECT cq.f, cq.cq, coalesce(cp.cp, 0) AS cp
       |  FROM cq LEFT JOIN cp USING (f)),
       |tot AS (SELECT sum(cq) AS tq, sum(cp) AS tp FROM md),
       |llr AS (SELECT f,
       |    ln((CAST(cp AS DOUBLE) + 1.0) / (CAST(tp AS DOUBLE) + ${TextAnalysis.DsirBuckets}.0)) -
       |    ln((CAST(cq AS DOUBLE) + 1.0) / (CAST(tq AS DOUBLE) + ${TextAnalysis.DsirBuckets}.0)) AS llr
       |  FROM md, tot),
       |ag AS (SELECT doc_id, sum(CAST(cnt * llr AS DECIMAL(28,20))) AS lw
       |  FROM ft JOIN llr USING (f) GROUP BY doc_id),
       |twn AS (SELECT sum(lw) AS tlw, CAST(count(*) AS BIGINT) AS nw FROM ag),
       |selx AS (SELECT doc_id FROM ag CROSS JOIN twn
       |  WHERE CAST(lw AS DOUBLE) * nw > CAST(tlw AS DOUBLE)),
       |fl AS (SELECT d.doc_id,
       |    ${sqlH60("'d:' || CAST(d.doc_id AS VARCHAR)")} AS h,
       |    d.doc_id % $ForgetMod = 0 AS fg,
       |    d.doc_id % 50 = 0 AS ev,
       |    cfl.doc_id IS NOT NULL AS ct,
       |    d.doc_id <> k.keeper AS ex,
       |    nd.doc_id IS NOT NULL AS nr,
       |    sd.vec_id IS NOT NULL AS sm,
       |    gf.ok_len, gf.ok_wordlen, gf.ok_sym, gf.ok_stop,
       |    lng.pred_lang <> 'en' AS bl,
       |    sx.doc_id IS NULL AS nds
       |  FROM documents d
       |  JOIN keepers k ON ${sqlH60("d.text")} = k.ch
       |  JOIN gf ON d.doc_id = gf.doc_id
       |  JOIN lng ON d.doc_id = lng.doc_id
       |  LEFT JOIN ndrop nd ON d.doc_id = nd.doc_id
       |  LEFT JOIN semdrop sd ON d.doc_id = sd.vec_id
       |  LEFT JOIN cfl ON d.doc_id = cfl.doc_id
       |  LEFT JOIN selx sx ON d.doc_id = sx.doc_id),
       |rag AS (SELECT CAST(count(*) AS BIGINT) AS n0,
       |  ${(standing ++ rdCols ++ ckCols).mkString(",\n  ")}
       |  FROM fl)
       |SELECT * FROM (
       |${rows.mkString("\nUNION ALL\n")})
       |ORDER BY stage""".stripMargin
  }

  /** Replay of the delta admission: the full-corpus banded est pairs
    * (the same [[Dedup.sqlMinhashCandCtes]] chain the minhash oracles
    * use — its band cap IS the v1 ∪ batch occupancy), the v1 content
    * index, batch keepers, Gopher/lang flags, then the first-signal
    * census with generated prefix conjunctions.
    */
  private def releaseDeltaOracle: String = {
    val sigs = Seq("fg", "ev", "bq", "bl", "xv", "xb", "nr")
    val names = Seq("d_forget", "d_eval", "d_quality", "d_lang",
      "d_exact_v1", "d_exact_batch", "d_near")
    def pref(i: Int): String =
      if (i == 0) "TRUE"
      else sigs.take(i).map(s => s"NOT ($s)").mkString(" AND ")
    val dCols = sigs.zipWithIndex.map { case (sg, i) =>
      s"CAST(sum(CASE WHEN ${pref(i)} AND ($sg) THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS ${names(i)}" }.mkString(",\n  ")
    val admCond = pref(sigs.length)
    s"""WITH ${graft.ops.Dedup.sqlMinhashCandCtes},
       |es AS (SELECT doc1, doc2,
       |    (${graft.ops.Dedup.sqlMinhashEst}) / 32.0 AS est_sim
       |  FROM cand JOIN mh x ON doc1 = x.doc_id JOIN mh y ON doc2 = y.doc_id),
       |nb AS (SELECT DISTINCT b FROM (
       |  SELECT doc2 AS b FROM es
       |    WHERE doc2 % 4 = 0 AND est_sim >= ${Dedup.StreamDupThreshold}
       |  UNION ALL
       |  SELECT doc1 FROM es
       |    WHERE doc1 % 4 = 0 AND doc2 % 4 <> 0
       |      AND est_sim >= ${Dedup.StreamDupThreshold})),
       |v1h AS (SELECT DISTINCT md5(text) AS ch FROM documents
       |  WHERE doc_id % 4 <> 0),
       |bt AS (SELECT doc_id, source, md5(text) AS ch FROM documents
       |  WHERE doc_id % 4 = 0),
       |kp AS (SELECT ch, min(doc_id) AS keeper FROM bt GROUP BY ch),
       |$sqlGopherFlags,
       |lng AS (SELECT doc_id, $sqlLangCase AS pred_lang FROM documents),
       |fl AS (SELECT bt.doc_id, bt.source,
       |    ${sqlH60("'d:' || CAST(bt.doc_id AS VARCHAR)")} AS h,
       |    bt.doc_id % $ForgetMod = 0 AS fg,
       |    bt.doc_id % 50 = 0 AS ev,
       |    NOT (gf.ok_len AND gf.ok_wordlen AND gf.ok_sym AND gf.ok_stop)
       |      AS bq,
       |    lng.pred_lang <> 'en' AS bl,
       |    v1h.ch IS NOT NULL AS xv,
       |    bt.doc_id <> kp.keeper AS xb,
       |    nb.b IS NOT NULL AS nr
       |  FROM bt JOIN gf ON bt.doc_id = gf.doc_id
       |    JOIN lng ON bt.doc_id = lng.doc_id
       |    LEFT JOIN v1h ON bt.ch = v1h.ch
       |    JOIN kp ON bt.ch = kp.ch
       |    LEFT JOIN nb ON bt.doc_id = nb.b)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_batch,
       |  $dCols,
       |  CAST(sum(CASE WHEN $admCond THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admitted,
       |  bit_xor(CASE WHEN $admCond THEN h ELSE 0 END)
       |    AS admitted_checksum
       |FROM fl GROUP BY source ORDER BY source""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_corpus_release" -> corpusReleaseOracle,
    "q_release_delta" -> releaseDeltaOracle,
    // the streaming twin executes the SAME admission cascade at
    // ingest and is graded by the identical replay
    "q_stream_release" -> releaseDeltaOracle,
    "q_prep_pipeline" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |dups AS (SELECT DISTINCT doc2 AS doc_id
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= $JaccardThreshold),
         |keep AS (SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
         |m AS (SELECT doc_id, lang,
         |  CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
         |  CAST(len(regexp_extract_all(lower(text), '$EnPat')) AS INT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '$PunctPat')) AS INT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '$DigitPat')) AS INT) AS n_digit,
         |  CAST(length(text) AS INT) AS len,
         |  $sqlLangCase AS pred_lang
         |FROM keep)
         |SELECT doc_id, lang, n_tok,
         |  ${sqlScore("n_tok", "n_stop", "n_punct", "n_digit", "len")} AS score
         |FROM m
         |WHERE pred_lang = 'en'
         |  AND ${sqlScore("n_tok", "n_stop", "n_punct", "n_digit", "len")} >= $MinScore
         |  AND n_tok >= $MinTokens
         |ORDER BY doc_id""".stripMargin,
    "q_importance_sample" ->
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
         |  CAST(len(regexp_extract_all(lower(text), '$EnPat')) AS INT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '$PunctPat')) AS INT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '$DigitPat')) AS INT) AS n_digit,
         |  CAST(length(text) AS INT) AS len
         |FROM documents),
         |sc AS (SELECT doc_id,
         |  ${sqlScore("n_tok", "n_stop", "n_punct", "n_digit", "len")} AS score,
         |  ${sqlH60("'samp:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS u_ppm
         |FROM m)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE u_ppm < CAST(floor((0.2 + 0.6 * score) * 1000000) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,
    "q_shuffle_shards" ->
      """WITH g AS (SELECT doc_id,
        |    CAST('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 16 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
        |    AS INT) AS pos
        |FROM g ORDER BY shard, pos""".stripMargin,
    "q_budget_fill" ->
      s"""WITH b AS (SELECT doc_id, source,
         |    CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
         |    ${sqlH60("'fill:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tok,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM b),
         |c AS (SELECT source, doc_id, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tok,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |      AS INT) AS pos,
         |    total_tok // (2 * n_sources) AS budget
         |  FROM b CROSS JOIN t)
         |SELECT source, pos, doc_id, n_tok, cum_tok, budget
         |FROM c WHERE cum_tok <= budget ORDER BY source, pos""".stripMargin,
    // Same recursive-reachability component labels as the
    // q_dedup_components oracle, then the split hashes the component
    // representative exactly as the Spark side does.
    "q_dedup_aware_split" ->
      s"""WITH RECURSIVE ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= $JaccardThreshold),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jpairs
         |  UNION ALL SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS u FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
         |labels AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
         |sp AS (SELECT d.lang, l.component,
         |  CASE WHEN ${sqlH60("'dsplit:' || CAST(l.component AS VARCHAR)")} % 100 < 80
         |    THEN 'train'
         |  WHEN ${sqlH60("'dsplit:' || CAST(l.component AS VARCHAR)")} % 100 < 90
         |    THEN 'val' ELSE 'test' END AS split
         |  FROM documents d JOIN labels l USING (doc_id))
         |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT component) AS BIGINT) AS n_clusters
         |FROM sp GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    "q_leakage_guard" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |shh AS (SELECT DISTINCT doc_id, ${sqlH60("s")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
         |  FROM shh a JOIN shh b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc1, doc2
         |  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= $JaccardThreshold),
         |spl AS (SELECT doc_id,
         |  CASE WHEN ${sqlH60("text")} % 100 < 80 THEN 'train'
         |    WHEN ${sqlH60("text")} % 100 < 90 THEN 'val'
         |    ELSE 'test' END AS split FROM documents)
         |SELECT least(a.split, b.split) AS split_a,
         |  greatest(a.split, b.split) AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  least(a.split, b.split) <> greatest(a.split, b.split) AS leaky
         |FROM jp JOIN spl a ON jp.doc1 = a.doc_id
         |JOIN spl b ON jp.doc2 = b.doc_id
         |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,
    // DuckDB list slices are 1-based inclusive (a[s:e] = elements
    // s..e), so a[k·S+1 : k·S+len] is exactly the Spark
    // slice(a, k·S+1, len). The chunk index k is a per-row
    // unnest(generate_series(0, (n−1)//S)) — the SAME closed-form
    // bound as Spark's sequence(0, floor((n−1)/S)), so the contract
    // holds at ANY document length (round-5 ADVICE: a fixed 512-term
    // series would have silently truncated docs past ~12.3k tokens).
    "q_chunk_overlap" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |tn AS (SELECT doc_id, a, CAST(len(a) AS INT) AS n FROM tk
         |  WHERE len(a) > 0),
         |ks AS (SELECT doc_id, a, n,
         |    unnest(generate_series(0, (n - 1) // $ChunkStride)) AS k FROM tn),
         |ch AS (SELECT doc_id, CAST(k AS INT) AS chunk_no, n AS n_tok,
         |    CAST(k * $ChunkStride AS INT) AS start_tok,
         |    CAST(least($ChunkLen, n - k * $ChunkStride) AS INT) AS chunk_len,
         |    ${sqlH60(s"array_to_string(a[k * $ChunkStride + 1 : " +
           s"k * $ChunkStride + least($ChunkLen, n - k * $ChunkStride)], ' ')")}
         |      AS chunk_hash
         |  FROM ks)
         |SELECT doc_id, chunk_no, n_tok, start_tok, chunk_len, chunk_hash
         |FROM ch ORDER BY doc_id, chunk_no""".stripMargin,
    // Each table audited with the same LEFT JOIN + conditional bit_xor;
    // bit_xor is order-free on both engines, so no decimal machinery.
    "q_forget" ->
      s"""WITH del AS (SELECT c_custkey AS k FROM customer
         |  WHERE c_custkey % $ForgetMod = 0),
         |c AS (SELECT 'customer' AS tbl,
         |    CAST(sum(CASE WHEN del.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_purged,
         |    CAST(sum(CASE WHEN del.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_kept,
         |    bit_xor(CASE WHEN del.k IS NULL
         |      THEN ${sqlH60("'c:' || CAST(c_custkey AS VARCHAR)")}
         |      ELSE 0 END) AS kept_checksum
         |  FROM customer LEFT JOIN del ON c_custkey = del.k),
         |o AS (SELECT 'orders' AS tbl,
         |    CAST(sum(CASE WHEN del.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN del.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    bit_xor(CASE WHEN del.k IS NULL
         |      THEN ${sqlH60("'o:' || CAST(o_orderkey AS VARCHAR)")}
         |      ELSE 0 END)
         |  FROM orders LEFT JOIN del ON o_custkey = del.k),
         |l AS (SELECT 'lineitem' AS tbl,
         |    CAST(sum(CASE WHEN del.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN del.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    bit_xor(CASE WHEN del.k IS NULL
         |      THEN ${sqlH60("'l:' || CAST(l_orderkey AS VARCHAR) || ':' || " +
             "CAST(l_linenumber AS VARCHAR)")}
         |      ELSE 0 END)
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  LEFT JOIN del ON o_custkey = del.k),
         |e AS (SELECT 'events' AS tbl,
         |    CAST(sum(CASE WHEN del.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN del.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    bit_xor(CASE WHEN del.k IS NULL
         |      THEN ${sqlH60("'e:' || CAST(event_id AS VARCHAR)")}
         |      ELSE 0 END)
         |  FROM events LEFT JOIN del ON user_id = del.k)
         |SELECT * FROM c UNION ALL SELECT * FROM o
         |UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e
         |ORDER BY tbl""".stripMargin,
    // The events slice of the q_forget audit — the streaming guard's
    // drained partial-fold must land on exactly this row.
    "q_stream_forget" ->
      s"""WITH del AS (SELECT c_custkey AS k FROM customer
         |  WHERE c_custkey % $ForgetMod = 0)
         |SELECT 'events' AS tbl,
         |  CAST(sum(CASE WHEN del.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_purged,
         |  CAST(sum(CASE WHEN del.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  bit_xor(CASE WHEN del.k IS NULL
         |    THEN ${sqlH60("'e:' || CAST(event_id AS VARCHAR)")}
         |    ELSE 0 END) AS kept_checksum
         |FROM events LEFT JOIN del ON user_id = del.k""".stripMargin,
    "q_snapshot_diff" ->
      s"""WITH o AS (SELECT doc_id, lang, md5(text) AS h_old
         |  FROM documents WHERE doc_id % 5 <> 0),
         |n AS (SELECT doc_id, lang,
         |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
         |      AS h_new
         |  FROM documents WHERE doc_id % 11 <> 0),
         |j AS (SELECT coalesce(o.lang, n.lang) AS lang,
         |    CASE WHEN h_old IS NULL THEN 'added'
         |      WHEN h_new IS NULL THEN 'removed'
         |      WHEN h_old <> h_new THEN 'changed'
         |      ELSE 'unchanged' END AS status
         |  FROM o FULL JOIN n ON o.doc_id = n.doc_id AND o.lang = n.lang)
         |SELECT status, lang, CAST(count(*) AS BIGINT) AS n
         |FROM j GROUP BY status, lang ORDER BY status, lang""".stripMargin,
    "q_kanon" ->
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz
         |  FROM customer GROUP BY 1, 2)
         |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(min(sz) AS BIGINT) AS k_anonymity,
         |  CAST(sum(CASE WHEN sz < $KanonK THEN sz ELSE 0 END) AS BIGINT)
         |    AS rows_at_risk,
         |  CAST(sum(CASE WHEN sz < $KanonK THEN 1 ELSE 0 END) AS BIGINT)
         |    AS groups_at_risk
         |FROM g""".stripMargin
  )
}
