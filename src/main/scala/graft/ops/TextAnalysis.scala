package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import TextFns._

/** Text-analysis operators over the documents table: token frequency,
  * n-gram-heuristic language ID, quality scoring, token counting, and
  * document fingerprinting. All are single-pass, codegen-friendly
  * column expressions (no UDFs) — at 100 TB each is a map-only stage
  * except the global token frequency, which is one partial+final agg.
  *
  * Determinism/oracle notes: every score is built from integer regexp
  * counts combined with identically-ordered double arithmetic, so
  * Spark and DuckDB produce bit-identical values. The language-ID CASE
  * chain is mirrored verbatim in the oracle. (On this synthetic corpus
  * the `lang` column is random label noise over English-ish text — the
  * heuristic's `pred_lang` is graded for determinism, not accuracy.)
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Tokenizer-vocabulary size for q_oov_rate — deliberately SMALLER
    * than the corpus vocabulary (~31 words at sf0.1) so the OOV mass
    * is non-trivial at every SF.
    */
  val OovVocab = 20

  /** Epoch cap for q_unimax: no language may be repeated more than
    * this many times regardless of how much budget is left — the
    * UniMax bound on low-resource over-repetition.
    */
  val UnimaxEpochs = 2L

  /** Minimum adjacent-pair count for q_watermark_detect's z-test —
    * below this the one-proportion test has no power and the z values
    * are noise (Kirchenbauer et al. report T≳25 tokens for reliable
    * detection; 16 pairs is the floor the synthetic docs clear).
    */
  val WatermarkMinPairs = 16L

  /** Hashed-feature space size for q_dsir. The hashing is DSIR's own
    * scale trick: the target/raw models are ≤DsirBuckets rows no
    * matter how large the corpus grows (a raw bigram LM's vocab² table
    * does not have that bound), so both stay broadcastable forever.
    */
  val DsirBuckets = 8192L

  /** q_chat_pack turn geometry: a document reads as fixed-length
    * turns of this many tokens (turn 0 = system, odd = user, even ≥ 2
    * = assistant).
    */
  val ChatTurnLen = 16

  /** The fixed 3-term retrieval query shared by q_bm25 and the hybrid
    * fusion surface (Similarity.q_rrf_fusion) — one constant so the
    * lexical leg of the fusion can never drift from the BM25 query.
    */
  private[graft] val RetrievalTerms = Seq("spark", "table", "hash")

  /** BM25 scores (k1=1.2, b=0.75) of [[RetrievalTerms]] over the
    * documents table — (doc_id, bm25 rounded to 6), one row per doc
    * containing ≥1 query term. Shared by q_bm25 (top-20 presentation)
    * and Similarity's q_rrf_fusion lexical leg. The per-term partial
    * scores are summed as THREE conditional aggregates added in fixed
    * term order — not sum() over an unordered term stream — so the
    * double addition order is partition-independent and matches the
    * oracle bit-wise (each conditional sum folds ≤1 value). avgdl is
    * an exact integer-sum / count division, not avg(). ln() rounds to
    * 6 before ranking (libm last-ulp). The tf frame is term-filtered
    * BEFORE any shuffle, so at corpus scale the chain moves only the
    * query's posting lists, never the corpus. Session-materialized
    * (Scratch): two consumers would otherwise each re-run the
    * tokenize+explode pass; the stored table is query-posting-sized
    * (docs containing ≥1 term × 2 columns), billed as shared_bm25.
    */
  private[graft] def bm25Scores(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"bm25_$dir")(bm25ScoresBuild(s, dir))

  private def bm25ScoresBuild(s: SparkSession, dir: String): DataFrame = {
    val terms = RetrievalTerms
    val docs = Tables.fanout(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("sum_dl"))
    val tf = docs.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("t"))
      .where(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), Seq("t")).crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n"))
      .withColumn("sc",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val termSums = terms.map(t =>
      coalesce(sum(when(col("t") === t, col("sc"))), lit(0.0)).as(s"s_$t"))
    scored.groupBy(col("doc_id"))
      .agg(termSums.head, termSums.tail: _*)
      .select(col("doc_id"),
        round(terms.map(t => col(s"s_$t")).reduce(_ + _), 6).as("bm25"))
  }

  /** q_query_expansion (RM3-lite) parameters: size of the
    * pseudo-relevance feedback set, expansion terms added, and their
    * interpolation weight (seed terms keep weight 1.0).
    */
  val FbDocs = 10
  val FbTerms = 5
  val ExpWeight = 0.5

  /** DuckDB replay of [[bm25Scores]] — CTE chain ending in
    * `bm(doc_id, bm25)`; shared by the q_bm25 and q_rrf_fusion
    * oracles.
    */
  private[graft] def sqlBm25Ctes: String =
    s"""docs AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl, toks FROM docs),
       |stats AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM d),
       |tf AS (SELECT doc_id, dl, t, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM d)
       |  WHERE t IN (${RetrievalTerms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2, 3),
       |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       |sc AS (SELECT doc_id, t,
       |  ln((n - df + 0.5) / (df + 0.5) + 1.0) *
       |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n))) AS sc
       |  FROM tf JOIN df USING (t) CROSS JOIN stats),
       |bm AS (SELECT doc_id, round(
       |${RetrievalTerms.map(t =>
          s"  coalesce(sum(CASE WHEN t = '$t' THEN sc END), 0.0)")
          .mkString(" +\n")}, 6) AS bm25
       |FROM sc GROUP BY doc_id)""".stripMargin

  private[ops] val EnPat = "\\b(the|and|of|to|a)\\b"
  private[ops] val DePat = "\\b(der|die|das|und|ist|nicht)\\b"
  private[ops] val FrPat = "\\b(le|les|et|est|une|que)\\b"
  private[ops] val EsPat = "\\b(el|los|y|es|una|como)\\b"
  private[ops] val ZhPat = "[一-鿿]"
  private[ops] val PunctPat = "[.,;:!?]"
  private[ops] val DigitPat = "[0-9]"
  /** Greedy merges learned by q_bpe_train (the model size). */
  val BpeRounds = 8

  /** String `replace` consumes its match and resumes scanning AFTER it
    * in the source, so back-to-back occurrences (' a b a b ') merge
    * only alternately per call — one pass is NOT canonical BPE, which
    * merges every non-overlapping adjacent occurrence in a round. A
    * run of k occurrences loses at least half per pass, so
    * ⌈log₂ k⌉ passes reach the fixed point; 6 passes cover runs up to
    * 64 pairs (words of ~128 letters — far past any `[a-z]+` token).
    * Both engines apply the SAME nested-replace count, so oracle
    * parity holds round for round by construction.
    */
  val MergePasses = 6

  /** DuckDB replay of [[bpeLoop]]: CTEs `w0..w$BpeRounds` (word table
    * per round, word column carried) and `t1..t$BpeRounds` (each
    * round's chosen pair + count). Shared by the q_bpe_train and
    * q_bpe_encode oracles.
    */
  private def sqlBpeChain: String = {
    // [[MergePasses]]-deep nested replace — the oracle's merge step,
    // mirroring the Spark side's fold exactly.
    val sqlMergeFixpoint = (1 to MergePasses).foldLeft("seq") { (e, _) =>
      s"replace($e, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ')"
    }
    val rounds = (1 to BpeRounds).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""p$r AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS pair
         |    FROM (SELECT n, string_split(trim(seq), ' ') AS toks,
         |        unnest(generate_series(1, len(string_split(trim(seq), ' ')) - 1)) AS i
         |      FROM $prev))
         |  GROUP BY pair),
         |t$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |w$r AS (SELECT w, $sqlMergeFixpoint AS seq, n
         |  FROM $prev CROSS JOIN t$r)""".stripMargin
    }.mkString(",\n")
    s"""tkb AS (SELECT unnest(${sqlTokens("text")}) AS w FROM documents),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tkb
       |  WHERE regexp_full_match(w, '^[a-z]+$$') GROUP BY w),
       |w0 AS (SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) ||
       |    ' </w> ' AS seq, n FROM wc),
       |$rounds""".stripMargin
  }

  /** The BPE training loop shared by q_bpe_train / q_bpe_encode:
    * returns the final word table (w, seq, n) — seq is the word's
    * space-joined symbol segmentation after all merges — and the
    * merges in training order as (round, left, right, merged, count).
    */
  private def bpeLoop(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    var vocab = Tables.fanout(Tables(s, dir, "documents").select(col("text")))
      .select(explode(tokens(col("text"))).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(col("w"),
        concat(lit(" "),
          trim(regexp_replace(col("w"), "(.)", "$1 ")),
          lit(" </w> ")).as("seq"),
        col("n"))
      .localCheckpoint()
    val merges = collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val top = vocab
        .withColumn("toks", split(trim(col("seq")), " "))
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> " +
            "concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .head()
      val pair = top.getString(0)
      val Array(a, b) = pair.split(" ", 2)
      merges += ((r, a, b, a + b, top.getLong(1)))
      // Fixed-point merge (see [[MergePasses]]): nested replace, the
      // same depth the oracle CTE applies.
      val mergedSeq = (1 to MergePasses).foldLeft(col("seq")) { (c, _) =>
        call_function("replace", c, lit(s" $pair "), lit(s" $a$b "))
      }
      vocab = vocab.select(col("w"), mergedSeq.as("seq"), col("n"))
        .localCheckpoint()
    }
    (vocab, merges.toSeq)
  }
  private[ops] val SymPat = "[^a-z0-9\\s]"

  /** The UniMax ascending waterfill (closed form — see the q_unimax
    * commentary), shared by the allocation report and its executable
    * materializer q_epoch_expand so the two can never drift: per-lang
    * rows carrying (lang, chars, cap, idx, cum_prev, budget, nl, k,
    * ck). All columns BIGINT; the windows run over the |langs|-row
    * aggregate (bounded-summary contract).
    */
  private def unimaxWaterfill(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("cap"), col("lang"))
    val per = Tables(s, dir, "documents").groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("chars")).where(col("chars") > 0)
    val tot = per.agg(sum(col("chars")).as("budget"),
      count(lit(1)).as("nl"))
    val ranked = per.crossJoin(broadcast(tot))
      .withColumn("cap", col("chars") * lit(UnimaxEpochs))
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("cum_prev", coalesce(
        sum(col("cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val kf = ranked.agg(min(when(
      col("cap") * (col("nl") - col("idx") + 1) >
        col("budget") - col("cum_prev"), col("idx"))).as("kfail"))
    val withK = ranked.crossJoin(broadcast(kf))
      .withColumn("k", coalesce(col("kfail") - 1, col("nl")))
    val ck = withK.agg(coalesce(
      sum(when(col("idx") <= col("k"), col("cap"))), lit(0L)).as("ck"))
    withK.crossJoin(broadcast(ck))
  }

  private[ops] def nMatches(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0)))

  /** Canonical language-ID decision chain over the five match counts —
    * shared by q_lang_id and q_prep_pipeline so the two can never
    * drift (the oracle mirror is [[sqlLangCase]]).
    */
  private[ops] def predLangFromCounts(en: Column, de: Column, fr: Column,
      es: Column, zh: Column): Column =
    when(zh > 0, "zh")
      .when(de > en && de >= fr && de >= es, "de")
      .when(fr > en && fr >= es, "fr")
      .when(es > en, "es")
      .otherwise("en")

  /** Canonical quality score from raw counts (oracle mirror:
    * [[sqlScore]]). Identical operation order in every use site keeps
    * the doubles bit-exact across engines.
    */
  private[ops] def qualityScore(nTok: Column, nStop: Column, nPunct: Column,
      nDigit: Column, len: Column): Column =
    lit(0.4) * least(nTok / lit(50.0), lit(1.0)) +
      lit(0.3) * (nStop.cast("double") / greatest(nTok, lit(1))) +
      lit(0.2) * (lit(1.0) - nPunct.cast("double") / greatest(len, lit(1))) +
      lit(0.1) * (lit(1.0) - nDigit.cast("double") / greatest(len, lit(1)))

  /** Adds the q_gopher_quality flag columns (n_tok, ok_len,
    * ok_wordlen, ok_sym, ok_stop, keep) to any frame with a `text`
    * column, preserving existing columns. Public so the STREAMING
    * corpus gate ([[graft.streaming.Streams.qualityCountsToTable]])
    * applies the byte-identical predicate — batch and stream cannot
    * drift. Pure stateless column arithmetic, so it is legal on a
    * streaming DataFrame.
    */
  def gopherFlags(df: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val awl = col("n_tok_chars").cast("double") / greatest(col("n_tok"), lit(1))
    val symR = col("n_sym").cast("double") / greatest(col("n_tok"), lit(1))
    val stopR = col("n_stop").cast("double") / greatest(col("n_tok"), lit(1))
    df.withColumn("n_tok", size(toks))
      .withColumn("n_tok_chars", length(array_join(toks, "")))
      .withColumn("n_stop", nMatches(lower(col("text")), EnPat))
      .withColumn("n_sym", nMatches(lower(col("text")), SymPat))
      .withColumn("ok_len", col("n_tok") >= 25 && col("n_tok") <= 75)
      .withColumn("ok_wordlen", awl >= 3.0 && awl <= 10.0)
      .withColumn("ok_sym", symR < 0.1)
      .withColumn("ok_stop", stopR >= 0.06)
      .withColumn("keep",
        col("ok_len") && col("ok_wordlen") && col("ok_sym") && col("ok_stop"))
  }

  /** The PII scrub projection — (doc_id, n_emails, n_longnums,
    * scrub_hash) from any frame with (doc_id, text). Public so the
    * STREAMING redaction gate ([[graft.streaming.Streams.piiToTable]])
    * applies the byte-identical regex chain — batch and stream cannot
    * drift. Synthetic PII (an email + a long account number derived
    * from doc_id) is appended first so the scrub provably fires on
    * every row; pure stateless column arithmetic, legal on a
    * streaming DataFrame.
    */
  def piiScrub(df: DataFrame): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+"
    val digits = "[0-9]{6,}"
    val withPii = concat(lower(col("text")),
      lit(" contact doc"), col("doc_id").cast("string"),
      lit("@example.com acct "),
      (col("doc_id") * 1000003L + 100000L).cast("string"))
    val scrubbed = regexp_replace(
      regexp_replace(withPii, email, "<email>"), digits, "<num>")
    df.select(col("doc_id"), withPii.as("t0"), scrubbed.as("t1"))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(t0, '$email', 0)")).as("n_emails"),
        size(expr(s"regexp_extract_all(t0, '$digits', 0)")).as("n_longnums"),
        md5(col("t1")).as("scrub_hash"))
  }

  /** The green-list predicate (Kirchenbauer detection): a token pair
    * is green iff its md5's first hex digit < '8' (γ = 0.5,
    * cross-engine deterministic). ONE definition shared by the batch
    * and streaming z computations.
    */
  private def watermarkGreen(bg: Column): Column =
    substring(md5(bg), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")

  /** Per-doc watermark z-score over adjacent token pairs: z =
    * (2g − n)/√n under H₀ green-rate 0.5; docs with n <
    * [[WatermarkMinPairs]] are excluded (no test power). z from
    * per-doc (n, g) counts — shared final expression for both forms.
    */
  private def watermarkScore(counted: DataFrame): DataFrame =
    counted.where(col("n") >= WatermarkMinPairs)
      .withColumn("z", (lit(2.0) * col("g") - col("n")) /
        sqrt(col("n").cast("double")))

  /** Batch per-doc (n, g, z): explode the pair stream and aggregate —
    * md5 runs CODEGEN'd per exploded row with map-side partial
    * aggregation (one (doc_id, n, g) row per doc ever shuffles),
    * where the array-lambda form evaluates the whole
    * tokenize→shingle→md5 chain INTERPRETED per element (higher-order
    * functions don't codegen; measured 5.7 s vs 1.3 s at sf0.1 for
    * identical output). Needs (doc_id, source, text).
    */
  private[graft] def watermarkZ(docs: DataFrame): DataFrame =
    watermarkScore(docs
      .select(col("doc_id"), col("source"),
        explode(shingles(tokens(col("text")), 2)).as("bg"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(watermarkGreen(col("bg")), 1L).otherwise(0L)).as("g")))

  /** Per-source census partials over [[watermarkZ]] rows: (n_docs,
    * n_flagged, Σ round(z,6) as DECIMAL). Count/sum/decimal-sum are
    * associative with identity 0, so micro-batch partials fold to the
    * exact batch census — the q_stream_doremi partials discipline.
    */
  private[graft] def watermarkPartials(docs: DataFrame): DataFrame =
    watermarkZ(docs)
      .select(col("source"), col("z"),
        round(col("z"), 6).cast(DecimalType(28, 6)).as("zd"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("z") >= 4.0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("zd")).as("zds"))

  /** Final census frame from (possibly folded) partials — ONE formula
    * for the batch op and the drained stream, so the pair cannot
    * drift.
    */
  private[graft] def watermarkFromPartials(p: DataFrame): DataFrame =
    p.select(col("source"), col("n_docs"), col("n_flagged"),
      round(col("zds").cast("double") / col("n_docs"), 6).as("mean_z"))

  /** DuckDB replay of [[gopherFlags]] — CTE chain ending in
    * `gf(doc_id, n_tok, ok_len, ok_wordlen, ok_sym, ok_stop)`; shared
    * by the q_gopher_quality and q_filter_funnel oracles.
    */
  private[ops] def sqlGopherFlags: String =
    s"""m AS (SELECT doc_id,
       |  CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
       |  CAST(length(array_to_string(${sqlTokens("text")}, '')) AS INT) AS n_tok_chars,
       |  CAST(len(regexp_extract_all(lower(text), '$EnPat')) AS INT) AS n_stop,
       |  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS INT) AS n_sym
       |FROM documents),
       |gf AS (SELECT doc_id, n_tok,
       |  n_tok >= 25 AND n_tok <= 75 AS ok_len,
       |  CAST(n_tok_chars AS DOUBLE) / greatest(n_tok, 1) >= 3.0
       |    AND CAST(n_tok_chars AS DOUBLE) / greatest(n_tok, 1) <= 10.0 AS ok_wordlen,
       |  CAST(n_sym AS DOUBLE) / greatest(n_tok, 1) < 0.1 AS ok_sym,
       |  CAST(n_stop AS DOUBLE) / greatest(n_tok, 1) >= 0.06 AS ok_stop
       |FROM m)""".stripMargin

  private[ops] val sqlLangCase: String =
    s"""CASE WHEN len(regexp_extract_all(text, '$ZhPat')) > 0 THEN 'zh'
       |    WHEN len(regexp_extract_all(lower(text), '$DePat')) > len(regexp_extract_all(lower(text), '$EnPat'))
       |     AND len(regexp_extract_all(lower(text), '$DePat')) >= len(regexp_extract_all(lower(text), '$FrPat'))
       |     AND len(regexp_extract_all(lower(text), '$DePat')) >= len(regexp_extract_all(lower(text), '$EsPat')) THEN 'de'
       |    WHEN len(regexp_extract_all(lower(text), '$FrPat')) > len(regexp_extract_all(lower(text), '$EnPat'))
       |     AND len(regexp_extract_all(lower(text), '$FrPat')) >= len(regexp_extract_all(lower(text), '$EsPat')) THEN 'fr'
       |    WHEN len(regexp_extract_all(lower(text), '$EsPat')) > len(regexp_extract_all(lower(text), '$EnPat')) THEN 'es'
       |    ELSE 'en' END""".stripMargin

  /** CTE chain `per → tot → rk → kf → kk → ck` replaying
    * [[unimaxWaterfill]] verbatim — shared by the q_unimax and
    * q_epoch_expand oracles.
    */
  private def sqlUnimaxCtes: String =
    s"""per AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY lang HAVING sum(n_chars) > 0),
       |tot AS (SELECT CAST(sum(chars) AS BIGINT) AS budget,
       |  CAST(count(*) AS BIGINT) AS nl FROM per),
       |rk AS (SELECT lang, chars, chars * $UnimaxEpochs AS cap, budget, nl,
       |  CAST(row_number() OVER (ORDER BY chars * $UnimaxEpochs, lang)
       |    AS BIGINT) AS idx,
       |  coalesce(sum(chars * $UnimaxEpochs) OVER (
       |    ORDER BY chars * $UnimaxEpochs, lang
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
       |  FROM per CROSS JOIN tot),
       |kf AS (SELECT min(CASE WHEN cap * (nl - idx + 1) > budget - cum_prev
       |  THEN idx END) AS kfail FROM rk),
       |kk AS (SELECT coalesce(kfail - 1, (SELECT nl FROM tot)) AS k FROM kf),
       |ck AS (SELECT coalesce(sum(CASE WHEN idx <= k THEN cap END), 0) AS ck
       |  FROM rk CROSS JOIN kk)""".stripMargin

  private[ops] def sqlScore(nTok: String, nStop: String, nPunct: String,
      nDigit: String, len: String): String =
    s"""0.4 * least($nTok / 50.0, 1.0) +
       |    0.3 * (CAST($nStop AS DOUBLE) / greatest($nTok, 1)) +
       |    0.2 * (1.0 - CAST($nPunct AS DOUBLE) / greatest($len, 1)) +
       |    0.1 * (1.0 - CAST($nDigit AS DOUBLE) / greatest($len, 1))""".stripMargin

  /** Per-document bigram-LM perplexity (unordered) — the shared body
    * of q_lm_perplexity and q_perplexity_buckets; see the
    * q_lm_perplexity commentary for the model and determinism notes.
    * Materialized ONCE per session via [[Scratch.materialize]] (the
    * shared_jaccard_pairs discipline) — before round 6 each consumer
    * re-ran the whole tokenize → shingle → LM-train chain, making
    * q_perplexity_buckets the slowest bench entry for work
    * q_lm_perplexity had already done. Billed as `shared_perplexity`
    * in Bench so both consumers measure incremental cost. Returns
    * (doc_id, n_bg, cross_entropy, ppl).
    */
  private[graft] def sharedPerplexity(s: SparkSession, dir: String): DataFrame = {
    // the explode feeds BOTH the LM build and the scoring join inside
    // the one materializing write — cache it for the build, unpersist
    // right after (memoized later calls never evaluate the block, so
    // nothing stays pinned across the session)
    var pinned: DataFrame = null
    val out = Scratch.materialize(s, s"perplexity_$dir") {
      val bgDoc = docBigrams(Tables(s, dir, "documents")).cache()
      pinned = bgDoc
      perplexityFromBigrams(bgDoc)
    }
    if (pinned != null) { pinned.unpersist(); () }
    out
  }

  /** The (doc_id, bg) bigram occurrence stream of a documents frame —
    * the shared front of the LM train and score paths.
    */
  private[graft] def docBigrams(docs: DataFrame): DataFrame =
    Tables.fanout(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(shingles(tokens(col("text")), 2)).as("bg"))

  /** Bigram-LM conditional probabilities (bg, p) trained from an
    * occurrence stream — the vocab²-bounded, broadcastable model
    * table. Factored from the scorer so the streaming mixture monitor
    * can train OFFLINE on the corpus and score arriving micro-batches
    * with the SAME code (the ivfQuantizer offline-train discipline).
    */
  private[graft] def lmProbs(bgDoc: DataFrame): DataFrame = {
    val lm = bgDoc.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .select(col("bg"), col("cnt"),
        substring_index(col("bg"), " ", 1).as("w1"))
    val uni = lm.groupBy("w1").agg(sum(col("cnt")).as("cnt1"))
    lm.join(uni, Seq("w1"))
      .select(col("bg"),
        (col("cnt").cast("double") / col("cnt1")).as("p"))
  }

  /** Per-doc (n_bg, cross_entropy, ppl) from an occurrence stream
    * scored against a prob table. The trained LM is vocab²-bounded —
    * broadcast it so the corpus-sized occurrence stream never shuffles
    * on string keys.
    */
  private[graft] def scoreBigrams(bgDoc: DataFrame, probs: DataFrame): DataFrame =
    bgDoc.join(broadcast(probs), Seq("bg"))
      .select(col("doc_id"),
        log(col("p")).cast("decimal(28,20)").as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bg"), sum(col("term")).as("term_sum"))
      .select(col("doc_id"), col("n_bg"),
        round(negate(col("term_sum").cast("double")) / col("n_bg"), 6)
          .as("cross_entropy"))
      .select(col("doc_id"), col("n_bg"), col("cross_entropy"),
        round(exp(col("cross_entropy")), 6).as("ppl"))

  private def perplexityFromBigrams(bgDoc: DataFrame): DataFrame =
    scoreBigrams(bgDoc, lmProbs(bgDoc))

  /** The DoReMi fold shared by q_doremi_step and its streaming twin:
    * per-source (n_docs, n_bg, ces = Σ ce·n_bg in DECIMAL) → excess
    * loss vs the easiest domain → renormalized multiplicative
    * weights. ONE definition so batch and drained-stream weights
    * cannot drift on the formula.
    */
  /** Per-doc DSIR log-importance weight (doc_id, n_feat, lw
    * DECIMAL(28,20)) — hashed-bigram log-likelihood ratio of the
    * Gopher-keep target LM vs the raw-corpus LM (both Laplace,
    * ≤[[DsirBuckets]] rows at ANY corpus size so scoring is one
    * broadcast join). Shared by the q_dsir score surface and the
    * executable selection (q_dsir_apply / [[dsirApply]]).
    */
  private[graft] def dsirLogw(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"dsir_logw_$dir") { dsirLogwBuild(s, dir) }
  // ^ session-shared materialized intermediate (round 8): the log
  //   weights feed q_dsir, the q_dsir_apply census, the physical
  //   dsirApply write, and the corpus-release capstone — before this
  //   each consumer re-ran the bigram explode + LM fit. Billed as
  //   shared_dsir_logw in Bench.

  private def dsirLogwBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val ft = docBigrams(docs)
      .select(col("doc_id"),
        (h60(concat(lit("dsir:"), col("bg"))) % DsirBuckets).as("f"))
      .groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("cnt"))
      .cache()
    val tgt = gopherFlags(docs.select(col("doc_id"), col("text")))
      .where(col("keep")).select(col("doc_id"))
    val cq = ft.groupBy(col("f")).agg(sum(col("cnt")).as("cq"))
    val cp = ft.join(tgt, Seq("doc_id"))
      .groupBy(col("f")).agg(sum(col("cnt")).as("cp"))
    val md = cq.join(cp, Seq("f"), "left")
      .select(col("f"), col("cq"), coalesce(col("cp"), lit(0L)).as("cp"))
    val tot = md.agg(sum(col("cq")).as("tq"), sum(col("cp")).as("tp"))
    val llr = md.crossJoin(broadcast(tot))
      .select(col("f"),
        (log((col("cp").cast("double") + lit(1.0)) /
             (col("tp").cast("double") + lit(DsirBuckets.toDouble))) -
         log((col("cq").cast("double") + lit(1.0)) /
             (col("tq").cast("double") + lit(DsirBuckets.toDouble)))).as("llr"))
    ft.join(broadcast(llr), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        sum((col("cnt") * col("llr")).cast("decimal(28,20)")).as("lw"))
  }

  /** THE DSIR selection set — docs whose log-weight exceeds the
    * corpus MEAN log-weight, the deterministic budget form of DSIR's
    * weight-proportional sampling (a fixed positive-lw rule is
    * vacuous on a corpus whose target occupies most of it: every
    * driver doc scores negative). The comparison is lw·n > Σlw with
    * NO division; both sides cast the exact DECIMAL sums to DOUBLE
    * first and multiply in IEEE — a raw DECIMAL(28,20)×BIGINT product
    * would exceed precision 38, where Spark silently reduces scale
    * and DuckDB promotes differently, so the double form is the one
    * whose boundary decisions are bit-identical across engines.
    * Single predicate shared by the census (q_dsir_apply) and the
    * physical write ([[dsirApply]]), the deletionList discipline
    * applied to importance selection.
    */
  private[graft] def dsirSelected(s: SparkSession, dir: String): DataFrame = {
    val lw = dsirLogw(s, dir)
    val tot = lw.agg(sum(col("lw")).as("tlw"), count(lit(1)).as("nw"))
    lw.crossJoin(broadcast(tot))
      .where(col("lw").cast("double") * col("nw") >
        col("tlw").cast("double"))
      .select(col("doc_id"))
  }

  /** EXECUTE the selection q_dsir_apply censuses: write the corpus
    * under `outDir` keeping exactly the ABOVE-MEAN-weighted docs
    * (the [[dsirSelected]] predicate — lw·n > Σlw, NOT lw > 0) —
    * one scan + one semi-join probe on doc_id (the selection set is
    * the scoring chain's bounded output).
    */
  def dsirApply(s: SparkSession, dir: String, outDir: String): Unit = {
    Tables(s, dir, "documents")
      .join(dsirSelected(s, dir), Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  private[graft] def doremiWeights(per0: DataFrame): DataFrame = {
    val eta = 1.0
    val per = per0.select(col("source"), col("n_docs"), col("n_bg"),
      round(col("ces").cast("double") / col("n_bg"), 6).as("ce"))
    val ref = per.agg(min(col("ce")).as("ref"))
    val unn = per.crossJoin(broadcast(ref))
      .select(col("source"), col("n_docs"), col("n_bg"), col("ce"),
        round(col("ce") - col("ref"), 6).as("excess"))
      .withColumn("u",
        round(col("n_bg").cast("double") * exp(lit(eta) * col("excess")), 6))
    val tot = unn.agg(sum(col("u").cast("decimal(28,20)")).as("tu"))
    unn.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_bg"), col("ce"),
        col("excess"), round(col("u") / col("tu").cast("double"), 6).as("weight"))
      .orderBy(col("source"))
  }

  /** The hashed 1/2/3-gram instance stream (source, n, h) over a
    * (source, text) frame — ONE definition shared by the batch
    * q_distinct_ngrams_theta aggregate and the streaming twin's
    * per-micro-batch partials, so the two cannot drift on
    * tokenization, shingling, or the hash.
    */
  private[graft] def ngramHashes(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), tokens(col("text")).as("a"))
    Seq(1, 2, 3).map { n =>
      tok.select(col("source"), lit(n).as("n"),
        explode(shingles(col("a"), n)).as("g"))
    }.reduce(_ unionAll _)
      .select(col("source"), col("n"), h60(col("g")).as("h"))
  }

  /** The sketch-census projection over a per-(source, n) aggregate
    * with (total, mins, exact_distinct) — the [[Govern.thetaCensus]]
    * discipline: one definition shared by the batch query and the
    * drained twin so both grade against the one oracle text.
    */
  private[graft] def ngramThetaCensus(agg: DataFrame): DataFrame =
    agg.select(col("source"), col("n"), col("total"),
        size(col("mins")).as("n_kept"),
        when(size(col("mins")) >= Govern.ThetaK,
          element_at(col("mins"), Govern.ThetaK)).as("theta"),
        round(Govern.estFromMins(col("mins")), 4).as("est_distinct"),
        col("exact_distinct"))
      .withColumn("err_pct",
        round(abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct") * 100, 4))
      .orderBy(col("source"), col("n"))

  val queries: Map[String, Q] = Map(
    // Global token frequency, top 20. (fanout: the regex/explode work
    // dwarfs the pre-explode shuffle of the raw text — see Tables.fanout.)
    "q_text_tokens" -> ((s, dir) =>
      Tables.fanout(Tables(s, dir, "documents").select(col("text")))
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20)),

    // Stopword-profile language ID + CJK detection.
    "q_lang_id" -> ((s, dir) => {
      val lt = lower(col("text"))
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          nMatches(lt, EnPat).as("n_en"), nMatches(lt, DePat).as("n_de"),
          nMatches(lt, FrPat).as("n_fr"), nMatches(lt, EsPat).as("n_es"),
          nMatches(col("text"), ZhPat).as("n_zh"))
        .withColumn("pred_lang", predLangFromCounts(col("n_en"), col("n_de"),
          col("n_fr"), col("n_es"), col("n_zh")))
        .orderBy(col("doc_id"))
    }),

    // Zipf-law fit — the corpus-health diagnostic (a natural corpus
    // has log-log slope ≈ −1; synthetic/templated text bends the
    // curve): OLS of ln(cnt) on ln(rank) over the top-1000 tokens.
    // The corpus collapses to the vocabulary aggregate, TakeOrdered
    // keeps 1000 rows, and the global rank window runs on that
    // 1000-row frame only. ln() products are formed in double
    // (IEEE-identical both engines), summed in DECIMAL(28,20) so
    // accumulation order cannot drift, and the final slope algebra is
    // one mirrored double tree.
    "q_zipf" -> ((s, dir) => {
      val top = Tables.fanout(Tables(s, dir, "documents")
          .select(col("text")))
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(1000)
      val d = "decimal(28,20)"
      val xy = top
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token"))))
        .select(log(col("rank").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
      val ag = xy.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(d)).cast("double").as("sx"),
        sum(col("y").cast(d)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(d)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(d)).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(d)).cast("double").as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      ag.select(
        round(num / den, 6).as("slope"),
        round((col("sy") - (num / den) * col("sx")) / col("n"), 6)
          .as("intercept"),
        round((num * num) /
          (den * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
    }),

    // Classifier-eval confusion matrix for the language-ID pass:
    // true lang × predicted lang counts with per-true-class recall —
    // the quality-control readout a labeling pipeline publishes next
    // to its predictions. One map-only predict + one tiny aggregate;
    // the recall window runs over the langs×langs cell frame (≤25
    // rows), never the corpus.
    "q_confusion" -> ((s, dir) => {
      val lt = lower(col("text"))
      val cells = Tables.fanout(Tables(s, dir, "documents")
          .select(col("lang"), col("text")))
        .select(col("lang"), predLangFromCounts(
          nMatches(lt, EnPat), nMatches(lt, DePat), nMatches(lt, FrPat),
          nMatches(lt, EsPat), nMatches(col("text"), ZhPat)).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
      cells.select(col("lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / sum(col("n")).over(w), 6)
            .as("recall"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Length / punctuation / stopword / digit quality heuristics.
    "q_quality_score" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          size(toks).as("n_tok"),
          length(array_join(toks, "")).as("n_tok_chars"),
          nMatches(lower(col("text")), EnPat).as("n_stop"),
          nMatches(col("text"), PunctPat).as("n_punct"),
          nMatches(col("text"), DigitPat).as("n_digit"),
          length(col("text")).as("len"))
        .select(col("doc_id"), col("n_tok"),
          (col("n_tok_chars").cast("double") / greatest(col("n_tok"), lit(1)))
            .as("avg_tok_len"),
          (col("n_stop").cast("double") / greatest(col("n_tok"), lit(1)))
            .as("stop_ratio"),
          (col("n_punct").cast("double") / greatest(col("len"), lit(1)))
            .as("punct_ratio"),
          (col("n_digit").cast("double") / greatest(col("len"), lit(1)))
            .as("digit_ratio"),
          qualityScore(col("n_tok"), col("n_stop"), col("n_punct"),
            col("n_digit"), col("len")).as("score"))
        .orderBy(col("doc_id"))
    }),

    // Whitespace + BPE-ish regex + chars/4 token-count estimators.
    "q_token_count" -> ((s, dir) =>
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          size(tokens(col("text"))).as("ws_tokens"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("bpe_ish_tokens"),
          ceil(length(col("text")) / lit(4.0)).cast("int").as("est_tokens"))
        .orderBy(col("doc_id"))),

    // Dataset card: the one-page per-language summary a corpus release
    // ships with — doc/source counts, token and char totals, the
    // exact-duplicate rate, mean document length. One wide aggregate
    // over a single map pass (token counting is the only per-row
    // work). The duplicate count runs on countDistinct of the text's
    // md5, NOT the text: a distinct aggregate ships its argument's
    // distinct values through the exchange, and at 100 TB that is the
    // corpus — the 16-byte digest carries the same count (both engines
    // compute identical md5, so the oracle agrees under the same
    // negligible collision odds every exact-dedup operator here
    // already accepts). All terms are exact integers plus two
    // deterministic final divisions, so the card is hash-checkable
    // end to end.
    "q_data_card" -> ((s, dir) =>
      Tables.fanout(Tables(s, dir, "documents"))
        .select(col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("th"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          (count(lit(1)) - countDistinct(col("th"))).as("n_dup_docs"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_doc_tokens"))
        .orderBy(col("lang"))),

    // Deterministic stratified sampling — rebalance a corpus by
    // downsampling the dominant class (keep 10% of 'en', 50% of the
    // rest). The keep decision hashes the CONTENT (h60 % 100 <
    // rate), not rand()/sample(): reproducible under any partition
    // layout, repartition, or rerun — the property a 100 TB pipeline
    // needs so a re-execution of one failed shard samples identically.
    // Map-only: no shuffle at all.
    "q_stratified_sample" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .where(pmod(h60(col("text")), lit(100L)) <
          when(col("lang") === "en", 10L).otherwise(50L))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // GPT-style sequence packing: concatenate each language's docs in
    // doc_id order and chunk the token stream at a 1024-token budget;
    // a doc's chunk is the one containing its start offset. Window
    // cumsum per lang — per-group sort, never global; at corpus scale
    // partition by (lang, hash-shard) so each window stays one task
    // wide and chunk ids get a shard prefix.
    "q_pack_sequences" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("lang"), col("doc_id"), col("n_tok").cast("int").as("n_tok"),
          // floor, not cast-truncate: Spark's double->int cast truncates
          // but DuckDB's rounds; explicit floor is identical on both.
          floor((col("cum") - col("n_tok")) / lit(1024L)).cast("int").as("chunk"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Packing-efficiency audit — the training-throughput counterpart
    // of q_pack_sequences: per language, how many 1024-token chunks
    // the packed stream needs, the fill rate (tokens / chunk budget —
    // 1 − fill is the padding the trainer burns), and how many docs
    // straddle a chunk boundary (fragmented attention / split-doc
    // loss masking). Same window-cumsum chain as the packer, one
    // extra per-lang aggregate; rates are single rounded divisions.
    "q_pack_efficiency" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("sc", floor((col("cum") - col("n_tok")) / lit(1024L)))
        .withColumn("ec", floor((col("cum") - lit(1L)) / lit(1024L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          (max(col("ec")) + lit(1L)).as("n_chunks"),
          sum(when(col("n_tok") > 0 && col("sc") =!= col("ec"), 1L)
            .otherwise(0L)).as("n_straddled"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chunks"),
          round(col("n_tokens").cast("double") / (col("n_chunks") * lit(1024L)), 6)
            .as("fill_rate"),
          col("n_straddled"),
          round(col("n_straddled").cast("double") / col("n_docs"), 6)
            .as("straddle_rate"))
        .orderBy(col("lang"))
    }),

    // Fill-in-the-middle transform (Bavarian et al. arXiv:2207.14255,
    // "Efficient Training of Language Models to Fill in the Middle"):
    // each selected document splits at two deterministic cut points
    // into (prefix, middle, suffix) and reorders to the PSM layout —
    // <PRE> prefix <SUF> suffix <MID> middle — so an autoregressive
    // model learns infilling from plain left-to-right training. The
    // coin (the paper's FIM rate, 0.5 here) and both cuts ride the
    // seeded h60, so the transform is reproducible and both engines
    // hash the identical reordered stream; cuts are uniform over
    // [0, n] (empty prefix/middle/suffix all legal, per the paper).
    // One map over the corpus — no shuffle, no join; at 100 TB this
    // is a pure projection the scan pipeline fuses.
    "q_fim_split" -> ((s, dir) =>
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("a"))
        .withColumn("n", size(col("a")))
        .withColumn("applied",
          pmod(h60(concat(lit("fimr:"), col("doc_id").cast("string"))),
            lit(2L)) === 0 && col("n") >= 2)
        .withColumn("u1",
          pmod(h60(concat(lit("fim1:"), col("doc_id").cast("string"))),
            col("n").cast("long") + 1L))
        .withColumn("u2",
          pmod(h60(concat(lit("fim2:"), col("doc_id").cast("string"))),
            col("n").cast("long") + 1L))
        .withColumn("cut1",
          when(col("applied"), least(col("u1"), col("u2")))
            .otherwise(lit(0L)))
        .withColumn("cut2",
          when(col("applied"), greatest(col("u1"), col("u2")))
            .otherwise(lit(0L)))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("applied").as("fim_applied"),
          col("cut1"), col("cut2"),
          (col("cut2") - col("cut1")).as("len_middle"),
          md5(when(col("applied"),
            concat_ws(" ", concat(
              array(lit("<PRE>")),
              slice(col("a"), lit(1), col("cut1").cast("int")),
              array(lit("<SUF>")),
              slice(col("a"), col("cut2").cast("int") + 1,
                col("n") - col("cut2").cast("int")),
              array(lit("<MID>")),
              slice(col("a"), col("cut1").cast("int") + 1,
                (col("cut2") - col("cut1")).cast("int")))))
            .otherwise(concat_ws(" ", col("a")))).as("psm_hash"))
        .orderBy(col("doc_id"))),

    // SFT chat packing — the fine-tuning twin of q_pack_sequences.
    // Each document is read as a deterministic multi-turn conversation
    // (fixed [[ChatTurnLen]]-token turns; turn 0 = system, odd turns =
    // user, even turns ≥ 2 = assistant — the instruction-tuning shape)
    // and the conversations ride the SAME per-lang cumsum packer at
    // the 1024-token budget. The SFT twist is the LOSS MASK: assistant
    // spans train, system/user spans mask — so the census reports, per
    // language, the conversation/turn/token counts, the trainable
    // token mass and rate (1 − rate is attention the trainer pays for
    // tokens that contribute no gradient), the chunk count and fill
    // rate (q_pack_efficiency's row shape), and how many turn SPANS
    // straddle a chunk boundary (a split assistant span loses its
    // prompt context). Every span is closed-form integer arithmetic
    // from (doc_start, n_tok) — turn starts/lengths/roles derive from
    // the token count alone, so both engines compute identical spans
    // and the census is hash-exact. Scale shape: the per-lang window
    // cumsum (per-group sort, like the packer), one bounded turn
    // explode (≤ n_tok/[[ChatTurnLen]] rows per doc), one per-lang
    // fold; at corpus scale partition by (lang, hash-shard) exactly
    // like q_pack_sequences.
    "q_chat_pack" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      val T = ChatTurnLen.toLong
      val turns = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .where(col("n_tok") > 0)
        .withColumn("doc_start", sum(col("n_tok")).over(w) - col("n_tok"))
        .select(col("lang"), col("doc_id"), col("n_tok"), col("doc_start"),
          explode(sequence(lit(0L),
            expr(s"(n_tok + ${T - 1}) div $T") - 1)).as("turn"))
        .withColumn("t_start", col("doc_start") + col("turn") * T)
        .withColumn("t_len", least(lit(T), col("n_tok") - col("turn") * T))
        .withColumn("train",
          col("turn") =!= 0 && col("turn") % 2 === 0)
        .withColumn("sc", floor(col("t_start") / lit(1024L)))
        .withColumn("ec",
          floor((col("t_start") + col("t_len") - lit(1L)) / lit(1024L)))
      turns.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_convs"),
          count(lit(1)).as("n_turns"),
          sum(col("t_len")).as("n_tokens"),
          sum(when(col("train"), col("t_len")).otherwise(0L))
            .as("n_train_tokens"),
          (max(col("ec")) + lit(1L)).as("n_chunks"),
          sum(when(col("sc") =!= col("ec"), 1L).otherwise(0L))
            .as("n_straddled_turns"))
        .select(col("lang"), col("n_convs"), col("n_turns"), col("n_tokens"),
          col("n_train_tokens"),
          round(col("n_train_tokens").cast("double") / col("n_tokens"), 6)
            .as("train_rate"),
          col("n_chunks"),
          round(col("n_tokens").cast("double") / (col("n_chunks") * lit(1024L)), 6)
            .as("fill_rate"),
          col("n_straddled_turns"))
        .orderBy(col("lang"))
    }),

    // Bigram language-model statistics: conditional probability
    // p(w2|w1) = count(w1 w2) / count(w1 ·), top 20 bigrams. The
    // count(w1) marginal is derived FROM the bigram counts (one
    // groupBy w1 over the distinct-bigram table, not a second corpus
    // pass), and p is a single exact integer division — hash-stable.
    "q_ngram_lm" -> ((s, dir) => {
      val big = Tables.fanout(Tables(s, dir, "documents").select(col("text")))
        .select(explode(shingles(tokens(col("text")), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"), col("cnt"))
      val uni = big.groupBy("w1").agg(sum(col("cnt")).as("cnt1"))
      big.join(uni, Seq("w1"))
        .select(col("w1"), col("w2"), col("cnt"),
          (col("cnt").cast("double") / col("cnt1")).as("p"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(20)
    }),

    // Interpolated Kneser–Ney bigram smoothing (Kneser & Ney 1995;
    // the KenLM default that CCNet-style perplexity filters train) —
    // the smoothing upgrade over q_ngram_lm's raw MLE: p_KN(w2|w1) =
    // max(c − D, 0)/c(w1·) + (D·N1+(w1·)/c(w1·)) · (N1+(·w2)/T) with
    // absolute discount D = 0.75. Every ingredient (bigram counts,
    // marginals, distinct-continuation counts N1+, the type total T)
    // is an exact integer derived from ONE bigram-type table — the
    // continuation distribution is KN's insight and it is just a
    // count(*) per w2 over that table. The whole chain moves only the
    // Heaps-bounded type table (never the corpus), joins are on
    // single-token keys, and top-20 is TakeOrderedAndProject. One
    // double expression per row, parenthesized identically in the
    // oracle — hash-exact.
    "q_kneser_ney" -> ((s, dir) => {
      // the bigram-type table is consumed FOUR times (itself + the
      // marginal, continuation, and type-total aggregates) — cache it
      // or each derived aggregate re-runs the corpus tokenize+explode
      // chain (measured 19.6 s → the cost of one pass; the cached
      // frame is vocab²-bounded, the q_dedup_minhash signature rule)
      val big = Tables.fanout(Tables(s, dir, "documents").select(col("text")))
        .select(explode(shingles(tokens(col("text")), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"), col("cnt"))
        .cache()
      val uni = big.groupBy("w1").agg(sum(col("cnt")).as("cnt1"),
        count(lit(1)).as("n_follow"))
      val cont = big.groupBy("w2").agg(count(lit(1)).as("n_prec"))
      val types = big.agg(count(lit(1)).as("n_types"))
      big.join(uni, Seq("w1")).join(cont, Seq("w2"))
        .crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), col("cnt"),
          round(
            greatest(col("cnt") - lit(0.75), lit(0.0)) / col("cnt1") +
              (lit(0.75) * col("n_follow") / col("cnt1")) *
                (col("n_prec").cast("double") / col("n_types")),
            6).as("p_kn"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(20)
    }),

    // BM25 retrieval scoring for the fixed 3-term query (k1=1.2,
    // b=0.75), top 20 docs — the presentation view over the shared
    // [[bm25Scores]] chain; top-20 runs as TakeOrderedAndProject.
    "q_bm25" -> ((s, dir) =>
      bm25Scores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)),

    // Pseudo-relevance feedback (RM3-lite query expansion): the first
    // BM25 pass's top-FbDocs docs act as the feedback set, the
    // FbTerms most frequent terms inside it (seed terms excluded;
    // production adds an RM3 prior/stoplist — deterministic tf with
    // term tiebreak here) join the query at ExpWeight, and the corpus
    // re-scores against the EXPANDED term set. A dynamic term set
    // breaks q_bm25's fixed-order conditional-sum trick, so the
    // per-(doc, term) weighted partials round to 6 and sum in
    // DECIMAL(28,6) — the util.Exact order-free discipline — before
    // one cast back to double. At corpus scale both passes move only
    // posting lists (term filter BEFORE any shuffle; feedback set and
    // term-weight table are broadcast constants).
    "q_query_expansion" -> ((s, dir) => {
      val docs = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
      val fb = broadcast(bm25Scores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id")).limit(FbDocs)
        .select(col("doc_id")))
      val expTerms = docs.join(fb, Seq("doc_id"))
        .select(explode(col("toks")).as("t"))
        .where(!col("t").isin(RetrievalTerms: _*))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t")).limit(FbTerms)
        .select(col("t"), lit(ExpWeight).as("w"))
      val seed = {
        import s.implicits._
        RetrievalTerms.map(t => (t, 1.0)).toDF("t", "w")
      }
      val tw = broadcast(seed.unionByName(expTerms))
      val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      val tf = docs.select(col("doc_id"), col("dl"),
          explode(col("toks")).as("t"))
        .join(tw, Seq("t"))
        .groupBy(col("doc_id"), col("dl"), col("t"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), Seq("t")).crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n"))
        .withColumn("sc",
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .select(col("doc_id"),
          round(col("w") * col("sc"), 6)
            .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("p"))
        .groupBy(col("doc_id"))
        .agg(sum(col("p")).cast("double").as("exp_score"))
        .orderBy(col("exp_score").desc, col("doc_id")).limit(20)
    }),

    // Deterministic train/val/test split + per-(split, lang) counts:
    // the bucket is a content hash mod 100 (80/10/10), so assignment
    // is stable under reruns, repartitions, and corpus growth — and a
    // doc's near-duplicates land with IT only if their text is
    // identical, which is why splits hash content, not doc_id, after
    // exact dedup. Map-only + one tiny aggregate.
    "q_split_assign" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"),
          when(pmod(h60(col("text")), lit(100L)) < 80, "train")
            .when(pmod(h60(col("text")), lit(100L)) < 90, "val")
            .otherwise("test").as("split"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang"))),

    // Top-3 TF-IDF terms per document. Two aggregations (term
    // frequency per doc, document frequency per term) + one join on
    // the term, ranked by a per-doc window (each partition is one
    // doc's ~100 terms — bounded, never a corpus sort). N comes from a
    // parquet metadata count. ln() is libm-dependent in the last ulp,
    // so scores round to 6 before ranking and the tie-break is the
    // term itself — deterministic on both engines.
    "q_tfidf" -> ((s, dir) => {
      val n = Tables(s, dir, "documents").count()
      val tok = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("t"))
      tf.join(df, Seq("t"))
        .select(col("doc_id"), col("t"),
          round(col("tf").cast("double") *
            log(lit(n + 1.0) / (col("df") + lit(1))), 6).as("tfidf"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("t").as("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // Per-source vocabulary statistics: vocabulary size, hapax count
    // (terms seen exactly once), total tokens. Two-level aggregation —
    // (source, term) counts first, then per-source rollup — so the
    // big exchange carries one row per distinct term, with map-side
    // combine on both levels.
    // PII scrub pass — the redaction step a corpus runs before
    // training: email-shaped and long-digit spans replaced by
    // sentinels, with per-doc redaction counts and an md5 of the
    // scrubbed text (the shared hash primitive) to key downstream
    // exact dedup on the CLEANED content. Map-only — codegen regex
    // over the scan, no shuffle until the final order. Patterns stay
    // in the Java∩RE2 common subset (no lookaround) so Spark and
    // DuckDB agree byte-for-byte. The synthetic corpus contains no
    // PII, so each doc gets a deterministic email + account number
    // appended in-query (same expression in the oracle) — every row
    // exercises BOTH redactions and the hash proves removal.
    "q_pii_scrub" -> ((s, dir) =>
      piiScrub(Tables(s, dir, "documents")).orderBy(col("doc_id"))),

    // Tokenizer-training prep: the first BPE merge iteration's
    // statistics — corpus-wide counts of adjacent character pairs
    // within tokens, top-20. explode(token)→explode(pair)→count is
    // one partial+final aggregate over the pair stream (map-side
    // combine collapses to |alphabet|² partials per task), and the
    // top-20 runs as TakeOrderedAndProject — at 100 TB this is a scan
    // plus one tiny shuffle, exactly how a BPE trainer's first pass
    // shards. (Later merge iterations re-run the same shape over
    // re-segmented tokens.)
    "q_bpe_pairs" -> ((s, dir) => {
      Tables.fanout(Tables(s, dir, "documents").select(col("text")))
        .select(explode(tokens(col("text"))).as("t"))
        .where(length(col("t")) >= 2)
        // sequence(1, n) with n < 1 would generate a DESCENDING range —
        // the where() above guarantees n >= 1
        .select(explode(expr(
          "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // The FULL BPE merge-training loop (BpeRounds greedy merges), not
    // just q_bpe_pairs' first-pass statistics — the engine trains the
    // tokenizer. State is the WORD table (vocabulary-sized: heavy-tail
    // bounded at ~10⁷ rows for a 100 TB corpus, never corpus-sized —
    // the corpus collapses to (word, freq) once, exactly how
    // industrial BPE trainers shard). Each round: adjacent-pair counts
    // over the space-joined symbol sequences (one partial+final
    // aggregate), a 1-row TakeOrdered collect (the chosen merge IS the
    // model — like q_kmeans' K×Dim centroids, the only driver state is
    // model-sized), then one map-only merge pass. The merge is
    // `replace(seq, ' a b ', ' ab ')` iterated [[MergePasses]] times
    // to its fixed point — a single replace resumes scanning after
    // each consumed match, so back-to-back occurrences ('a b a b')
    // would merge only alternately; the nested form merges every
    // non-overlapping adjacent occurrence, matching canonical greedy
    // BPE. Both engines apply the identical nested call, so the
    // unrolled-CTE oracle replays every round hash-exactly.
    // localCheckpoint per round keeps lineage flat (the q_pagerank
    // discipline).
    "q_bpe_train" -> ((s, dir) => {
      val session = s
      import session.implicits._
      bpeLoop(s, dir)._2
        .toDF("round", "left", "right", "merged", "cnt")
        .orderBy(col("round"))
    }),

    // The inference side of q_bpe_train: segment the corpus with the
    // learned merges and report per-language tokenizer FERTILITY
    // (symbols per word, incl. the </w> marker) — the metric that
    // decides whether a tokenizer is usable for a language before any
    // training run. The word table already holds each word's final
    // segmentation, so encoding is a vocabulary-sized join back onto
    // the token stream (broadcast here; at a 10⁷-word web vocabulary
    // it is an ordinary hash join on the word key), one aggregate per
    // language — the corpus is never re-segmented row by row.
    "q_bpe_encode" -> ((s, dir) => {
      val (vocab, _) = bpeLoop(s, dir)
      val wsym = vocab.select(col("w"),
        size(split(trim(col("seq")), " ")).as("n_sym"))
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("lang"), col("text")))
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .join(broadcast(wsym), Seq("w")) // inner join ⇒ [a-z]+ filter
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_symbols"))
        .select(col("lang"), col("n_words"), col("n_symbols"),
          round(col("n_symbols").cast("double") / col("n_words").cast("double"), 6)
            .as("fertility"))
        .orderBy(col("lang"))
    }),

    // Corpus-mixing weights: per-source char share and the sampling
    // weight that equalizes the char budget across sources
    // (weight = total / (n_sources · source_chars); weight·chars is
    // constant). The standard mixture-rebalancing step before
    // training-data sampling. Two tiny aggregates — the per-source
    // rollup is one partial+final pass over the scan, the total is a
    // broadcast of |sources| rows. All-integer sums, so the double
    // divisions are bit-identical in both engines.
    "q_mix_weights" -> ((s, dir) => {
      val per = Tables(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      val tot = per.agg(sum(col("chars")).as("total"),
        count(lit(1)).as("n_sources"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("chars"),
          (col("chars").cast("double") / col("total").cast("double")).as("share"),
          (col("total").cast("double") /
            (col("n_sources").cast("double") * col("chars").cast("double")))
            .as("weight"))
        .orderBy(col("source"))
    }),

    // Temperature-scaled language sampling (the mT5/XLM-R α-sampling
    // rule): sampling weight ∝ share^α with α = 0.5, which UP-samples
    // low-resource languages relative to their natural char share
    // (boost = weight/share > 1 exactly for below-average languages).
    // α = 0.5 is deliberately √: sqrt is IEEE-correctly-rounded in
    // BOTH engines where pow(x, α) is not, and the normalizer sums
    // DECIMAL-rounded weights so it is partition-order free — the
    // whole row stays hash-exact. Two |langs|-row aggregates over one
    // scan; at 100 TB the scan's per-lang char sums are the only real
    // work and they partial map-side.
    "q_mix_temperature" -> ((s, dir) => {
      // chars = 0 langs are excluded (share 0 ⇒ boost 0/0, where the
      // engines disagree: Spark NULL vs DuckDB NaN) — a zero-mass
      // language has no sampling weight by definition
      val per = Tables(s, dir, "documents").groupBy(col("lang"))
        .agg(sum(col("n_chars")).as("chars"))
        .where(col("chars") > 0)
      val tot = per.agg(sum(col("chars")).as("total"))
      val sh = per.crossJoin(broadcast(tot))
        .select(col("lang"), col("chars"),
          (col("chars").cast("double") / col("total").cast("double"))
            .as("share"))
      val wr = sh.withColumn("w_raw",
        round(sqrt(col("share")), 12).cast("decimal(18,12)"))
      val z = wr.agg(sum(col("w_raw")).as("z"))
      wr.crossJoin(broadcast(z))
        .select(col("lang"), col("chars"), col("share"),
          (col("w_raw").cast("double") / col("z").cast("double")).as("w"))
        .select(col("lang"), col("chars"), round(col("share"), 6).as("share"),
          round(col("w"), 6).as("weight"),
          round(col("w") / col("share"), 6).as("boost"))
        .orderBy(col("lang"))
    }),

    // UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151 —
    // the mT5-successor sampling rule): share the token budget
    // UNIFORMLY across languages, capped at [[UnimaxEpochs]] epochs of
    // each language's own data, leftover redistributed among the
    // uncapped — strictly bounds low-resource repetition where
    // α-sampling (q_mix_temperature) can over-repeat small languages
    // arbitrarily. The greedy ascending waterfill has a closed form:
    // sort languages by cap = E·n_l ascending, k = (first idx whose
    // cap·(langs_left) exceeds the remaining budget) − 1; langs ≤ k
    // get their cap, the rest split (B − Σ_{≤k} cap) evenly.
    // Verified against the literal greedy loop over 2000 random
    // instances before being committed to the oracle. All arithmetic
    // is BIGINT until the single final division; the two windows run
    // over the |langs|-row aggregate (bounded-summary contract, see
    // ContractSpec whitelist) — at 100 TB the only real work is the
    // per-lang char sum, which partials map-side.
    "q_unimax" -> ((s, dir) =>
      unimaxWaterfill(s, dir)
        .withColumn("alloc_raw",
          when(col("idx") <= col("k"), col("cap").cast("double"))
            .otherwise((col("budget") - col("ck")).cast("double") /
              (col("nl") - col("k"))))
        .select(col("lang"), col("chars"), col("cap"),
          (col("idx") <= col("k")).as("capped"),
          round(col("alloc_raw"), 6).as("alloc"),
          round(col("alloc_raw") / col("chars"), 6).as("epochs"))
        .orderBy(col("lang"))),

    // The EXECUTABLE epoch materializer — q_unimax decides per-lang
    // char allocations; this emits the epoched corpus a trainer
    // actually reads: every doc repeats floor(epochs) times plus one
    // more when its seeded hash lands under the fractional part (so a
    // re-run materializes the SAME mix, and the expected char count
    // per lang equals the allocation). All arithmetic is integer —
    // the allocation truncates to a BIGINT char budget and the
    // per-lang epoch rate is an exact ppm computed as
    // div·10⁶ + (rem·10⁶) div chars, which holds to ~9·10¹² chars per
    // language before the intermediate product needs a wider split.
    // Scale shape: the waterfill is |langs|-row work, the rate join is
    // a broadcast, and the explode is the output itself (bounded by
    // UnimaxEpochs × corpus) — one map-side pass, no shuffle before
    // the presentation sort.
    "q_epoch_expand" -> ((s, dir) => {
      val rate = unimaxWaterfill(s, dir)
        .withColumn("alloc_int",
          when(col("idx") <= col("k"), col("cap"))
            .otherwise(expr("(budget - ck) div (nl - k)")))
        .select(col("lang"), expr(
          "(alloc_int div chars) * 1000000 + ((alloc_int % chars) * 1000000) div chars")
          .as("epochs_ppm"))
      Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(broadcast(rate), Seq("lang"))
        .withColumn("base", expr("epochs_ppm div 1000000"))
        .withColumn("extra",
          (h60(concat(lit("epoch:"), col("doc_id").cast("string"))) % 1000000L <
            col("epochs_ppm") % 1000000L).cast("long"))
        .withColumn("n_copies", col("base") + col("extra"))
        .where(col("n_copies") > 0)
        .select(col("lang"), col("doc_id"), col("n_copies"),
          explode(sequence(lit(1L), col("n_copies"))).as("copy"))
        .select(col("lang"), col("doc_id"), col("copy"), col("n_copies"))
        .orderBy(col("lang"), col("doc_id"), col("copy"))
    }),

    // Statistical-watermark detection (Kirchenbauer et al. 2023,
    // arXiv:2301.10226): a green-list watermark biases each generated
    // token toward the half of the vocabulary selected by a hash of
    // the PRECEDING token; detection is a per-document one-proportion
    // z-test on the green fraction of adjacent token pairs, z =
    // (2g − n)/√n under H₀ green-rate γ = 0.5. The standing
    // corpus-governance scan for watermarked synthetic text leaking
    // into training data. The green predicate is the cross-engine md5
    // trick (first hex digit < '8' ⇔ γ = 0.5); docs with fewer than
    // [[WatermarkMinPairs]] pairs are excluded (the z-test has no
    // power there). Map-only per doc, one per-source aggregate whose
    // mean-z sums DECIMAL-rounded per-doc values (partition-order
    // free). At 100 TB: no shuffle except the |sources|-key agg.
    "q_watermark_detect" -> ((s, dir) =>
      watermarkFromPartials(watermarkPartials(
        Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text")))))
        .orderBy(col("source"))),

    // EXECUTES on the streaming engine: the watermark z-test census
    // running AT ingest — synthetic-text contamination is caught the
    // micro-batch a source starts delivering it, not at the next
    // offline sweep. The SAME [[watermarkZ]]/[[watermarkPartials]]/
    // [[watermarkFromPartials]] trees as the batch op over per-bid
    // idempotent foreachBatch partials (the q_stream_doremi
    // discipline); partials are associative, so the drained fold
    // equals the batch census bit-for-bit — ONE oracle text grades
    // both.
    "q_stream_watermark" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_watermark")
      graft.streaming.Streams.watermarkIngest(s, dir, work)
        .orderBy(col("source"))
    }),

    // Vocabulary-coverage / OOV audit: the top-[[OovVocab]] tokens by
    // global frequency (deterministic tie-break on the token) form the
    // "tokenizer vocabulary"; per language, the share of token
    // OCCURRENCES falling outside it. This is the coverage check run
    // before committing a tokenizer to a corpus — a language with high
    // OOV rate will fragment into bytes/unknowns at training time.
    // Plan: one token-count aggregate (map-side partials over the
    // fan-out scan), top-V via TakeOrderedAndProject (never a global
    // window sort), then a BROADCAST left join of the V-row vocab
    // against the token stream — at 100 TB the vocab is O(V) by
    // construction, so the join never shuffles the corpus.
    "q_oov_rate" -> ((s, dir) => {
      val tok = Tables.fanout(Tables(s, dir, "documents")
          .select(col("lang"), col("text")))
        .select(col("lang"), explode(tokens(col("text"))).as("t"))
      val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t")).limit(OovVocab)
        .select(col("t"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("t"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tok"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tok"), 6).as("oov_rate"))
        .orderBy(col("lang"))
    }),

    // Distinct-n diversity census — the synthetic-data audit (the
    // distinct-n metric of Li et al. 2016, arXiv:1510.03055): per
    // source, the fraction of 1/2/3-gram instances that are unique.
    // Model-generated or heavily templated corpora collapse the
    // higher-n ratios long before unigram stats move, so this is the
    // per-source red flag q_data_card rolls up. distinct_ppm is an
    // exact integer ratio. This exact form is the AUDIT: its
    // count(DISTINCT gram) per (source, n) shuffles every distinct
    // gram (the q_vocab_stats contract) and is what the gated SFs
    // certify; the query a 100 TB run actually ships is
    // q_distinct_ngrams_theta below — same census from k-long KMV
    // state, nothing wider than k longs per (source, n) on the wire.
    "q_distinct_ngrams" -> ((s, dir) => {
      val docs = Tables.fanout(Tables(s, dir, "documents")
          .select(col("source"), col("text")))
        .select(col("source"), tokens(col("text")).as("a"))
      val grams = Seq(1, 2, 3).map { n =>
        docs.select(col("source"), lit(n).as("n"),
          explode(shingles(col("a"), n)).as("g"))
      }.reduce(_ unionAll _)
      grams.groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("total"),
          countDistinct(col("g")).as("n_distinct"))
        .select(col("source"), col("n"), col("total"), col("n_distinct"),
          expr("(n_distinct * 1000000) div total").as("distinct_ppm"))
        .orderBy(col("source"), col("n"))
    }),

    // The sketch twin of q_distinct_ngrams — the 100 TB path (r11
    // verdict item 4): the same per-(source, n) distinct-gram census
    // from KMV theta state ([[graft.functions.KmvMinK]], the
    // q_theta_sketch discipline) instead of the exact
    // count(DISTINCT gram) shuffle. Plan shape: the same tokenize +
    // three-explode pass, one h60 per gram, then ONE aggregate
    // carrying ≤ ThetaK longs per (source, n) group with map-side
    // combine — the distinct-hash shuffle the exact form pays never
    // happens; only k minima per group per partition move. The exact
    // column (countDistinct over the same hashes, so both engines
    // count the same universe) rides along as the gated-SF audit with
    // err_pct beside it, exactly like q_theta_sketch; a production
    // run drops it and keeps the mergeable sketch, which also makes
    // the census release-incremental (KMV merge law — see
    // q_theta_delta).
    "q_distinct_ngrams_theta" -> ((s, dir) => {
      val g = ngramHashes(Tables.fanout(Tables(s, dir, "documents")
        .select(col("source"), col("text"))))
      ngramThetaCensus(g.groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("total"),
          call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
            .as("mins"),
          countDistinct(col("h")).as("exact_distinct")))
    }),

    // EXECUTES on the streaming engine: the distinct-n diversity
    // monitor at ingest — the mergeability that justifies the sketch,
    // exercised: each arriving micro-batch writes its own per-
    // (source, n) KMV partial + instance count (k longs + one long
    // per group), the drain re-aggregates the union of kept minima
    // (the KMV merge law — associative, batch-order-free), and the
    // census is the SAME [[ngramThetaCensus]] projection, graded by
    // q_distinct_ngrams_theta's oracle verbatim. The exact audit
    // reads the accumulated per-bid distinct-hash slices — the
    // gated-SF harness truth the production monitor drops. See
    // [[graft.streaming.Streams.ngramThetaIngest]].
    "q_stream_ngram_theta" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_ngram_theta")
      graft.streaming.Streams.ngramThetaIngest(s, dir, work)
    }),

    "q_vocab_stats" -> ((s, dir) => {
      val tc = Tables.fanout(Tables(s, dir, "documents")
          .select(col("source"), col("text")))
        .select(col("source"), explode(tokens(col("text"))).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("cnt"))
      val stats = tc.groupBy("source").agg(
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("cnt")).as("n_tokens"))
      val nd = Tables(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      stats.join(nd, Seq("source"))
        .select(col("source"), col("n_docs"), col("vocab"), col("hapax"),
          col("n_tokens"))
        .orderBy(col("source"))
    }),

    // Gopher-style rule filter: per-doc booleans for token-count
    // bounds, mean word length, symbol ratio, and stopword fraction,
    // plus the conjunction. Map-only; the flags are what a curation
    // pipeline writes alongside the corpus so downstream stages filter
    // by predicate pushdown instead of recomputing text stats.
    "q_gopher_quality" -> ((s, dir) =>
      gopherFlags(Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("n_tok"), col("ok_len"), col("ok_wordlen"),
          col("ok_sym"), col("ok_stop"), col("keep"))
        .orderBy(col("doc_id"))),

    // Filter-funnel attrition census: the curation-dashboard view of
    // the Gopher cascade — per stage (fixed rule order), how many
    // docs entered, how many THIS rule killed among prior survivors,
    // how many exit, and each rule's sole-kill count (docs only it
    // rejects — the marginal-value signal that tells an operator
    // which rule to retune). One gopherFlags map pass + ONE wide
    // conditional aggregate (9 counts), exploded to 4 stage rows —
    // map-only then a single-row reduce at any corpus size.
    "q_filter_funnel" -> ((s, dir) => {
      val f = gopherFlags(Tables.fanout(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))))
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      val s1 = col("ok_len")
      val s2 = s1 && col("ok_wordlen")
      val s3 = s2 && col("ok_sym")
      val s4 = s3 && col("ok_stop")
      def sole(not: String) = cnt(
        Seq("ok_len", "ok_wordlen", "ok_sym", "ok_stop")
          .map(c => if (c == not) !col(c) else col(c)).reduce(_ && _))
      val a = f.agg(count(lit(1)).as("n0"),
        cnt(s1).as("n1"), cnt(s2).as("n2"), cnt(s3).as("n3"), cnt(s4).as("n4"),
        sole("ok_len").as("k1"), sole("ok_wordlen").as("k2"),
        sole("ok_sym").as("k3"), sole("ok_stop").as("k4"))
      val stages = Seq((1, "len", "n0", "n1", "k1"),
        (2, "wordlen", "n1", "n2", "k2"), (3, "sym", "n2", "n3", "k3"),
        (4, "stop", "n3", "n4", "k4"))
      a.select(explode(array(stages.map { case (i, r, nin, nout, k) =>
          struct(lit(i).as("stage"), lit(r).as("rule"),
            col(nin).as("n_in"), (col(nin) - col(nout)).as("n_killed"),
            col(nout).as("n_out"), col(k).as("sole_kill"))
        }: _*)).as("r"))
        .select(col("r.*")).orderBy(col("stage"))
    }),

    // Within-doc repetition ratio (Gopher-style quality rule): the
    // fraction of 3-gram shingles that are repeats of an earlier
    // shingle in the same doc. Pure map-only array arithmetic per row
    // — no shuffle, no explode; boilerplate-heavy pages score high and
    // get filtered before any expensive dedup pass touches them.
    "q_repetition" -> ((s, dir) => {
      val sh = shingles(tokens(col("text")), 3)
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), size(sh).as("n_sh"),
          size(array_distinct(sh)).as("n_uniq"))
        .select(col("doc_id"), col("n_sh"), col("n_uniq"),
          ((col("n_sh") - col("n_uniq")).cast("double") /
            greatest(col("n_sh"), lit(1))).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Best-k documents per group — the corpus-curation primitive
    // ("keep the 3 highest-quality docs per language") computed by the
    // bounded-heap top_k_by_score aggregate (functions/TopKByScore):
    // one pass, O(k) state per group, map-side partial aggregation.
    // The window idiom the oracle replays (row_number over score desc)
    // sorts every row of every group; the aggregate shuffles only the
    // O(groups × k) partial heaps — the difference between a corpus
    // sort and a map-only scan at 100 TB.
    "q_topk_per_group" -> ((s, dir) => {
      val lt = lower(col("text"))
      val toks = tokens(col("text"))
      val scored = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          qualityScore(size(toks), nMatches(lt, EnPat),
            nMatches(col("text"), PunctPat), nMatches(col("text"), DigitPat),
            length(col("text"))).as("score"))
      scored.groupBy(col("lang"))
        .agg(expr("top_k_by_score(score, doc_id, 3)").as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rn"),
          col("t.doc_id").as("doc_id"), col("t.score").as("score"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Text canonicalization: lowercase, strip non-alphanumerics,
    // collapse whitespace, trim — then re-hash the canonical form.
    // THE pre-pass of exact dedup (casing/punctuation variants of the
    // same content collapse to one hash). Map-only; the canonical md5
    // is the 16-byte key all downstream dedup joins on.
    "q_normalize_text" -> ((s, dir) => {
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9\\s]", ""), "\\s+", " "))
      Tables(s, dir, "documents")
        .select(col("doc_id"), norm.as("norm_text"))
        .select(col("doc_id"), col("norm_text"),
          md5(col("norm_text")).as("norm_md5"))
        .orderBy(col("doc_id"))
    }),

    // Per-doc token Shannon entropy — the "gibberish vs natural text"
    // quality signal. H = -Σ p·ln p over the doc's term distribution.
    // The per-doc sum runs in DECIMAL(28,20) (each double term cast
    // once — deterministic — then summed in integer arithmetic), so
    // the result is independent of aggregation order; the final
    // round(6) absorbs last-ulp ln() differences between libms.
    "q_entropy" -> ((s, dir) => {
      val tc = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      val nn = tc.groupBy("doc_id").agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_terms"))
      val p = col("cnt").cast("double") / col("n")
      tc.join(nn, Seq("doc_id"))
        .select(col("doc_id"), col("n_terms"),
          (p * log(p)).cast("decimal(28,20)").as("term"))
        .groupBy(col("doc_id"), col("n_terms"))
        .agg(round(negate(sum(col("term"))).cast("double"), 6).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (Schleimer et al.): the minimum shingle
    // hash of every 4-wide window over the POSITIONAL shingle stream,
    // deduplicated — guarantees any match of ≥ w+2 tokens shares a
    // fingerprint, unlike the single min-shingle in q_fingerprint.
    // Shuffle carries (doc_id, pos, 8-byte hash); the window sort is
    // per-doc (~100 rows), never global. Distinct minima ≈ n/w per
    // doc, the index a plagiarism/overlap service stores.
    "q_winnowing" -> ((s, dir) => {
      val W = 4
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, W - 1)
      val cnt = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          posexplode(shingles(tokens(col("text")), 3)).as(Seq("pos", "sgl")))
        .select(col("doc_id"), col("pos"), h60(col("sgl")).as("h"))
        .withColumn("n", count(lit(1)).over(cnt))
        .withColumn("fp", min(col("h")).over(w))
        .where(col("pos") <= col("n") - W)   // full windows only
        .select(col("doc_id"), col("fp")).distinct()
        .orderBy(col("doc_id"), col("fp"))
    }),

    // Overlap detection over the winnowing index — the MATCH side of
    // q_winnowing (Schleimer et al.'s deployment: index fingerprints,
    // then join on them). Doc pairs sharing ≥ 4 fingerprints, scored
    // by containment of the smaller fingerprint set. The self-join
    // keys on the 8-byte fingerprint, so pair generation is bounded
    // by Σ df² over fingerprints — winnowing keeps ~n/w mins per doc,
    // and a production run drops stop-fingerprints (df cap) the same
    // way q_ngram_jaccard's index does. This reuses the q_winnowing
    // builder verbatim, so index and match can never drift.
    "q_winnow_match" -> ((s, dir) => {
      val fp = queries("q_winnowing")(s, dir)
      val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
      val pairs = fp.select(col("fp"), col("doc_id").as("doc1"))
        .join(fp.select(col("fp"), col("doc_id").as("doc2")), Seq("fp"))
        .where(col("doc1") < col("doc2"))
        .groupBy("doc1", "doc2").agg(count(lit(1)).as("shared"))
        .where(col("shared") >= 4)
      pairs
        .join(sz.select(col("doc_id").as("doc1"), col("nfp").as("n1")), Seq("doc1"))
        .join(sz.select(col("doc_id").as("doc2"), col("nfp").as("n2")), Seq("doc2"))
        .select(col("doc1"), col("doc2"), col("shared"),
          round(col("shared").cast("double") / least(col("n1"), col("n2")), 6)
            .as("overlap"))
        .orderBy(col("doc1"), col("doc2"))
    }),

    // Pointwise mutual information over token co-occurrence (within-
    // doc), the classic collocation statistic. The quadratic pair
    // space is bounded BEFORE the self-join by a deterministic
    // vocabulary cap (top-40 tokens by document frequency, ties by
    // token) — the df-prefilter that makes within-doc pairing
    // tractable at any corpus size — and the vocab is broadcast so
    // the only shuffle is the final pair count.
    "q_pmi" -> ((s, dir) => {
      val n = Tables(s, dir, "documents").count()
      val dt = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("t"))
      val vocab = dt.groupBy("t").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("t")).limit(40)
      val dv = dt.join(broadcast(vocab), Seq("t"))
      dv.select(col("doc_id"), col("t").as("t1"), col("df").as("df1"))
        .join(dv.select(col("doc_id"), col("t").as("t2"), col("df").as("df2")),
          Seq("doc_id"))
        .where(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"), col("df1"), col("df2"))
        .agg(count(lit(1)).as("c12"))
        .where(col("c12") >= 10)
        .select(col("t1"), col("t2"), col("c12"),
          round(log((col("c12") * lit(n)).cast("double") /
            (col("df1") * col("df2"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("t1"), col("t2")).limit(20)
    }),

    // Content hash + sorted-token fingerprint + min rolling shingle
    // hash (winnowing-style representative). The min-hash runs as
    // explode → codegen'd md5 → groupBy min (an 8-byte-per-row
    // shuffle): the array-lambda form (`array_min(transform(...))`)
    // evaluates interpreted expressions per element and measured 8s at
    // sf0.1 vs ~1s for this shape.
    "q_fingerprint" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val docs = Tables.fanout(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      val mn = docs
        .select(col("doc_id"),
          explode(array_distinct(shingles(toks, 3))).as("s"))
        .groupBy("doc_id").agg(min(h60(col("s"))).as("min_shingle_h"))
      docs
        .select(col("doc_id"),
          md5(col("text")).as("content_md5"),
          md5(array_join(array_sort(array_distinct(toks)), " ")).as("token_fp"))
        .join(mn, Seq("doc_id"), "left")
        .orderBy(col("doc_id"))
    }),

    // Duplicate-chunk ratio — the paragraph-dedup quality signal
    // (Gopher's "duplicate paragraph fraction") mapped onto this
    // corpus's flat token streams: docs split into consecutive
    // 10-token chunks, a chunk is duplicated when its hash occurs in
    // ≥2 distinct documents. Per doc: chunk counts, the duplicated
    // fraction, and a keep flag (ratio ≤ 0.3). The only shuffles are
    // the chunk-frequency aggregate and the hash-join back on the
    // 16-byte chunk hash — the chunk TEXT never shuffles twice, and
    // the frequency side is pre-shrunk to ndocs>1 rows before the
    // join (dup chunks are the rare case at corpus scale, so the
    // join's build side stays small without being broadcast-risky).
    "q_dup_chunks" -> ((s, dir) => {
      val C = 10
      val docs = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val inst = docs
        .where(size(col("toks")) > 0)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), floor((size(col("toks")) - 1) / C).cast("int")),
            i => concat_ws(" ", slice(col("toks"), i * C + 1, lit(C))))).as("ch"))
        .select(col("doc_id"), md5(col("ch")).as("h"))
      val dup = inst.groupBy("h")
        .agg(count_distinct(col("doc_id")).as("ndocs"))
        .where(col("ndocs") > 1)
        .select(col("h"), lit(1L).as("is_dup"))
      val ratio = col("n_dup_chunks").cast("double") / col("n_chunks")
      inst.join(dup, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          coalesce(sum(col("is_dup")), lit(0L)).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          round(ratio, 6).as("dup_ratio"),
          (ratio <= 0.3).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Chunk-level dedup with text reconstruction — the REMOVAL pass
    // that q_dup_chunks' ratio only measures (RefinedWeb/CCNet line
    // dedup on this corpus's flat token streams): every 10-token
    // chunk keeps only its globally-first occurrence (min (doc_id,
    // idx) lexicographically), and each doc's surviving chunks are
    // re-joined into cleaned text. The keeper election is a
    // partial+final min(struct) aggregate on the chunk hash — NOT a
    // per-hash window sort — and reconstruction shuffles only kept
    // chunks. Docs that lose every chunk (exact copies) still emit a
    // row (left join from the doc list) with empty cleaned text —
    // downstream filters drop them by clean_len, not by absence.
    "q_chunk_dedup" -> ((s, dir) => {
      val C = 10
      val docs = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val inst = docs
        .where(size(col("toks")) > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), floor((size(col("toks")) - 1) / C).cast("int")),
            i => concat_ws(" ", slice(col("toks"), i * C + 1, lit(C)))))
            .as(Seq("idx", "ch")))
        .select(col("doc_id"), col("idx"), col("ch"), md5(col("ch")).as("h"))
      val keeper = inst.groupBy("h")
        .agg(min(struct(col("doc_id"), col("idx"))).as("k"))
      val kept = inst.join(keeper, Seq("h"))
        .where(col("doc_id") === col("k.doc_id") && col("idx") === col("k.idx"))
      val perDoc = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("ch")))),
            x => x("ch")), " ").as("clean_text"))
      val total = inst.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      total.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          length(coalesce(col("clean_text"), lit(""))).cast("long").as("clean_len"),
          md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Bigram-LM perplexity scoring — the CCNet-style quality filter:
    // train p(w2|w1) = c(w1 w2)/c(w1 ·) on the corpus itself, then
    // score every document's bigram stream under that model.
    // H = -Σ ln p / n_bigrams; ppl = e^H. Low perplexity ⇒ the doc
    // looks like the corpus; high ⇒ outlier/gibberish — the standard
    // keep/drop signal. Per-occurrence ln p terms are cast ONCE to
    // DECIMAL(28,20) and summed in integer arithmetic, so the per-doc
    // sum is aggregation-order-independent; H is then one double
    // division and round(6) absorbs libm last-ulp ln/exp drift.
    // Scale: the LM is vocab²-bounded (tiny vs the corpus) and the
    // score join keys on the bigram string — partial aggs + one hash
    // join, nothing quadratic in documents.
    "q_lm_perplexity" -> ((s, dir) =>
      sharedPerplexity(s, dir).orderBy(col("doc_id"))),

    // CCNet-style perplexity bucketing: rank every document within its
    // language by LM perplexity and cut into terciles (head = looks
    // most like the corpus, tail = outlier/gibberish) — the bucket
    // label that CCNet keeps/weights by. Bucket = the SQL ntile(3)
    // assignment, computed here as 1 + ((rank−1)·3) div n so the rule
    // is pure integer arithmetic on both engines. The rank itself uses
    // the same bucket-stitched assembly as q_gini — a local
    // row_number inside (lang, ⌊ppl⌋ value-range bucket) plus
    // bucket-summary prefix offsets — so no window partition ever
    // holds a language's whole corpus; per-bucket means sum ppl as
    // DECIMAL so merge order can't drift the rounded average.
    "q_perplexity_buckets" -> ((s, dir) => {
      val ppl = sharedPerplexity(s, dir).select(col("doc_id"), col("ppl"))
      val t = Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(ppl, Seq("doc_id"))
        .withColumn("b", floor(col("ppl")).cast("long"))
      val wLocal = Window.partitionBy(col("lang"), col("b"))
        .orderBy(col("ppl"), col("doc_id"))
      val local = t.withColumn("rl", row_number().over(wLocal))
      val wB = Window.partitionBy(col("lang")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = t.groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("off", sum(col("cnt")).over(wB) - col("cnt"))
        .select(col("lang"), col("b"), col("off"))
      val totals = t.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      local.join(offsets, Seq("lang", "b"))
        .join(broadcast(totals), Seq("lang"))
        .withColumn("i", col("off") + col("rl"))
        .withColumn("bucket",
          expr("CAST(((i - 1) * 3) div n AS INT) + 1"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("ppl")).as("ppl_min"),
          max(col("ppl")).as("ppl_max"),
          sum(col("ppl").cast("decimal(18,6)")).as("psum"))
        .select(col("lang"), col("bucket"), col("n_docs"),
          col("ppl_min"), col("ppl_max"),
          round(col("psum").cast("double") / col("n_docs"), 6).as("ppl_avg"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Linear quality-classifier inference (the fastText-shaped corpus
    // filter): score(doc) = mean of per-token weights from a bounded
    // vocabulary, OOV = 0. In production the vocab+weights are a
    // trained artifact, broadcast to every executor — scoring is then
    // explode → broadcast-join → partial-agg, a single map-side pass
    // over the corpus with no token-string shuffle. Here the vocab is
    // derived from the corpus itself (top-300 by document frequency,
    // deterministic h60 weights) so the oracle can replay it; the
    // token stream feeds both passes, cached once. Weights stay
    // integer milli-units end-to-end — the one double appears at the
    // final rounded division.
    "q_classifier_score" -> ((s, dir) => {
      val toks = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .cache()
      val vocab = toks.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(300)
        .select(col("tok"), (h60(col("tok")) % 2001 - 1000).as("w"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(coalesce(col("w"), lit(0L))).as("s"))
        .select(col("doc_id"), col("n_tok"),
          round(col("s").cast("double") / 1000.0 / col("n_tok"), 6)
            .as("score"))
        .withColumn("keep", col("score") > 0)
        .orderBy(col("doc_id"))
    }),

    // One Group-DRO multiplicative-weights step over domain mixture
    // (the DoReMi shape, Xie et al. 2023, arXiv:2305.10429): per-source
    // token-weighted cross-entropy under the corpus bigram LM (the
    // shared_perplexity table — no new corpus pass), excess loss vs
    // the easiest domain, and the re-normalized mixture weight
    // baseline_share·exp(η·excess). Domains with high excess loss are
    // up-weighted — the data-mixture knob a training pipeline retunes
    // every refresh. All sums fold in DECIMAL(28,20); the softmax is a
    // 2-pass broadcast fold over ≤|sources| rows, so beyond the shared
    // table the query costs one per-source aggregate at any scale.
    "q_doremi_step" -> ((s, dir) => {
      val per = sharedPerplexity(s, dir)
        .select(col("doc_id"), col("n_bg"), col("cross_entropy"))
        .join(Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bg")).as("n_bg"),
          sum((col("cross_entropy") * col("n_bg")).cast("decimal(28,20)"))
            .as("ces"))
      doremiWeights(per)
    }),

    // EXECUTES on the streaming engine: the domain-mixture monitor at
    // ingest — the bigram LM is trained OFFLINE on the corpus (the
    // ivfQuantizer offline-train discipline), arriving doc
    // micro-batches score per-doc cross-entropy against the broadcast
    // model with the SAME scoreBigrams code the batch path uses, and
    // fold per-source (n_docs, Σn_bg, Σce·n_bg) DECIMAL partials whose
    // drained combination feeds the SAME doremiWeights fold — so the
    // ingest-time mixture weights equal q_doremi_step exactly and the
    // pair is gated by ONE oracle. State is one ≤|sources|-row partial
    // per bid; restart safety is per-bid idempotent overwrites
    // (StreamingSpec kill/restart test).
    "q_stream_doremi" -> ((s, dir) => {
      val work = graft.util.WorkDirs.temp("graft_stream_doremi")
      graft.streaming.Streams.doremiIngest(s, dir, work)
    }),

    // Classifier calibration (reliability diagram): the cheap linear
    // quality score binned into 10 equal-width buckets over its [-1,1]
    // range, each bin reporting its size, DECIMAL-exact mean score,
    // and the empirical rate at which the rule-based Gopher cascade
    // agrees (keep=true as the observed label). This is the standing
    // ML-ops check that a learned/linear quality filter still TRACKS
    // the auditable rules before anyone moves its threshold — a
    // monotone pos_rate profile means the score ranks quality, a flat
    // one means it stopped. One score pass + one map-only flag pass +
    // a 10-group aggregate; nothing here outgrows the corpus scan.
    "q_calibration" -> ((s, dir) => {
      val sc = queries("q_classifier_score")(s, dir)
        .select(col("doc_id"), col("score"))
      val gf = gopherFlags(Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("keep").cast("int").as("y"))
      sc.join(gf, Seq("doc_id"))
        .withColumn("bin",
          least(floor((col("score") + lit(1.0)) * lit(5.0)), lit(9L)).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("score").cast("decimal(28,20)")).cast("double") /
            count(lit(1)), 6).as("mean_score"),
          sum(col("y")).cast("long").as("n_pos"),
          round(sum(col("y")).cast("double") / count(lit(1)), 6).as("pos_rate"))
        .orderBy(col("bin"))
    }),

    // DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    // importance weight of every raw document under hashed-bigram bag
    // models — log w(d) = Σ_f cnt_{d,f}·(ln p_target[f] − ln p_raw[f])
    // with bigram features hashed into DsirBuckets buckets and
    // Laplace-smoothed counts. Target = the Gopher-keep subset (the
    // quality-targeted selection of the paper's Wiki-shaped target);
    // raw = the whole corpus. Feature hashing is the scale move: both
    // models are ≤DsirBuckets rows at ANY corpus size, so scoring is a
    // broadcast join over per-doc feature counts — one corpus explode,
    // a (doc_id, f) fold, and a doc_id-local sum; linear forever. The
    // target side never re-reads text: it is a doc_id equi-join
    // against the already-folded feature counts. pos_lw flags on the
    // DECIMAL sum (logw > 0 ⇔ likelier under the target model) — a
    // score-surface annotation only; the EXECUTABLE selection
    // (q_dsir_apply / dsirApply) uses the different above-mean
    // predicate in [[dsirSelected]]. Docs with <2 tokens have no
    // features and drop out, exactly like the LM family.
    "q_dsir" -> ((s, dir) =>
      dsirLogw(s, dir)
        .select(col("doc_id"), col("n_feat"),
          round(col("lw").cast("double"), 6).as("logw"),
          (col("lw") > 0).as("pos_lw"))
        .orderBy(col("doc_id"))),

    // EXECUTABLE DSIR selection — the q_dsir scores turned into the
    // censused KEEP the selection exists to drive: per-source counts
    // of docs/selected/dropped plus the bit_xor receipt over SELECTED
    // content keys (the q_dedup_apply / q_forget / q_decontaminate
    // receipt discipline — this makes the executable family a
    // quartet: RTBF delete, eval decontamination, near-dup collapse,
    // and now importance selection). ONE shared predicate
    // ([[dsirSelected]]: above the corpus-mean log-weight, the
    // deterministic budget form of DSIR's proportional sampling)
    // drives both the census and the physical write ([[dsirApply]]);
    // OpsSpec proves the
    // census IS the receipt of the written corpus. Unlike the dedup
    // collapse, re-applying is NOT a no-op by design — re-scoring the
    // selected subset re-fits both hashed LMs on the subset — so the
    // verification is receipt equality, not re-run idempotence.
    // Docs too short to produce a bigram have no importance evidence
    // and are not selected.
    "q_dsir_apply" -> ((s, dir) => {
      val sel = dsirSelected(s, dir).withColumn("hit", lit(1))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          h60(concat(lit("d:"), col("doc_id").cast("string"))).as("h"))
        .join(sel, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hit") === 1, 1L).otherwise(0L)).as("n_selected"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_dropped"),
          expr("bit_xor(CASE WHEN hit = 1 THEN h ELSE CAST(0 AS BIGINT) END)")
            .as("sel_checksum"))
        .orderBy(col("source"))
    }),

    // Quality-vs-LM ablation curve: the cheap 4-term heuristic score
    // cut into equal-width deciles over [0,1], each decile reporting
    // its doc count and DECIMAL-exact mean LM cross-entropy /
    // perplexity from the shared_perplexity table. This is the
    // standing check that the heuristic the cascade filters on
    // actually tracks the expensive signal (monotone-decreasing
    // mean_ce over bins = the score ranks corpus-likeness; flat = it
    // stopped measuring anything and the threshold is theater).
    // Value-bucketed bins, NOT rank ntiles — the bin is a map-only
    // compare, so beyond the shared table the query costs one score
    // pass and a ≤10-group fold at any corpus size.
    "q_quality_ablate" -> ((s, dir) => {
      val lt = lower(col("text"))
      val sc = Tables.fanout(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          size(tokens(col("text"))).as("n_tok"),
          nMatches(lt, EnPat).as("n_stop"),
          nMatches(col("text"), PunctPat).as("n_punct"),
          nMatches(col("text"), DigitPat).as("n_digit"),
          length(col("text")).as("len"))
        .withColumn("score", qualityScore(col("n_tok"), col("n_stop"),
          col("n_punct"), col("n_digit"), col("len")))
        .select(col("doc_id"), col("score"))
      val ppl = sharedPerplexity(s, dir)
        .select(col("doc_id"), col("cross_entropy"), col("ppl"))
      sc.join(ppl, Seq("doc_id"))
        .withColumn("bin",
          least(floor(col("score") * lit(10.0)), lit(9L)).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("score").cast("decimal(28,20)")).cast("double") /
            count(lit(1)), 6).as("mean_score"),
          round(sum(col("cross_entropy").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_ce"),
          round(sum(col("ppl").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_ppl"))
        .orderBy(col("bin"))
    })
  )

  /** Shared CTE chain replaying [[dsirLogw]] — ends in
    * `ag(doc_id, n_feat, lw)`; one fragment for the q_dsir score
    * surface and the q_dsir_apply census so the two cannot drift.
    */
  private def sqlDsirCtes: String =
    s"""tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
       |bgd AS (SELECT doc_id, unnest(list_transform(range(greatest(len(a) - 1, 0)),
       |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
       |ft AS (SELECT doc_id, ${sqlH60("'dsir:' || bg")} % $DsirBuckets AS f,
       |    count(*) AS cnt
       |  FROM bgd GROUP BY 1, 2),
       |$sqlGopherFlags,
       |tg AS (SELECT doc_id FROM gf
       |  WHERE ok_len AND ok_wordlen AND ok_sym AND ok_stop),
       |cq AS (SELECT f, sum(cnt) AS cq FROM ft GROUP BY f),
       |cp AS (SELECT f, sum(cnt) AS cp FROM ft JOIN tg USING (doc_id) GROUP BY f),
       |md AS (SELECT cq.f, cq.cq, coalesce(cp.cp, 0) AS cp
       |  FROM cq LEFT JOIN cp USING (f)),
       |tot AS (SELECT sum(cq) AS tq, sum(cp) AS tp FROM md),
       |llr AS (SELECT f,
       |    ln((CAST(cp AS DOUBLE) + 1.0) / (CAST(tp AS DOUBLE) + ${DsirBuckets}.0)) -
       |    ln((CAST(cq AS DOUBLE) + 1.0) / (CAST(tq AS DOUBLE) + ${DsirBuckets}.0)) AS llr
       |  FROM md, tot),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       |    sum(CAST(cnt * llr AS DECIMAL(28,20))) AS lw
       |  FROM ft JOIN llr USING (f) GROUP BY doc_id)""".stripMargin

  /** Replay of [[watermarkZ]]+[[watermarkPartials]]+
    * [[watermarkFromPartials]] — one text shared by q_watermark_detect
    * and q_stream_watermark so batch and ingest-time census grade
    * against the identical SQL.
    */
  private def watermarkOracle: String =
    s"""WITH tk AS (SELECT source, ${sqlTokens("text")} AS a FROM documents),
       |bg AS (SELECT source, list_transform(range(greatest(len(a) - 1, 0)),
       |  i -> a[i+1] || ' ' || a[i+2]) AS bgs FROM tk),
       |pd AS (SELECT source, CAST(len(bgs) AS BIGINT) AS n,
       |  CAST(len(list_filter(bgs, b -> substr(md5(b), 1, 1) IN
       |    ('0','1','2','3','4','5','6','7'))) AS BIGINT) AS g
       |  FROM bg),
       |z AS (SELECT source, (2.0 * g - n) / sqrt(CAST(n AS DOUBLE)) AS z
       |  FROM pd WHERE n >= $WatermarkMinPairs)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN z >= 4.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged,
       |  round(CAST(sum(CAST(round(z, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |    / count(*), 6) AS mean_z
       |FROM z GROUP BY source ORDER BY source""".stripMargin

  /** One SQL text for the batch DoReMi step AND its streaming twin. */
  private def doremiOracle: String =
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |bgd AS (SELECT doc_id, unnest(list_transform(range(greatest(len(a) - 1, 0)),
         |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS cnt FROM bgd GROUP BY bg),
         |sp AS (SELECT bg, cnt, split_part(bg, ' ', 1) AS w1 FROM bc),
         |un AS (SELECT w1, sum(cnt) AS cnt1 FROM sp GROUP BY w1),
         |pr AS (SELECT bg, CAST(cnt AS DOUBLE) / cnt1 AS p
         |  FROM sp JOIN un USING (w1)),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
         |    sum(CAST(ln(p) AS DECIMAL(28,20))) AS term_sum
         |  FROM bgd JOIN pr USING (bg) GROUP BY doc_id),
         |ce AS (SELECT doc_id, n_bg,
         |    round(-CAST(term_sum AS DOUBLE) / n_bg, 6) AS cross_entropy
         |  FROM ag),
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_bg) AS BIGINT) AS n_bg,
         |    round(CAST(sum(CAST(cross_entropy * n_bg AS DECIMAL(28,20)))
         |      AS DOUBLE) / sum(n_bg), 6) AS ce
         |  FROM ce JOIN documents USING (doc_id) GROUP BY source),
         |rf AS (SELECT min(ce) AS ref FROM per),
         |ex AS (SELECT source, n_docs, n_bg, ce,
         |    round(ce - ref, 6) AS excess FROM per CROSS JOIN rf),
         |u2 AS (SELECT *, round(CAST(n_bg AS DOUBLE) * exp(1.0 * excess), 6)
         |    AS u FROM ex),
         |tu AS (SELECT sum(CAST(u AS DECIMAL(28,20))) AS t FROM u2)
         |SELECT source, n_docs, n_bg, ce, excess,
         |  round(u / CAST(t AS DOUBLE), 6) AS weight
         |FROM u2 CROSS JOIN tu ORDER BY source""".stripMargin

  /** The KMV replay over the same gram stream — see the note at the
    * q_distinct_ngrams_theta oracle entry.
    */
  private def ngramThetaOracle: String =
    s"""WITH tk AS (SELECT source, ${sqlTokens("text")} AS a FROM documents),
         |g1 AS (SELECT source, 1 AS n, a[i] AS g
         |  FROM tk, generate_series(1, 512) s(i) WHERE i <= len(a)),
         |g2 AS (SELECT source, 2 AS n, a[i] || ' ' || a[i+1] AS g
         |  FROM tk, generate_series(1, 512) s(i) WHERE i <= len(a) - 1),
         |g3 AS (SELECT source, 3 AS n, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
         |  FROM tk, generate_series(1, 512) s(i) WHERE i <= len(a) - 2),
         |ag AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
         |  UNION ALL SELECT * FROM g3),
         |hh AS (SELECT source, n, ${sqlH60("g")} AS h FROM ag),
         |tot AS (SELECT source, n, CAST(count(*) AS BIGINT) AS total
         |  FROM hh GROUP BY source, n),
         |dh AS (SELECT DISTINCT source, n, h FROM hh),
         |rk AS (SELECT source, n, h,
         |    row_number() OVER (PARTITION BY source, n ORDER BY h) AS rn
         |  FROM dh),
         |agg AS (SELECT source, n,
         |    CAST(count(*) FILTER (WHERE rn <= ${Govern.ThetaK}) AS INT)
         |      AS n_kept,
         |    max(CASE WHEN rn = ${Govern.ThetaK} THEN h END) AS theta,
         |    count(*) AS exact_distinct
         |  FROM rk GROUP BY source, n),
         |est AS (SELECT source, n, n_kept, theta,
         |    round(CASE WHEN n_kept < ${Govern.ThetaK}
         |      THEN CAST(n_kept AS DOUBLE)
         |      ELSE ${Govern.ThetaK - 1} * ${Govern.Pow2_60}.0 / theta END, 4)
         |      AS est_distinct,
         |    exact_distinct
         |  FROM agg)
         |SELECT est.source, est.n, total, n_kept, theta, est_distinct,
         |  exact_distinct,
         |  round(abs(est_distinct - exact_distinct) / exact_distinct * 100, 4)
         |    AS err_pct
         |FROM est JOIN tot ON est.source = tot.source AND est.n = tot.n
         |ORDER BY est.source, est.n""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_classifier_score" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
         |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
         |vocab AS (SELECT tok, CAST(${sqlH60("tok")} % 2001 - 1000 AS BIGINT) AS w
         |  FROM df ORDER BY df DESC, tok LIMIT 300),
         |sc AS (SELECT t.doc_id, count(*) AS n_tok, sum(COALESCE(v.w, 0)) AS s
         |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY t.doc_id)
         |SELECT doc_id, n_tok,
         |  round(CAST(s AS DOUBLE) / 1000.0 / n_tok, 6) AS score,
         |  round(CAST(s AS DOUBLE) / 1000.0 / n_tok, 6) > 0 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    // The q_lm_perplexity CTE chain per doc, folded per source, then
    // the excess-loss softmax over the handful of source rows. Shared
    // verbatim by q_stream_doremi — docs never straddle micro-batches
    // and the partials fold associatively, so the drained stream
    // equals the batch step and ONE SQL text gates both.
    "q_doremi_step" -> doremiOracle,
    "q_stream_doremi" -> doremiOracle,
    // The classifier CTEs (tok/df/vocab/sc) + the shared Gopher flag
    // CTEs (m/gf) joined per doc, then the 10-bin reliability fold.
    "q_calibration" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
         |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
         |vocab AS (SELECT tok, CAST(${sqlH60("tok")} % 2001 - 1000 AS BIGINT) AS w
         |  FROM df ORDER BY df DESC, tok LIMIT 300),
         |sc AS (SELECT t.doc_id, count(*) AS n_tok, sum(COALESCE(v.w, 0)) AS s
         |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY t.doc_id),
         |$sqlGopherFlags,
         |j AS (SELECT sc.doc_id,
         |    round(CAST(sc.s AS DOUBLE) / 1000.0 / sc.n_tok, 6) AS score,
         |    CASE WHEN gf.ok_len AND gf.ok_wordlen AND gf.ok_sym AND gf.ok_stop
         |      THEN 1 ELSE 0 END AS y
         |  FROM sc JOIN gf ON sc.doc_id = gf.doc_id)
         |SELECT CAST(least(floor((score + 1.0) * 5.0), 9) AS INT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(CAST(score AS DECIMAL(28,20))) AS DOUBLE)
         |    / count(*), 6) AS mean_score,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlH60("text")} % 100 < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
         |ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok FROM documents)
         |SELECT lang, doc_id, CAST(n_tok AS INT) AS n_tok,
         |  CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok) / 1024) AS INT) AS chunk
         |FROM t ORDER BY lang, doc_id""".stripMargin,
    // Efficiency replay: same cumsum, per-lang fold.
    "q_pack_efficiency" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok FROM documents),
         |c AS (SELECT lang, n_tok,
         |  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM t),
         |e AS (SELECT lang, n_tok,
         |  floor((cum - n_tok) / 1024) AS sc, floor((cum - 1) / 1024) AS ec
         |  FROM c),
         |a AS (SELECT lang, count(*) AS n_docs, sum(n_tok) AS n_tokens,
         |    max(ec) + 1 AS n_chunks,
         |    sum(CASE WHEN n_tok > 0 AND sc <> ec THEN 1 ELSE 0 END)
         |      AS n_straddled
         |  FROM e GROUP BY lang)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_chunks AS BIGINT) AS n_chunks,
         |  round(CAST(n_tokens AS DOUBLE) / (n_chunks * 1024), 6) AS fill_rate,
         |  CAST(n_straddled AS BIGINT) AS n_straddled,
         |  round(CAST(n_straddled AS DOUBLE) / n_docs, 6) AS straddle_rate
         |FROM a ORDER BY lang""".stripMargin,
    // the identical coin + cuts (h60 is nonnegative, so % == pmod) and
    // the identical PSM token stream via 1-based inclusive slicing
    "q_fim_split" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |b AS (SELECT doc_id, a, CAST(len(a) AS INT) AS n,
         |    ${sqlH60("'fimr:' || CAST(doc_id AS VARCHAR)")} % 2 = 0
         |      AND len(a) >= 2 AS applied,
         |    ${sqlH60("'fim1:' || CAST(doc_id AS VARCHAR)")} % (len(a) + 1)
         |      AS u1,
         |    ${sqlH60("'fim2:' || CAST(doc_id AS VARCHAR)")} % (len(a) + 1)
         |      AS u2
         |  FROM tk),
         |c AS (SELECT doc_id, a, n, applied,
         |    CASE WHEN applied THEN least(u1, u2)
         |      ELSE CAST(0 AS BIGINT) END AS cut1,
         |    CASE WHEN applied THEN greatest(u1, u2)
         |      ELSE CAST(0 AS BIGINT) END AS cut2
         |  FROM b)
         |SELECT doc_id, n AS n_tokens, applied AS fim_applied,
         |  cut1, cut2, cut2 - cut1 AS len_middle,
         |  md5(CASE WHEN applied THEN array_to_string(
         |      ['<PRE>'] || a[1:CAST(cut1 AS INT)] ||
         |      ['<SUF>'] || a[CAST(cut2 + 1 AS INT):n] ||
         |      ['<MID>'] || a[CAST(cut1 + 1 AS INT):CAST(cut2 AS INT)], ' ')
         |    ELSE array_to_string(a, ' ') END) AS psm_hash
         |FROM c ORDER BY doc_id""".stripMargin,
    // Same turn geometry (ChatTurnLen-token spans, system/user/
    // assistant role cycle), same lang-cumsum packing, same chunk
    // arithmetic — all integer until the two final divisions.
    "q_chat_pack" -> {
      val T = ChatTurnLen
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok FROM documents),
         |p AS (SELECT lang, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok
         |    AS doc_start
         |  FROM t WHERE n_tok > 0),
         |tr AS (SELECT lang, doc_id, n_tok, doc_start,
         |    CAST(i AS BIGINT) AS turn
         |  FROM p, generate_series(0, 511) g(i)
         |  WHERE i < (n_tok + ${T - 1}) // $T),
         |sp AS (SELECT lang, doc_id,
         |    doc_start + turn * $T AS t_start,
         |    least($T, n_tok - turn * $T) AS t_len,
         |    turn <> 0 AND turn % 2 = 0 AS train
         |  FROM tr),
         |e AS (SELECT lang, doc_id, t_len, train,
         |    floor(t_start / 1024) AS sc,
         |    floor((t_start + t_len - 1) / 1024) AS ec
         |  FROM sp),
         |a AS (SELECT lang, count(DISTINCT doc_id) AS n_convs,
         |    count(*) AS n_turns, sum(t_len) AS n_tokens,
         |    sum(CASE WHEN train THEN t_len ELSE 0 END) AS n_train_tokens,
         |    max(ec) + 1 AS n_chunks,
         |    sum(CASE WHEN sc <> ec THEN 1 ELSE 0 END) AS n_straddled_turns
         |  FROM e GROUP BY lang)
         |SELECT lang, CAST(n_convs AS BIGINT) AS n_convs,
         |  CAST(n_turns AS BIGINT) AS n_turns,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_train_tokens AS BIGINT) AS n_train_tokens,
         |  round(CAST(n_train_tokens AS DOUBLE) / n_tokens, 6) AS train_rate,
         |  CAST(n_chunks AS BIGINT) AS n_chunks,
         |  round(CAST(n_tokens AS DOUBLE) / (n_chunks * 1024), 6) AS fill_rate,
         |  CAST(n_straddled_turns AS BIGINT) AS n_straddled_turns
         |FROM a ORDER BY lang""".stripMargin
    },
    "q_normalize_text" ->
      s"""SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
         |    '\\s+', ' ', 'g')) AS norm_text,
         |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
         |    '\\s+', ' ', 'g'))) AS norm_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS t FROM documents),
         |tc AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |nn AS (SELECT doc_id, sum(cnt) AS n, CAST(count(*) AS BIGINT) AS n_terms
         |  FROM tc GROUP BY doc_id)
         |SELECT tc.doc_id, n_terms,
         |  round(CAST(-sum(CAST((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)
         |    AS DECIMAL(28,20))) AS DOUBLE), 6) AS entropy
         |FROM tc JOIN nn ON tc.doc_id = nn.doc_id
         |GROUP BY tc.doc_id, n_terms ORDER BY tc.doc_id""".stripMargin,
    "q_winnowing" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |shp AS (SELECT doc_id, i - 1 AS pos,
         |    ${sqlH60("a[i] || ' ' || a[i+1] || ' ' || a[i+2]")} AS h,
         |    len(a) - 2 AS n
         |  FROM tk, generate_series(1, 512) g(i) WHERE i <= len(a) - 2),
         |f AS (SELECT doc_id, pos, n,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM shp)
         |SELECT DISTINCT doc_id, fp FROM f WHERE pos <= n - 4
         |ORDER BY doc_id, fp""".stripMargin,
    "q_winnow_match" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |shp AS (SELECT doc_id, i - 1 AS pos,
         |    ${sqlH60("a[i] || ' ' || a[i+1] || ' ' || a[i+2]")} AS h,
         |    len(a) - 2 AS n
         |  FROM tk, generate_series(1, 512) g(i) WHERE i <= len(a) - 2),
         |f AS (SELECT doc_id, pos, n,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM shp),
         |fps AS (SELECT DISTINCT doc_id, fp FROM f WHERE pos <= n - 4),
         |sz AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS shared
         |  FROM fps a JOIN fps b USING (fp) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 4)
         |SELECT doc1, doc2, CAST(shared AS BIGINT) AS shared,
         |  round(CAST(shared AS DOUBLE) / least(x.nfp, y.nfp), 6) AS overlap
         |FROM pr JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
         |ORDER BY doc1, doc2""".stripMargin,
    "q_pmi" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, t FROM
         |  (SELECT doc_id, unnest(${sqlTokens("text")}) AS t FROM documents)),
         |v AS (SELECT t, count(*) AS df FROM dt GROUP BY t
         |  ORDER BY df DESC, t LIMIT 40),
         |dv AS (SELECT dt.doc_id, dt.t, v.df FROM dt JOIN v USING (t)),
         |p AS (SELECT a.t AS t1, b.t AS t2, a.df AS df1, b.df AS df2,
         |    count(*) AS c12
         |  FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.t < b.t
         |  GROUP BY 1, 2, 3, 4),
         |nn AS (SELECT count(*) AS n FROM documents)
         |SELECT t1, t2, CAST(c12 AS BIGINT) AS c12,
         |  round(ln(CAST(c12 * n AS DOUBLE) / (df1 * df2)), 6) AS pmi
         |FROM p CROSS JOIN nn WHERE c12 >= 10
         |ORDER BY pmi DESC, t1, t2 LIMIT 20""".stripMargin,
    "q_ngram_lm" ->
      s"""WITH tk AS (SELECT ${sqlTokens("text")} AS a FROM documents),
         |bgs AS (SELECT unnest(list_transform(range(greatest(len(a) - 1, 0)),
         |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS cnt FROM bgs GROUP BY bg),
         |sp AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         |  cnt FROM bc),
         |un AS (SELECT w1, sum(cnt) AS cnt1 FROM sp GROUP BY w1)
         |SELECT sp.w1, sp.w2, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(cnt AS DOUBLE) / cnt1 AS p
         |FROM sp JOIN un USING (w1)
         |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,
    // Same bigram-type CTEs; the KN formula is one double expression
    // parenthesized exactly as the Spark column.
    "q_kneser_ney" ->
      s"""WITH tk AS (SELECT ${sqlTokens("text")} AS a FROM documents),
         |bgs AS (SELECT unnest(list_transform(range(greatest(len(a) - 1, 0)),
         |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS cnt FROM bgs GROUP BY bg),
         |sp AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         |  cnt FROM bc),
         |un AS (SELECT w1, sum(cnt) AS cnt1, count(*) AS n_follow
         |  FROM sp GROUP BY w1),
         |ct AS (SELECT w2, count(*) AS n_prec FROM sp GROUP BY w2),
         |ty AS (SELECT count(*) AS n_types FROM sp)
         |SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
         |  round(greatest(cnt - CAST(0.75 AS DOUBLE), 0.0) / cnt1 +
         |    (CAST(0.75 AS DOUBLE) * n_follow / cnt1) *
         |      (CAST(n_prec AS DOUBLE) / n_types), 6) AS p_kn
         |FROM sp JOIN un USING (w1) JOIN ct USING (w2) CROSS JOIN ty
         |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,
    "q_bm25" ->
      s"""WITH $sqlBm25Ctes
         |SELECT doc_id, bm25 FROM bm
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    // RM3-lite replay: feedback top-FbDocs from the shared bm chain,
    // expansion-term selection, then the weighted re-score with the
    // same order-free DECIMAL(28,6) partial sum.
    "q_query_expansion" ->
      s"""WITH $sqlBm25Ctes,
         |fb AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id LIMIT $FbDocs),
         |ex AS (SELECT t, CAST($ExpWeight AS DOUBLE) AS w FROM (
         |  SELECT t, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM d JOIN fb USING (doc_id))
         |  WHERE t NOT IN (${RetrievalTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY t ORDER BY cnt DESC, t LIMIT $FbTerms)),
         |tw AS (${RetrievalTerms.map(t =>
            s"SELECT '$t' AS t, CAST(1.0 AS DOUBLE) AS w").mkString(" UNION ALL ")}
         |  UNION ALL SELECT t, w FROM ex),
         |tf2 AS (SELECT doc_id, dl, t, w, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM d) JOIN tw USING (t)
         |  GROUP BY 1, 2, 3, 4),
         |df2 AS (SELECT t, count(*) AS df FROM tf2 GROUP BY t),
         |sc2 AS (SELECT doc_id, w,
         |  ln((n - df + 0.5) / (df + 0.5) + 1.0) *
         |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n))) AS sc
         |  FROM tf2 JOIN df2 USING (t) CROSS JOIN stats)
         |SELECT doc_id,
         |  CAST(sum(CAST(round(w * sc, 6) AS DECIMAL(28,6))) AS DOUBLE) AS exp_score
         |FROM sc2 GROUP BY doc_id
         |ORDER BY exp_score DESC, doc_id LIMIT 20""".stripMargin,
    "q_split_assign" ->
      s"""SELECT CASE WHEN h % 100 < 80 THEN 'train'
         |  WHEN h % 100 < 90 THEN 'val' ELSE 'test' END AS split,
         |  lang, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT lang, ${sqlH60("text")} AS h FROM documents)
         |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    "q_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS t FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         |n AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT doc_id, tf.t,
         |  round(CAST(tf AS DOUBLE) * ln((n + 1.0) / (df + 1)), 6) AS tfidf
         |  FROM tf JOIN df USING (t) CROSS JOIN n),
         |r AS (SELECT doc_id, t, tfidf,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, t) AS rn FROM sc)
         |SELECT doc_id, CAST(rn AS INT) AS rn, t AS term, tfidf
         |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q_pii_scrub" ->
      """WITH w AS (SELECT doc_id,
        |  lower(text) || ' contact doc' || CAST(doc_id AS VARCHAR)
        |    || '@example.com acct '
        |    || CAST(doc_id * 1000003 + 100000 AS VARCHAR) AS t0
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t0, '[0-9]{6,}')) AS INT)
        |    AS n_longnums,
        |  md5(regexp_replace(regexp_replace(t0,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
        |    '[0-9]{6,}', '<num>', 'g')) AS scrub_hash
        |FROM w ORDER BY doc_id""".stripMargin,
    "q_bpe_pairs" ->
      s"""WITH tk AS (SELECT unnest(${sqlTokens("text")}) AS t FROM documents),
         |p AS (SELECT unnest(list_transform(range(length(t) - 1),
         |    i -> substr(t, CAST(i + 1 AS INT), 2))) AS pair
         |  FROM tk WHERE length(t) >= 2)
         |SELECT pair, count(*) AS cnt FROM p
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    // Unrolled BpeRounds-round replay of the Spark training loop: each
    // round re-derives pair counts from the previous word table, picks
    // the same (cnt DESC, pair) argmax, and applies the same
    // MergePasses-deep fixed-point replace.
    "q_bpe_train" -> {
      val out = (1 to BpeRounds).map { r =>
        s"""SELECT CAST($r AS INT) AS round, split_part(pair, ' ', 1) AS "left",
           |  split_part(pair, ' ', 2) AS "right",
           |  replace(pair, ' ', '') AS merged, cnt FROM t$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $sqlBpeChain
         |SELECT * FROM (
         |$out
         |) ORDER BY round""".stripMargin
    },
    "q_bpe_encode" ->
      s"""WITH $sqlBpeChain,
         |wsym AS (SELECT w,
         |    CAST(len(string_split(trim(seq), ' ')) AS INT) AS n_sym
         |  FROM w$BpeRounds),
         |dt AS (SELECT lang, unnest(${sqlTokens("text")}) AS w FROM documents)
         |SELECT lang, count(*) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_symbols,
         |  round(CAST(sum(n_sym) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS fertility
         |FROM dt JOIN wsym USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_mix_weights" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(chars) AS BIGINT) AS total,
        |  count(*) AS n_sources FROM per)
        |SELECT source, n_docs, chars,
        |  CAST(chars AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(total AS DOUBLE) /
        |    (CAST(n_sources AS DOUBLE) * CAST(chars AS DOUBLE)) AS weight
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,
    // sqrt (not pow) and an exact DECIMAL normalizer sum — the same
    // determinism discipline as the Spark side.
    "q_mix_temperature" ->
      """WITH per AS (SELECT lang,
        |  CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang
        |  HAVING sum(n_chars) > 0),
        |tot AS (SELECT CAST(sum(chars) AS BIGINT) AS total FROM per),
        |sh AS (SELECT lang, chars,
        |  CAST(chars AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |  FROM per CROSS JOIN tot),
        |wr AS (SELECT *, CAST(round(sqrt(share), 12) AS DECIMAL(18,12)) AS w_raw
        |  FROM sh),
        |z AS (SELECT sum(w_raw) AS z FROM wr),
        |j AS (SELECT lang, chars, share,
        |  CAST(w_raw AS DOUBLE) / CAST(z AS DOUBLE) AS w FROM wr CROSS JOIN z)
        |SELECT lang, chars, round(share, 6) AS share, round(w, 6) AS weight,
        |  round(w / share, 6) AS boost
        |FROM j ORDER BY lang""".stripMargin,
    // The ascending-waterfill closed form replayed verbatim: BIGINT
    // throughout, one double division at the end.
    "q_unimax" ->
      s"""WITH $sqlUnimaxCtes,
         |fin AS (SELECT lang, chars, cap, idx <= k AS capped,
         |  CASE WHEN idx <= k THEN CAST(cap AS DOUBLE)
         |    ELSE CAST(budget - ck AS DOUBLE) / (nl - k) END AS alloc_raw
         |  FROM rk CROSS JOIN kk CROSS JOIN ck)
         |SELECT lang, chars, cap, capped, round(alloc_raw, 6) AS alloc,
         |  round(alloc_raw / chars, 6) AS epochs
         |FROM fin ORDER BY lang""".stripMargin,
    // Same waterfill CTEs, integer allocation, exact ppm epoch rate
    // and md5 fractional coin as the Spark side.
    "q_epoch_expand" ->
      s"""WITH $sqlUnimaxCtes,
         |al AS (SELECT lang, chars,
         |  CAST(CASE WHEN idx <= k THEN cap
         |    ELSE (budget - ck) // (nl - k) END AS BIGINT) AS alloc_int
         |  FROM rk CROSS JOIN kk CROSS JOIN ck),
         |ep AS (SELECT lang, (alloc_int // chars) * 1000000 +
         |  ((alloc_int % chars) * 1000000) // chars AS epochs_ppm FROM al),
         |j AS (SELECT d.lang, d.doc_id, epochs_ppm // 1000000 AS base,
         |  CASE WHEN ${sqlH60("'epoch:' || CAST(doc_id AS VARCHAR)")}
         |      % 1000000 < epochs_ppm % 1000000 THEN 1 ELSE 0 END AS extra
         |  FROM documents d JOIN ep USING (lang)),
         |x AS (SELECT lang, doc_id, base + extra AS n_copies FROM j
         |  WHERE base + extra > 0)
         |SELECT lang, doc_id, CAST(g.copy AS BIGINT) AS copy, n_copies
         |FROM x, generate_series(1, $UnimaxEpochs) g(copy)
         |WHERE g.copy <= n_copies
         |ORDER BY lang, doc_id, copy""".stripMargin,
    // Same md5 green predicate, same n ≥ WatermarkMinPairs floor, same
    // DECIMAL(28,6) order-free mean. ONE text for the batch census and
    // its ingest-time twin.
    "q_watermark_detect" -> watermarkOracle,
    "q_stream_watermark" -> watermarkOracle,
    "q_oov_rate" ->
      s"""WITH tok AS (SELECT lang, unnest(${sqlTokens("text")}) AS t
         |  FROM documents),
         |g AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
         |v AS (SELECT t FROM g ORDER BY cnt DESC, t LIMIT $OovVocab)
         |SELECT lang, count(*) AS n_tok,
         |  CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS oov_rate
         |FROM tok LEFT JOIN v ON tok.t = v.t
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_distinct_ngrams" ->
      s"""WITH tk AS (SELECT source, ${sqlTokens("text")} AS a FROM documents),
         |g1 AS (SELECT source, 1 AS n, a[i] AS g
         |  FROM tk, generate_series(1, 512) s(i) WHERE i <= len(a)),
         |g2 AS (SELECT source, 2 AS n, a[i] || ' ' || a[i+1] AS g
         |  FROM tk, generate_series(1, 512) s(i) WHERE i <= len(a) - 1),
         |g3 AS (SELECT source, 3 AS n, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
         |  FROM tk, generate_series(1, 512) s(i) WHERE i <= len(a) - 2),
         |ag AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
         |  UNION ALL SELECT * FROM g3)
         |SELECT source, n, CAST(count(*) AS BIGINT) AS total,
         |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
         |  (CAST(count(DISTINCT g) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS distinct_ppm
         |FROM ag GROUP BY source, n ORDER BY source, n""".stripMargin,
    // The KMV replay over the same gram stream (the thetaSketchOracle
    // discipline): row_number over distinct hashes per (source, n) IS
    // the bottom-k sketch. ONE text grades the batch query AND the
    // drained ingest twin (the KMV merge is associative, so the
    // streamed fold equals the one-pass aggregate).
    "q_distinct_ngrams_theta" -> ngramThetaOracle,
    "q_stream_ngram_theta" -> ngramThetaOracle,
    "q_vocab_stats" ->
      s"""WITH tc AS (SELECT source, t, count(*) AS cnt
         |  FROM (SELECT source, unnest(${sqlTokens("text")}) AS t FROM documents)
         |  GROUP BY 1, 2),
         |st AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(sum(cnt) AS BIGINT) AS n_tokens FROM tc GROUP BY source),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY source)
         |SELECT source, n_docs, vocab, hapax, n_tokens
         |FROM st JOIN nd USING (source) ORDER BY source""".stripMargin,
    "q_gopher_quality" ->
      s"""WITH $sqlGopherFlags
         |SELECT doc_id, n_tok, ok_len, ok_wordlen, ok_sym, ok_stop,
         |  ok_len AND ok_wordlen AND ok_sym AND ok_stop AS keep
         |FROM gf ORDER BY doc_id""".stripMargin,
    // Funnel replay: the shared flag CTE, one wide conditional
    // aggregate, four stage rows.
    "q_filter_funnel" -> {
      val stages = Seq(
        (1, "len", "n0", "n1", "k1"), (2, "wordlen", "n1", "n2", "k2"),
        (3, "sym", "n2", "n3", "k3"), (4, "stop", "n3", "n4", "k4"))
      val rows = stages.map { case (i, r, nin, nout, k) =>
        s"""SELECT CAST($i AS INT) AS stage, '$r' AS rule,
           |  CAST($nin AS BIGINT) AS n_in,
           |  CAST($nin - $nout AS BIGINT) AS n_killed,
           |  CAST($nout AS BIGINT) AS n_out,
           |  CAST($k AS BIGINT) AS sole_kill FROM a""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH $sqlGopherFlags,
         |a AS MATERIALIZED (SELECT count(*) AS n0,
         |  sum(CASE WHEN ok_len THEN 1 ELSE 0 END) AS n1,
         |  sum(CASE WHEN ok_len AND ok_wordlen THEN 1 ELSE 0 END) AS n2,
         |  sum(CASE WHEN ok_len AND ok_wordlen AND ok_sym
         |    THEN 1 ELSE 0 END) AS n3,
         |  sum(CASE WHEN ok_len AND ok_wordlen AND ok_sym AND ok_stop
         |    THEN 1 ELSE 0 END) AS n4,
         |  sum(CASE WHEN NOT ok_len AND ok_wordlen AND ok_sym AND ok_stop
         |    THEN 1 ELSE 0 END) AS k1,
         |  sum(CASE WHEN ok_len AND NOT ok_wordlen AND ok_sym AND ok_stop
         |    THEN 1 ELSE 0 END) AS k2,
         |  sum(CASE WHEN ok_len AND ok_wordlen AND NOT ok_sym AND ok_stop
         |    THEN 1 ELSE 0 END) AS k3,
         |  sum(CASE WHEN ok_len AND ok_wordlen AND ok_sym AND NOT ok_stop
         |    THEN 1 ELSE 0 END) AS k4
         |  FROM gf)
         |$rows
         |ORDER BY stage""".stripMargin
    },
    "q_repetition" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |s AS (SELECT doc_id, list_transform(range(greatest(len(a) - 2, 0)),
         |    i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) AS sh FROM tk)
         |SELECT doc_id, CAST(len(sh) AS INT) AS n_sh,
         |  CAST(len(list_distinct(sh)) AS INT) AS n_uniq,
         |  CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / greatest(len(sh), 1) AS rep_ratio
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      s"""SELECT token, count(*) AS cnt
         |FROM (SELECT unnest(${sqlTokens("text")}) AS token FROM documents)
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q_zipf" ->
      s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token
         |  ORDER BY cnt DESC, token LIMIT 1000),
         |rk AS (SELECT cnt,
         |  row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM tc),
         |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
         |  ln(CAST(cnt AS DOUBLE)) AS y FROM rk),
         |ag AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(CAST(x AS DECIMAL(28,20))) AS DOUBLE) AS sx,
         |  CAST(sum(CAST(y AS DECIMAL(28,20))) AS DOUBLE) AS sy,
         |  CAST(sum(CAST(x * y AS DECIMAL(28,20))) AS DOUBLE) AS sxy,
         |  CAST(sum(CAST(x * x AS DECIMAL(28,20))) AS DOUBLE) AS sxx,
         |  CAST(sum(CAST(y * y AS DECIMAL(28,20))) AS DOUBLE) AS syy
         |  FROM xy)
         |SELECT
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         |    AS intercept,
         |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
         |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         |FROM ag""".stripMargin,
    "q_confusion" ->
      s"""WITH p AS (SELECT lang, $sqlLangCase AS pred_lang FROM documents),
         |c AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2)
         |SELECT lang, pred_lang, n,
         |  round(CAST(n AS DOUBLE) /
         |    CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS recall
         |FROM c ORDER BY lang, pred_lang""".stripMargin,
    "q_lang_id" ->
      s"""SELECT doc_id, lang,
         |  CAST(len(regexp_extract_all(lower(text), '$EnPat')) AS INT) AS n_en,
         |  CAST(len(regexp_extract_all(lower(text), '$DePat')) AS INT) AS n_de,
         |  CAST(len(regexp_extract_all(lower(text), '$FrPat')) AS INT) AS n_fr,
         |  CAST(len(regexp_extract_all(lower(text), '$EsPat')) AS INT) AS n_es,
         |  CAST(len(regexp_extract_all(text, '$ZhPat')) AS INT) AS n_zh,
         |  $sqlLangCase AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
         |  CAST(length(array_to_string(${sqlTokens("text")}, '')) AS INT) AS n_tok_chars,
         |  CAST(len(regexp_extract_all(lower(text), '$EnPat')) AS INT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '$PunctPat')) AS INT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '$DigitPat')) AS INT) AS n_digit,
         |  CAST(length(text) AS INT) AS len
         |FROM documents)
         |SELECT doc_id, n_tok,
         |  CAST(n_tok_chars AS DOUBLE) / greatest(n_tok, 1) AS avg_tok_len,
         |  CAST(n_stop AS DOUBLE) / greatest(n_tok, 1) AS stop_ratio,
         |  CAST(n_punct AS DOUBLE) / greatest(len, 1) AS punct_ratio,
         |  CAST(n_digit AS DOUBLE) / greatest(len, 1) AS digit_ratio,
         |  ${sqlScore("n_tok", "n_stop", "n_punct", "n_digit", "len")} AS score
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_data_card" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  count(*) - count(DISTINCT th) AS n_dup_docs,
         |  CAST(sum(n_tok) AS DOUBLE) / count(*) AS avg_doc_tokens
         |FROM (SELECT lang, source, md5(text) AS th, n_chars,
         |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok
         |  FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(${sqlTokens("text")}) AS INT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS INT) AS bpe_ish_tokens,
         |  CAST(ceil(length(text) / 4.0) AS INT) AS est_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_topk_per_group" ->
      s"""WITH m AS (SELECT doc_id, lang,
         |  CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
         |  CAST(len(regexp_extract_all(lower(text), '$EnPat')) AS INT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '$PunctPat')) AS INT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '$DigitPat')) AS INT) AS n_digit,
         |  CAST(length(text) AS INT) AS len
         |FROM documents),
         |s AS (SELECT doc_id, lang,
         |  ${sqlScore("n_tok", "n_stop", "n_punct", "n_digit", "len")} AS score
         |FROM m),
         |r AS (SELECT lang, doc_id, score,
         |  row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn
         |FROM s)
         |SELECT lang, CAST(rn AS INT) AS rn, doc_id, score
         |FROM r WHERE rn <= 3 ORDER BY lang, rn""".stripMargin,
    "q_fingerprint" ->
      s"""WITH ${sqlShingleCtes("documents")},
         |mn AS (SELECT doc_id, min(${sqlH60("s")}) AS min_shingle_h FROM sh GROUP BY doc_id)
         |SELECT d.doc_id, md5(d.text) AS content_md5,
         |  md5(array_to_string(list_sort(list_distinct(${sqlTokens("d.text")})), ' ')) AS token_fp,
         |  mn.min_shingle_h
         |FROM documents d LEFT JOIN mn ON d.doc_id = mn.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // 64 covers ceil(maxTokens/10) for the testdata (≤ ~110 tokens);
    // oracle-only bound, the Spark side has none.
    "q_dup_chunks" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |ch AS (SELECT doc_id,
         |    md5(array_to_string(a[(i*10+1):(i*10+10)], ' ')) AS h
         |  FROM tk, generate_series(0, 63) g(i)
         |  WHERE i*10 < len(a)),
         |dup AS (SELECT h FROM ch GROUP BY h
         |  HAVING count(DISTINCT doc_id) > 1),
         |agg AS (SELECT ch.doc_id, count(*) AS n_chunks,
         |    sum(CASE WHEN dup.h IS NULL THEN 0 ELSE 1 END) AS n_dup_chunks
         |  FROM ch LEFT JOIN dup ON ch.h = dup.h GROUP BY ch.doc_id)
         |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
         |  CAST(n_dup_chunks AS BIGINT) AS n_dup_chunks,
         |  round(CAST(n_dup_chunks AS DOUBLE) / n_chunks, 6) AS dup_ratio,
         |  CAST(n_dup_chunks AS DOUBLE) / n_chunks <= 0.3 AS keep
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |ch AS (SELECT doc_id, i AS idx,
         |    array_to_string(a[(i*10+1):(i*10+10)], ' ') AS ch
         |  FROM tk, generate_series(0, 63) g(i)
         |  WHERE i*10 < len(a)),
         |rk AS (SELECT doc_id, idx, ch,
         |    row_number() OVER (PARTITION BY md5(ch)
         |      ORDER BY doc_id, idx) AS rn
         |  FROM ch),
         |pd AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(ch, ' ' ORDER BY idx) AS clean_text
         |  FROM rk WHERE rn = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
         |SELECT tot.doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(length(coalesce(clean_text, '')) AS BIGINT) AS clean_len,
         |  md5(coalesce(clean_text, '')) AS clean_md5
         |FROM tot LEFT JOIN pd ON tot.doc_id = pd.doc_id
         |ORDER BY tot.doc_id""".stripMargin,
    "q_lm_perplexity" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |bgd AS (SELECT doc_id, unnest(list_transform(range(greatest(len(a) - 1, 0)),
         |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS cnt FROM bgd GROUP BY bg),
         |sp AS (SELECT bg, cnt, split_part(bg, ' ', 1) AS w1 FROM bc),
         |un AS (SELECT w1, sum(cnt) AS cnt1 FROM sp GROUP BY w1),
         |pr AS (SELECT bg, CAST(cnt AS DOUBLE) / cnt1 AS p
         |  FROM sp JOIN un USING (w1)),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
         |    sum(CAST(ln(p) AS DECIMAL(28,20))) AS term_sum
         |  FROM bgd JOIN pr USING (bg) GROUP BY doc_id),
         |ce AS (SELECT doc_id, n_bg,
         |    round(-CAST(term_sum AS DOUBLE) / n_bg, 6) AS cross_entropy
         |  FROM ag)
         |SELECT doc_id, n_bg, cross_entropy,
         |  round(exp(cross_entropy), 6) AS ppl
         |FROM ce ORDER BY doc_id""".stripMargin,
    // Same per-doc ppl CTEs as q_lm_perplexity; the bucket formula
    // 1 + ((rank−1)·3) // n is the exact ntile(3) assignment in pure
    // integer arithmetic (the Spark side assembles the identical rank
    // via the q_gini bucket stitch).
    "q_perplexity_buckets" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |bgd AS (SELECT doc_id, unnest(list_transform(range(greatest(len(a) - 1, 0)),
         |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS cnt FROM bgd GROUP BY bg),
         |sp AS (SELECT bg, cnt, split_part(bg, ' ', 1) AS w1 FROM bc),
         |un AS (SELECT w1, sum(cnt) AS cnt1 FROM sp GROUP BY w1),
         |pr AS (SELECT bg, CAST(cnt AS DOUBLE) / cnt1 AS p
         |  FROM sp JOIN un USING (w1)),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
         |    sum(CAST(ln(p) AS DECIMAL(28,20))) AS term_sum
         |  FROM bgd JOIN pr USING (bg) GROUP BY doc_id),
         |ce AS (SELECT doc_id,
         |    round(-CAST(term_sum AS DOUBLE) / n_bg, 6) AS cross_entropy
         |  FROM ag),
         |pp AS (SELECT doc_id, round(exp(cross_entropy), 6) AS ppl FROM ce),
         |pl AS (SELECT d.lang, p.doc_id, p.ppl
         |  FROM documents d JOIN pp p USING (doc_id)),
         |r AS (SELECT lang, doc_id, ppl,
         |  row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS i,
         |  count(*) OVER (PARTITION BY lang) AS n FROM pl),
         |bk AS (SELECT lang, ppl,
         |  CAST(((i - 1) * 3) // n AS INT) + 1 AS bucket FROM r)
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(ppl) AS ppl_min, max(ppl) AS ppl_max,
         |  round(CAST(sum(CAST(ppl AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS ppl_avg
         |FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    // Hashed-bigram DSIR replay: same feature hash, same Laplace
    // models, same DECIMAL fold; pos_lw compares the DECIMAL sums so
    // the sign boundary cannot drift between engines (annotation
    // only — the executable predicate is q_dsir_apply's above-mean).
    "q_dsir" ->
      s"""WITH $sqlDsirCtes
         |SELECT doc_id, n_feat, round(CAST(lw AS DOUBLE), 6) AS logw,
         |  lw > 0 AS pos_lw
         |FROM ag ORDER BY doc_id""".stripMargin,
    // Same scoring chain, above-mean (lw·n > Σlw) selection,
    // per-source census with the bit_xor receipt over selected
    // content keys.
    "q_dsir_apply" ->
      s"""WITH $sqlDsirCtes,
         |twn AS (SELECT sum(lw) AS tlw, CAST(count(*) AS BIGINT) AS nw FROM ag),
         |selx AS (SELECT doc_id FROM ag CROSS JOIN twn
         |  WHERE CAST(lw AS DOUBLE) * nw > CAST(tlw AS DOUBLE))
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN selx.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_selected,
         |  CAST(sum(CASE WHEN selx.doc_id IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  bit_xor(CASE WHEN selx.doc_id IS NOT NULL
         |    THEN ${sqlH60("'d:' || CAST(d.doc_id AS VARCHAR)")}
         |    ELSE 0 END) AS sel_checksum
         |FROM documents d LEFT JOIN selx ON d.doc_id = selx.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,
    // Same per-doc ppl CTEs as q_lm_perplexity joined to the
    // q_importance_sample score CTEs; value-bucketed deciles.
    "q_quality_ablate" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM documents),
         |bgd AS (SELECT doc_id, unnest(list_transform(range(greatest(len(a) - 1, 0)),
         |  i -> a[i+1] || ' ' || a[i+2])) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS cnt FROM bgd GROUP BY bg),
         |sp AS (SELECT bg, cnt, split_part(bg, ' ', 1) AS w1 FROM bc),
         |un AS (SELECT w1, sum(cnt) AS cnt1 FROM sp GROUP BY w1),
         |pr AS (SELECT bg, CAST(cnt AS DOUBLE) / cnt1 AS p
         |  FROM sp JOIN un USING (w1)),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
         |    sum(CAST(ln(p) AS DECIMAL(28,20))) AS term_sum
         |  FROM bgd JOIN pr USING (bg) GROUP BY doc_id),
         |ce AS (SELECT doc_id,
         |    round(-CAST(term_sum AS DOUBLE) / n_bg, 6) AS cross_entropy
         |  FROM ag),
         |pp AS (SELECT doc_id, cross_entropy,
         |    round(exp(cross_entropy), 6) AS ppl
         |  FROM ce),
         |m AS (SELECT doc_id,
         |  CAST(len(${sqlTokens("text")}) AS INT) AS n_tok,
         |  CAST(len(regexp_extract_all(lower(text), '$EnPat')) AS INT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '$PunctPat')) AS INT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '$DigitPat')) AS INT) AS n_digit,
         |  CAST(length(text) AS INT) AS len
         |FROM documents),
         |sc AS (SELECT doc_id,
         |  ${sqlScore("n_tok", "n_stop", "n_punct", "n_digit", "len")} AS score
         |FROM m),
         |j AS (SELECT sc.score, pp.cross_entropy, pp.ppl
         |  FROM sc JOIN pp USING (doc_id)),
         |b AS (SELECT least(CAST(floor(score * 10.0) AS BIGINT), 9) AS bin,
         |    score, cross_entropy, ppl
         |  FROM j)
         |SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(CAST(sum(CAST(score AS DECIMAL(28,20))) AS DOUBLE) / count(*), 6)
         |    AS mean_score,
         |  round(CAST(sum(CAST(cross_entropy AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_ce,
         |  round(CAST(sum(CAST(ppl AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_ppl
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin
  )
}
