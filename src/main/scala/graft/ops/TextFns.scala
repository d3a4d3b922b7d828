package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text/hash primitives for the LLM-data-pipeline operators
  * (dedup, fingerprinting, text analysis) plus the DuckDB SQL
  * fragments that mirror them, kept side-by-side so the Spark and
  * oracle implementations stay in lockstep.
  *
  * Hashing: both engines lack a common 64-bit hash (Spark xxhash64 ≠
  * DuckDB hash), so we derive a 60-bit integer from md5 — md5 is
  * identical everywhere, and 15 hex digits fit a signed BIGINT.
  * The MinHash family is (a_i·h + b_i) mod P with P prime > 2^32 and
  * coefficients < 2^30, so every product stays under 2^63 (no
  * overflow, bit-identical in both engines).
  */
object TextFns {
  /** MinHash modulus: prime just above 2^32. */
  val P = 4294967311L
  def aCoef(i: Int): Long = ((i + 1) * 2654435761L) % 1000000007L
  def bCoef(i: Int): Long = ((i + 7) * 104729L) % 1000000007L

  /** Whitespace tokens, lowercased, empties dropped (Spark's split
    * keeps trailing empties — DuckDB too — so both sides filter).
    * The `filter` lambda is not code-generated: `ArrayFilter` is
    * `CodegenFallback` in Spark 4.1, evaluated interpreted per row.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= lit(""))

  /** Word n-gram shingles of a token array ("a b c", sliding by 1).
    * The `transform` lambda is not code-generated: `ArrayTransform` is
    * `CodegenFallback` in Spark 4.1, evaluated interpreted per row.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Deterministic 60-bit hash — the native [[graft.functions.H60]]
    * expression (injected by [[graft.functions.GraftExtensions]]); DuckDB mirror is
    * [[sqlH60]], and the composed Spark form
    * `conv(substring(md5(c),1,15),16,10)` is bit-identical.
    */
  def h60(c: Column): Column = call_function("h60", c)

  // ---- DuckDB oracle fragments ----

  def sqlTokens(t: String): String =
    s"list_filter(regexp_split_to_array(lower($t), '\\s+'), t -> t <> '')"

  /** CTEs `tk` (token arrays) and `sh` (distinct 3-gram shingles) over
    * a relation with (doc_id, text). The series bound of 512 covers the
    * testdata (max 100 tokens/doc); it is an oracle-only construct —
    * the Spark side has no such bound.
    */
  def sqlShingleCtes(src: String): String =
    s"""tk AS (SELECT doc_id, ${sqlTokens("text")} AS a FROM $src),
       |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
       |  FROM tk, generate_series(1, 512) g(i) WHERE i <= len(a) - 2)""".stripMargin

  def sqlH60(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
}
