package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Market-basket mining: association rules (A-priori, Agrawal &
  * Srikant VLDB'94) and item-item co-occurrence similarity — the
  * retail-analytics family the reference's dashboard genre implies but
  * no prior operator covered.
  *
  * Two deliberately DIFFERENT pair-generation strategies, because each
  * is the right one at a different basket shape:
  *
  *  - [[q_assoc_rules "q_assoc_rules"]] (order baskets, ~4 items each):
  *    in-row pair generation. Baskets are grouped once (ONE shuffle on
  *    the basket key), pairs are enumerated INSIDE the row with
  *    higher-order array functions (no join; interpreted, as they are
  *    `CodegenFallback` in Spark 4.1), and only the candidate pairs
  *    shuffle to the counting aggregate. The frequent-
  *    item prune runs BEFORE pair generation as a broadcast join — the
  *    A-priori downward-closure trick: an infrequent item can never be
  *    in a frequent pair, so the pair space shrinks before it exists.
  *    At 100 TB the item dimension (≤ millions of SKUs × 16 bytes)
  *    broadcasts; pair work is Σ|basket|² over PRUNED baskets.
  *
  *  - [[q_cooccur "q_cooccur"]] (customer baskets, ~40 items each): the
  *    inverted-incidence self-join, co-partitioned on the basket key —
  *    the same shape as the shingle index in [[Dedup.jaccardPairs]].
  *    With large baskets, in-row enumeration would materialize |b|²
  *    structs per row inside one task; the self-join spreads the same
  *    work across the shuffle. A df cap drops ubiquitous items
  *    (stop-item analog of the Zipfian stop-shingle guard): an item in
  *    k baskets contributes k² pair instances, so capping df bounds
  *    the quadratic term while hurting only pairs whose cosine is
  *    necessarily tiny (denominator √(n1·n2) ≥ cap).
  *
  * Arithmetic parity: all ratios are one double division of exact
  * integer counts (single correctly-rounded op in both engines), the
  * ORDER for top-N is on the UNROUNDED double (bit-identical), and
  * round(·, 6) is display-only — the |x| < 1e9 magnitude rule from
  * the engine-parity notes holds for every ratio here.
  */
object Baskets {
  type Q = (SparkSession, String) => DataFrame

  /** A-priori minimum basket support for a single item. Median item
    * support in the testdata is ~30 at every sf (items scale with the
    * corpus), so 20 prunes the thin tail at all scales.
    */
  val MinSupp = 20

  /** Minimum co-occurrence count for a pair to become a rule. */
  val MinPair = 2

  /** Pair-instance budget for the co-occurrence self-join: the df cap
    * is DERIVED from the measured df distribution as the largest df
    * value whose cumulative Σdf² (= pair instances the join will
    * generate) still fits this budget — the same
    * measure-then-dispatch discipline as [[Dedup.jaccardPairs]]'
    * HeavyDfRatio, instead of a magic constant that is a no-op on one
    * corpus and wrong on another. 5·10⁷ pair instances ≈ seconds of
    * join work per executor core; at warehouse scale raise it with the
    * cluster, not the data.
    */
  val PairBudget = 50000000L

  /** Floor for the derived co-occurrence df cap: items this common or
    * rarer are never dropped, no matter how tight the budget — capping
    * below ~100 baskets would distort the similarity head, not just
    * trim the ubiquitous-item tail (whose cosine is necessarily tiny:
    * denominator √(n1·n2) ≥ cap).
    */
  val DfCapFloor = 100L

  /** The df-cap derivation as a 1-ROW PLAN over the item-degree frame:
    * over the df-value HISTOGRAM (one row per distinct basket count —
    * ≤ max-df rows, a true summary frame, never the item dimension),
    * accumulate Σdf² ascending and keep the largest df value still
    * inside [[PairBudget]], floored at [[DfCapFloor]]. The global
    * window runs over the bounded histogram frame — the
    * q_sequence_gaps/q_gini summary-window pattern. q_cooccur embeds
    * this plan as a broadcast scalar over the MATERIALIZED incidence
    * scan ([[custItems]]) — an eager driver-job derivation was measured
    * to re-execute the join+distinct incidence pipeline (~3 s at
    * sf0.1), and exchange reuse could not dedupe the in-plan copies
    * because column pruning makes them canonically unequal; reading
    * the shared file makes the extra copy a cheap scan. The oracle
    * replays the same derivation verbatim in SQL, so the query stays
    * hash-exact. This method is the SINGLE source of the derivation —
    * [[cooccurDfCap]] just executes it.
    */
  private def cooccurCapPlan(deg: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = deg.groupBy("n").agg(sum(col("n") * col("n")).as("w"))
    val cum = hist.withColumn("cw",
      sum(col("w")).over(Window.orderBy(col("n"))))
    cum.agg(greatest(
      coalesce(max(when(col("cw") <= lit(PairBudget), col("n"))),
        lit(DfCapFloor)),
      lit(DfCapFloor)).as("cap"))
  }

  /** Eagerly evaluate [[cooccurCapPlan]] — the observability hook for
    * tests and capacity planning (what cap WOULD q_cooccur run with on
    * this corpus?). The production query does not call this; it embeds
    * the same plan as a broadcast scalar.
    */
  private[ops] def cooccurDfCap(deg: DataFrame): Long =
    cooccurCapPlan(deg).head().getLong(0)

  /** Minimum shared-basket count for a co-occurrence pair. */
  val MinBoth = 3

  /** Top-N co-occurrence pairs kept (TakeOrderedAndProject — a bounded
    * per-partition heap + driver merge, never a global sort).
    */
  val CoTopN = 1000

  /** Distinct (basket, item) incidence from ORDER baskets, materialized
    * once per session ([[Scratch]]): q_assoc_rules starts from it three
    * times (support counts, pruned baskets, basket total) and the
    * copies prune different columns, so Catalyst cannot collapse them
    * via exchange reuse — without the materialization the
    * lineitem-scan+distinct chain executes once per copy. Billed as its
    * own bench entry (shared_order_baskets), like the shingle postings.
    */
  def orderItems(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"order_baskets_$dir") {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
    }

  /** Distinct (customer, item) incidence from CUSTOMER baskets — the
    * q_cooccur base, materialized for the same reason: the plan reads
    * it six times (fb's two self-join sides, deg, the df-cap scalar,
    * n1, n2) and a plan dump measured ZERO exchange reuse across the
    * copies (pruning differences make them canonically unequal), so
    * the lineitem⋈orders+distinct chain was executing per copy.
    * Billed as shared_cust_baskets.
    */
  def custItems(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, s"cust_baskets_$dir") {
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
        .distinct()
    }

  val queries: Map[String, Q] = Map(
    // Frequent item pairs + confidence/lift over order baskets.
    // Plan: one shuffle to group baskets, in-row pair enumeration,
    // one shuffle of candidate pairs to the counting aggregate; the
    // frequent-item table and the 1-row basket count broadcast.
    "q_assoc_rules" -> ((s, dir) => {
      val bi = orderItems(s, dir)
      val supp = bi.groupBy("pk").agg(count(lit(1)).as("supp"))
      val freq = supp.where(col("supp") >= MinSupp)
      val baskets = bi.join(broadcast(freq), "pk")
        .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("items"))
      val pairs = baskets.select(explode(expr(
          // for i < j over the sorted basket: (items[i], items[j])
          """flatten(transform(items, (x, i) ->
            |  transform(slice(items, i + 2, size(items)), y ->
            |    named_struct('p1', x, 'p2', y))))""".stripMargin)).as("pr"))
        .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      val counts = pairs.groupBy("p1", "p2")
        .agg(count(lit(1)).as("n_both"))
        .where(col("n_both") >= MinPair)
      val nb = bi.agg(countDistinct(col("ok")).as("n_baskets"))
      counts
        .join(broadcast(freq.select(col("pk").as("p1"), col("supp").as("s1"))), Seq("p1"))
        .join(broadcast(freq.select(col("pk").as("p2"), col("supp").as("s2"))), Seq("p2"))
        .crossJoin(broadcast(nb))
        .select(col("p1"), col("p2"), col("n_both"),
          round(col("n_both").cast("double") / col("s1"), 6).as("conf_1to2"),
          round(col("n_both").cast("double") / col("s2"), 6).as("conf_2to1"),
          round((col("n_both") * col("n_baskets")).cast("double") /
            (col("s1") * col("s2")), 6).as("lift"))
        .orderBy(col("p1"), col("p2"))
    }),

    // Item-item cosine similarity from customer baskets (who-bought-X-
    // bought-Y). Inverted incidence self-join on the customer key,
    // measured-df cap before the join, bounded top-N by unrounded
    // cosine.
    "q_cooccur" -> ((s, dir) => cooccurPairs(custItems(s, dir)))
  )

  /** The q_cooccur body over an arbitrary (basket, item) incidence —
    * split out so the Zipfian-dispatch test can inject a skewed corpus.
    * The df cap is the [[cooccurCapPlan]] broadcast scalar, derived
    * from the measured distribution inside the same plan.
    */
  private[ops] def cooccurPairs(bi: DataFrame): DataFrame = {
    val deg = bi.groupBy("pk").agg(count(lit(1)).as("n"))
    // cap applied INSIDE the broadcast build side (item-dim × 1-row
    // scalar — trivial), so the fact-side probe join keeps the exact
    // shape of a static-filtered build and the cap machinery never
    // touches the incidence table
    val degCapped = deg.crossJoin(broadcast(cooccurCapPlan(deg)))
      .where(col("n") <= col("cap")).select("pk", "n")
    val fb = bi.join(broadcast(degCapped), Seq("pk"))
      .select("ck", "pk")
    val pairs = fb.select(col("ck"), col("pk").as("p1"))
      .join(fb.select(col("ck"), col("pk").as("p2")), Seq("ck"))
      .where(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= MinBoth)
    pairs
      .join(broadcast(deg.select(col("pk").as("p1"), col("n").as("n1"))), Seq("p1"))
      .join(broadcast(deg.select(col("pk").as("p2"), col("n").as("n2"))), Seq("p2"))
      .withColumn("cos",
        col("n_both").cast("double") / sqrt((col("n1") * col("n2")).cast("double")))
      .orderBy(col("cos").desc, col("p1"), col("p2"))
      .limit(CoTopN)
      .select(col("p1"), col("p2"), col("n_both"),
        round(col("cos"), 6).as("cosine"))
  }

  val oracles: Map[String, String] = Map(
    "q_assoc_rules" ->
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |supp AS (SELECT pk, count(*) AS supp FROM bi GROUP BY 1),
         |freq AS (SELECT pk, supp FROM supp WHERE supp >= $MinSupp),
         |fbi AS (SELECT ok, bi.pk FROM bi JOIN freq USING (pk)),
         |p AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
         |  FROM fbi a JOIN fbi b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $MinPair),
         |nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM bi)
         |SELECT p1, p2, n_both,
         |  round(CAST(n_both AS DOUBLE) / s1.supp, 6) AS conf_1to2,
         |  round(CAST(n_both AS DOUBLE) / s2.supp, 6) AS conf_2to1,
         |  round(CAST(n_both * n_baskets AS DOUBLE) / (s1.supp * s2.supp), 6) AS lift
         |FROM p JOIN freq s1 ON p1 = s1.pk JOIN freq s2 ON p2 = s2.pk
         |  CROSS JOIN nb
         |ORDER BY p1, p2""".stripMargin,
    // capq replays cooccurDfCap: Σdf² cumsum over the df-value
    // histogram, largest value within PairBudget, DfCapFloor floor.
    "q_cooccur" ->
      s"""WITH bi AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |deg AS (SELECT pk, count(*) AS n FROM bi GROUP BY 1),
         |hist AS (SELECT n, sum(n * n) AS w FROM deg GROUP BY 1),
         |cum AS (SELECT n, sum(w) OVER (ORDER BY n) AS cw FROM hist),
         |capq AS (SELECT greatest(
         |  coalesce(max(CASE WHEN cw <= $PairBudget THEN n END), $DfCapFloor),
         |  $DfCapFloor) AS cap FROM cum),
         |fb AS (SELECT ck, bi.pk FROM bi JOIN deg USING (pk)
         |  WHERE n <= (SELECT cap FROM capq)),
         |p AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
         |  FROM fb a JOIN fb b ON a.ck = b.ck AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $MinBoth),
         |c AS (SELECT p1, p2, n_both,
         |  CAST(n_both AS DOUBLE) / sqrt(CAST(d1.n * d2.n AS DOUBLE)) AS cos
         |  FROM p JOIN deg d1 ON p1 = d1.pk JOIN deg d2 ON p2 = d2.pk)
         |SELECT p1, p2, n_both, round(cos, 6) AS cosine
         |FROM c ORDER BY cos DESC, p1, p2 LIMIT $CoTopN""".stripMargin
  )
}
