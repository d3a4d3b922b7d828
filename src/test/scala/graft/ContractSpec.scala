package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants for SparkEntry. */
class ContractSpec extends AnyFunSuite with SparkSpec {

  test("every oracle key has a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("inventory is complete and named q_*") {
    assert(SparkEntry.queries.size >= 50)
    assert(SparkEntry.queries.keys.forall(_.startsWith("q_")))
    // every query is oracle-checked unless deliberately rows-only
    val rowsOnly = Set("q_approx_distinct", "q_approx_quantile", "q_sim_ann",
      "q_hll_rollup")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries missing an oracle: $missing")
  }

  test("entry() smoke: rows > 0 on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Every registered query's frame at sf0.001 under the session's own
    * confs (AQE on), built ONCE: builders that iterate (every streaming
    * twin among them) execute here, so the two tests that read
    * `optimizedPlan` share one build instead of running them twice.
    */
  private lazy val aqeOnFrames: Map[String, org.apache.spark.sql.DataFrame] = {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.map { case (name, fn) => name -> named(name)(fn(spark, dir)) }
  }

  /** `f`, with any exception rethrown naming query `name` (the original
    * kept as the cause): one throwing builder fails every test that
    * reads these shared maps, and a streaming twin's trace alone names
    * only its checkpoint path.
    */
  private def named[T](name: String)(f: => T): T =
    try f catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"query $name: ${e.getMessage}", e)
    }

  test("every registered query plans and returns a non-empty schema (sf0.001)") {
    aqeOnFrames.foreach { case (name, df) =>
      assert(df.columns.nonEmpty, s"$name has no output columns")
      assert(df.queryExecution.optimizedPlan != null, s"$name failed to plan")
    }
  }

  /** Every registered query's executed plan at sf0.001, planned ONCE
    * with AQE off (a concrete plan tree — AQE wraps stages and hides
    * children from collect) plus `extra` confs, then shared by every
    * lint that needs that config; the session's confs are restored
    * before the map is returned.
    */
  private def planAll(extra: (String, String)*)
      : Map[String, org.apache.spark.sql.execution.SparkPlan] = {
    val dir = "/root/testdata/sf0.001"
    val confs = ("spark.sql.adaptive.enabled" -> "false") +: extra
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      SparkEntry.queries.map { case (name, fn) =>
        name -> named(name)(fn(spark, dir).queryExecution.executedPlan)
      }
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private lazy val aqeOffPlans = planAll()

  test("plan lint: no cartesian product, no unbounded global window") {
    // Global (partition-less) windows funnel all rows through one task.
    // Allowed only where the input is provably bounded and documented
    // at the use site: q_topk_other ranks ≤ brand-cardinality (~25)
    // pre-aggregated rows; q_batch_number prefix-sums one row per
    // shuffle partition (≤ defaultParallelism).
    // q_sequence_gaps' global window runs over the per-bucket summary
    // (keyspace/B rows), not the data — see its scaladoc bound.
    // q_mannwhitney's global window runs over the value-BUCKET summary
    // (≤ price-range/bucket-width rows), not the data — see Stats.
    // q_zipf ranks the TakeOrdered top-1000 token frame, never the
    // vocabulary or the corpus.
    // q_cooccur's global window is the df-cap cumsum over the df-value
    // HISTOGRAM (≤ max-df rows, a summary frame) — see cooccurCapPlan.
    // q_rrf_fusion ranks two TakeOrdered top-K=50 frames — each window
    // input is ≤ FusionTopK rows by construction.
    // q_cluster_balance ranks the bucket-size SUMMARY (B=√n rows, the
    // q_sequence_gaps bounded-summary contract), never the postings.
    // q_unimax's waterfill windows run over the per-LANGUAGE aggregate
    // (≤|langs| rows) — and q_epoch_expand rides the SAME shared
    // waterfill chain; q_ks_test's ecdf cumsum runs over the 20-row
    // bin summary — all the q_sequence_gaps bounded-summary contract.
    val boundedGlobalWindow = Set("q_topk_other", "q_batch_number",
      "q_sequence_gaps", "q_mannwhitney", "q_zipf", "q_cooccur",
      "q_rrf_fusion", "q_cluster_balance", "q_unimax", "q_epoch_expand",
      "q_ks_test")
    aqeOffPlans.foreach { case (name, plan) =>
      val cartesian = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cartesian.isEmpty,
        s"$name plans a non-broadcast cartesian product")
      val globalWindows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(boundedGlobalWindow(name) || globalWindows.isEmpty,
        s"$name plans a global single-partition window")
    }
  }

  test("plan lint: global sorts only as the final presentation sort") {
    import org.apache.spark.sql.execution.{SparkPlan, SortExec}
    // A global SortExec is presentation (the deterministic ORDER BY the
    // oracle compare needs) when it sits on the root path — nothing but
    // row-preserving unary nodes above it. A global sort BELOW a join,
    // aggregate, or window is a scale bug: it range-shuffles the whole
    // input to establish an order later operators destroy anyway.
    // Top-k queries must compile to TakeOrderedAndProject, never
    // sort-then-limit (CollectLimit over a global sort is allowed: it
    // IS the presentation when a limit caps the output).
    def presentationPath(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: SortExec => s +: presentationPath(s.child)
      case u if u.children.size == 1 &&
          (u.isInstanceOf[org.apache.spark.sql.execution.ProjectExec] ||
           u.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec] ||
           u.isInstanceOf[org.apache.spark.sql.execution.InputAdapter] ||
           u.isInstanceOf[org.apache.spark.sql.execution.CollectLimitExec] ||
           u.isInstanceOf[org.apache.spark.sql.execution.GlobalLimitExec] ||
           u.isInstanceOf[org.apache.spark.sql.execution.LocalLimitExec] ||
           u.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) =>
        u +: presentationPath(u.children.head)
      case other => Seq(other)
    }
    aqeOffPlans.foreach { case (name, plan) =>
      val allGlobal = plan.collect { case s: SortExec if s.global => s }
      val onRoot = presentationPath(plan)
        .collect { case s: SortExec if s.global => s }.toSet
      val buried = allGlobal.filterNot(onRoot)
      assert(buried.isEmpty,
        s"$name buries a global sort mid-plan (feeds computation, " +
          s"not presentation): ${buried.map(_.sortOrder.mkString(","))}")
    }
  }

  /** Canonically-equal exchange subtrees still present as SEPARATE
    * nodes after Spark's reuse rule ran: each one re-executes the same
    * expensive subtree (shuffle/broadcast + everything below it) — the
    * duplicate-subplan bug class (a builder helper called twice
    * instead of shared/cached defeats reuse the moment the two call
    * sites drift). With exchange reuse ON, identical subtrees collapse
    * into ReusedExchangeExec (not matched here), so anything this
    * returns is a duplicate that reuse could NOT merge — nondeterminism
    * or accidental plan drift between the copies.
    */
  private def duplicateExchanges(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ShuffleExchangeExec}
    val ex = plan.collect {
      case e: ShuffleExchangeExec => e: org.apache.spark.sql.execution.SparkPlan
      case e: BroadcastExchangeExec => e
    }
    ex.groupBy(_.canonicalized).collect {
      case (c, copies) if copies.size > 1 =>
        s"${copies.size}x ${c.nodeName}: ${c.simpleString(60)}"
    }.toSeq
  }

  test("plan lint: no duplicate expensive subtree survives exchange reuse") {
    aqeOffPlans.foreach { case (name, plan) =>
      val dups = duplicateExchanges(plan)
      assert(dups.isEmpty,
        s"$name executes the same exchange subtree twice: ${dups.mkString("; ")}")
    }
  }

  test("plan lint detector catches a seeded duplicate subtree") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val reuse = spark.conf.get("spark.sql.exchange.reuse")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // Disabling reuse simulates the failure mode where the optimizer
      // cannot merge the two copies — the detector must still see them.
      spark.conf.set("spark.sql.exchange.reuse", "false")
      def agg = Tables(spark, dir, "orders")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val seeded = agg.join(agg.withColumnRenamed("n", "n2"),
        Seq("o_orderpriority"))
      val dups = duplicateExchanges(seeded.queryExecution.executedPlan)
      assert(dups.nonEmpty, "detector missed a duplicated aggregate subtree")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.exchange.reuse", reuse)
    }
  }

  test("every registered query is declared in SURVEY.md §2") {
    // The inventory is the contract: a query that ships without a
    // SURVEY.md entry is invisible to the coverage audit (this is the
    // drift the round-4 verdict flagged for q_assoc_rules/q_cooccur/
    // q_audio_features). Word-bounded match so q_topk can't be
    // satisfied by q_topk_other.
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val missing = SparkEntry.queries.keySet.filterNot { name =>
      java.util.regex.Pattern.compile("\\b" + java.util.regex.Pattern.quote(name) + "\\b")
        .matcher(survey).find()
    }
    assert(missing.isEmpty,
      s"SURVEY.md must list every registered query; missing: ${missing.toSeq.sorted}")
  }

  /** True when `p` reaches a documents/embeddings/lineitem parquet scan
    * without passing a row-reducing node — i.e. the subtree materializes
    * a full big-table scan.
    */
  private def unreducedBigScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    val big = Seq("documents.parquet", "embeddings.parquet", "lineitem.parquet")
    p match {
      case _: FilterExec => false
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
      case _: LocalLimitExec | _: GlobalLimitExec | _: TakeOrderedAndProjectExec |
           _: CollectLimitExec => false
      case sc: FileSourceScanExec =>
        sc.dataFilters.isEmpty &&
          sc.relation.location.rootPaths.exists(rp => big.exists(rp.toString.contains))
      case other => other.children.exists(unreducedBigScan)
    }
  }

  test("plan lint: no explicit broadcast of an unreduced big-table scan") {
    // The q_ann_recall regression class (round-4 weak flag): an explicit
    // broadcast() whose build side is a full documents/embeddings/
    // lineitem scan blows the broadcast ceiling the moment the table
    // outgrows the fixture. autoBroadcastJoinThreshold=-1 isolates
    // DELIBERATE broadcast hints from the planner's small-table picks,
    // which are size-gated and self-correct at scale.
    // Exemption: q_dedup_embedding — the documented exact audit bound
    // for q_dedup_embedding_ivf, row-capped by Similarity.ExactDedupMaxRows.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val exempt = Set("q_dedup_embedding")
    planAll("spark.sql.autoBroadcastJoinThreshold" -> "-1").foreach {
      case (name, plan) if !exempt(name) =>
        val offenders = plan.collect {
          case b: BroadcastExchangeExec if unreducedBigScan(b.child) => b
        }
        assert(offenders.isEmpty,
          s"$name broadcasts a full big-table scan (build side would " +
            s"exceed the broadcast ceiling at scale): " +
            offenders.map(_.simpleString(80)).mkString("; "))
      case _ =>
    }
  }

  test("plan pins: round-5 corpus ops keep their scale shapes") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = "/root/testdata/sf0.001"
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // q_chunk_overlap is a scan-shaped operator: no join, no
      // aggregate, no window — the only shuffle is the presentation
      // sort (chunking must never cost more than the scan at 100 TB).
      val chunk = SparkEntry.queries("q_chunk_overlap")(spark, dir)
        .queryExecution.executedPlan
      assert(chunk.collect { case j: SortMergeJoinExec => j }.isEmpty &&
        chunk.collect { case j: BroadcastHashJoinExec => j }.isEmpty &&
        chunk.collect { case w: WindowExec => w }.isEmpty,
        "q_chunk_overlap must stay map-only (scan → explode → sort)")
      // q_oov_rate joins the corpus against the O(V) vocab — that join
      // must be a broadcast (an SMJ would shuffle the token stream).
      val oov = SparkEntry.queries("q_oov_rate")(spark, dir)
        .queryExecution.executedPlan
      assert(oov.collect { case j: SortMergeJoinExec => j }.isEmpty,
        "q_oov_rate's vocab join must broadcast, never sort-merge")
      assert(oov.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "q_oov_rate lost its broadcast vocab join")
      // q_contrastive_pairs ranks candidates with the bounded-heap
      // aggregate — a WindowExec ordering on pos_cos/neg_cos would mean
      // the per-anchor sort over the Σ|block|² pair stream crept back.
      // (The IVF quantizer's own bounded windows — fcos/ccos/acos over
      // anchor-sized frames — are the accepted q_sim_ann mechanism.)
      val cp = SparkEntry.queries("q_contrastive_pairs")(spark, dir)
        .queryExecution.executedPlan
      val candSorts = cp.collect {
        case w: WindowExec if w.orderSpec.exists(
          _.references.exists(a => a.name == "pos_cos" || a.name == "neg_cos")) => w
      }
      assert(candSorts.isEmpty,
        "q_contrastive_pairs must use top_k_by_score, not a window sort")
      // Round-5 weak flag, fixed in round 6: the POSITIVE side must
      // block on (anchor_id, label), never the bare label — with a
      // fixed label alphabet a label-only block grows linearly with n
      // (Σ|block|² measured 5.0× for 10× rows), while the (cell,
      // label) composition inherits the quantizer's bucket bound. Any
      // equi-join keyed on label without anchor_id is that regression.
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val labelOnlyJoins = cp.collect {
        case j: BaseJoinExec =>
          val keys = j.leftKeys.flatMap(_.references.map(_.name)).toSet
          (j, keys)
      }.filter { case (_, keys) =>
        keys.contains("label") && !keys.contains("anchor_id")
      }
      assert(labelOnlyJoins.isEmpty,
        "q_contrastive_pairs' positive side must join on (anchor_id, " +
          "label) — a label-only join key is the unbounded Σ|label|² " +
          s"block: ${labelOnlyJoins.map(_._1.simpleString(80)).mkString("; ")}")
      // Round-6 saturation guard: every IVF bucket SELF-join must key
      // on (anchor_id, shard) — an anchor-only key regresses to the
      // unbounded Σ|bucket|² product on a degenerate corpus (the
      // phash stop-band / cooccur df-cap lesson applied to the index).
      for (q <- Seq("q_sim_ann", "q_dedup_embedding_ivf",
          "q_label_propagation", "q_bitext_mine", "q_contrastive_pairs",
          "q_knn_graph")) {
        val plan = SparkEntry.queries(q)(spark, dir)
          .queryExecution.executedPlan
        val anchorOnly = plan.collect {
          case j: BaseJoinExec =>
            j.leftKeys.flatMap(_.references.map(_.name)).toSet
        }.filter(k => k.contains("anchor_id") && !k.contains("shard"))
        assert(anchorOnly.isEmpty,
          s"$q self-joins posting lists on anchor_id without the " +
            s"saturation shard: $anchorOnly")
      }
      // Round-7: SemDeDup's within-cluster self-join must key on
      // (cid, shard) — a cid-only key is the same unbounded Σ|cluster|²
      // product on a degenerate corpus (and the seed count must scale,
      // which the shared semSeedCount builder enforces by construction).
      for (q <- Seq("q_semdedup", "q_dedup_funnel")) {
        val plan = SparkEntry.queries(q)(spark, dir)
          .queryExecution.executedPlan
        val cidOnly = plan.collect {
          case j: BaseJoinExec =>
            j.leftKeys.flatMap(_.references.map(_.name)).toSet
        }.filter(k => k.contains("cid") && !k.contains("shard"))
        assert(cidOnly.isEmpty,
          s"$q self-joins SemDeDup clusters on cid without the " +
            s"saturation shard: $cidOnly")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("oracle SQL strings are DuckDB-side only (no spark-isms)") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.toLowerCase.contains("parquet."), s"$k embeds a path")
    }
  }

  test("output lint: high-scale double→DECIMAL casts are frozen to the fold whitelist") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    // The r10 red row (q_priority_estimate): routing a double through
    // CAST(... AS DECIMAL(28,6)) hash-broke against one DuckDB build —
    // double→DECIMAL conversion at high scale is not engine-portable
    // (a value needing all fractional digits sits one ulp from the
    // quantization boundary, and different builds can land on
    // different sides). The portable patterns are (a) integer /
    // micro-unit BIGINT arithmetic end to end (the r11 priority-family
    // fix), or (b) the graft.util.Exact cent discipline: DECIMAL scale
    // ≤ 2 over values that ARE exact 2-decimal quantities, where the
    // nearest-cent quantization has ~2^46 ulps of margin.
    //
    // The queries below predate the lint and use the decimal-FOLD
    // discipline for inherently real-valued math (entropy, PSI,
    // pagerank mass, DoReMi weights...): both engines cast the SAME
    // bit-identical doubles to the SAME decimal type, so the fold is
    // order-independent and the only residual exposure is conversion
    // agreement at the quantization boundary — empirical (oracle-gated
    // hash-exact every round since each landed), not proven. The set
    // is FROZEN: a new query may not add a scale ≥ 3 double→DECIMAL
    // cast — use integer units instead of growing this list.
    val foldWhitelist = Set(
      "q_bitext_mine", "q_calibration", "q_doremi_step", "q_drift_psi",
      "q_embedding_drift", "q_entropy", "q_minhash_error",
      "q_mix_temperature", "q_pagerank_step", "q_perplexity_buckets",
      "q_quality_ablate", "q_query_expansion", "q_retrieval_eval",
      "q_stream_doremi", "q_stream_drift", "q_watermark_detect", "q_zipf")
    val flagged = aqeOnFrames.toSeq.sortBy(_._1).flatMap {
      case (name, df) =>
        val plan = df.queryExecution.optimizedPlan
        val hits = plan.flatMap { node =>
          node.expressions.flatMap(_.collect {
            case c: Cast
                if c.dataType.isInstanceOf[DecimalType] &&
                  (c.child.dataType == DoubleType ||
                    c.child.dataType == FloatType) &&
                  c.dataType.asInstanceOf[DecimalType].scale >= 3 =>
              s"cast(${c.child.dataType.simpleString} as " +
                s"${c.dataType.simpleString})"
          })
        }
        if (hits.isEmpty) Seq.empty else Seq(name -> hits.distinct)
    }
    val unlisted = flagged.filterNot { case (n, _) => foldWhitelist(n) }
    assert(unlisted.isEmpty,
      s"NEW high-scale double→DECIMAL casts (make these integer-exact " +
        s"instead of whitelisting): " +
        unlisted.map { case (n, h) => s"$n: ${h.mkString(", ")}" }
          .mkString("\n  ", "\n  ", ""))
    // keep the whitelist honest: an entry that no longer casts must go
    val stale = foldWhitelist -- flagged.map(_._1).toSet
    assert(stale.isEmpty, s"whitelist entries no longer flagged: $stale")
  }
}
