package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational, Similarity, TemporalOps, TrainingOps}

/** Physical-plan regression guards: the plan SHAPES the engine's scale
  * story depends on, asserted so a refactor can't silently lose them.
  */
class PlanSpec extends AnyFunSuite {
  import TestSession._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("star join broadcasts every dimension (no fact-side shuffle for dims)") {
    val p = plan(Relational.q5RegionRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    // the only sort-merge-worthy join is lineitem⋈orders; region,
    // nation, customer, supplier must never shuffle the fact side
    assert(!p.contains("CartesianProduct"))
  }

  test("Q1 filter is pushed to the parquet scan and the schema is pruned") {
    val qe = Relational.q1PricingSummary(spark, sf).queryExecution
    val scan = qe.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate predicate must reach the scan")
    // 7 needed columns, not the full 16-column lineitem schema
    assert(!scan.contains("l_comment") && !scan.contains("l_shipmode"),
      "unused columns must be pruned from ReadSchema")
  }

  test("brute-force ANN broadcasts the query panel, never shuffles the corpus") {
    val p = plan(Similarity.qAnnBruteforce(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query panel must be the broadcast side")
  }

  test("NSW beam search scans the embeddings parquet at most twice (hop loop rides the cache)") {
    // r13 verdict finding: each of the 6 beam hops re-scanned the
    // embeddings parquet (~13 corpus reads per run). The hop loop now
    // scores against the CACHED embeddings with the bounded candidate
    // set broadcast — any regression reintroducing a per-hop file scan
    // fails here, not at 100 TB.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = Similarity.qAnnNsw(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("embeddings"))
        => s
    }
    assert(scans.length <= 2,
      s"beam search must ride the cached embeddings: ${scans.length} parquet scans")
  }

  test("as-of join is a single window pass, not a per-key loop") {
    val p = plan(TemporalOps.qAsofJoin(spark, sf))
    assert(p.contains("Window"), "union-tag formulation must use one window pass")
    assert(!p.contains("CartesianProduct"))
  }

  test("seq packing prunes the scan and windows per source shard (one exchange)") {
    val qe = TrainingOps.qSeqPacking(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      "scan must read only (doc_id, text, source)")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "exactly one shuffle — the per-source window partitioning")
    assert(!p.contains("SinglePartition"), "no global-order single-partition window")
  }

  test("hash split is map-side arithmetic plus one aggregate exchange") {
    val p = plan(TrainingOps.qHashSplit(spark, sf))
    assert(!p.contains("Window") && !p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("approx-distinct rewrite rule: session knob swaps exact distinct for HLL++") {
    val key = "spark.graft.approxDistinct"
    val exact = Relational.qDistinctAgg(spark, sf)
    assert(!exact.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"),
      "flag off (default): plan must stay exact")
    try {
      spark.conf.set(key, "true")
      val approx = Relational.qDistinctAgg(spark, sf)
      val opt = approx.queryExecution.optimizedPlan.toString
      assert(opt.contains("approx_count_distinct"),
        s"flag on: COUNT(DISTINCT) must rewrite to HLL++:\n$opt")
      assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
        "HLL++ plan must drop the exact-distinct Expand")
      // sketch estimate lands within HLL++ default error of the exact count
      val est = approx.collect().map(r => r.getLong(1)).sum.toDouble
      val ref = exact.collect().map(r => r.getLong(1)).sum.toDouble
      assert(math.abs(est - ref) / ref < 0.1, s"estimate $est vs exact $ref")
    } finally spark.conf.unset(key)
  }

  test("unigram surprisal shuffle-joins the vocabulary (corpus-scale, never broadcast)") {
    val qe = TrainingOps.qUnigramSurprisal(spark, sf).queryExecution
    // the token↔vocab join must not carry a broadcast hint — the
    // distinct-token table grows with the corpus; only the one-row
    // total is hinted
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val equiJoins = joins.filter(_.condition.exists(_.references.exists(_.name == "tok")))
    assert(equiJoins.nonEmpty, "expected the tok equi-join in the plan")
    equiJoins.foreach { j =>
      assert(j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty,
        s"vocab join must carry no broadcast hint: ${j.hint}")
    }
    // at sf0.001 Catalyst still size-gates the tiny vocab under the
    // broadcast threshold — fine (that gate is what protects 100 TB).
    // With the threshold off, nothing may force a broadcast: the plan
    // must degrade to a shuffle join.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = TrainingOps.qUnigramSurprisal(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"vocab join must shuffle once size-based broadcast is off:\n$p")
    } finally spark.conf.set(key, saved)
  }

  test("incremental near-dup band join carries no hint and shuffles once size-based broadcast is off") {
    import graft.operators.Dedup
    // the whole eval split is this query's "batch": at scale it must
    // shuffle; only Catalyst's size statistics may broadcast a small one
    val joins = Dedup.qIncrementalNeardup(spark, sf).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val bandJoins = joins.filter(_.condition.exists(_.references.exists(_.name == "bh")))
    assert(bandJoins.length == 1, s"expected the one (band, bh) equi-join: $joins")
    bandJoins.foreach { j =>
      assert(j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty,
        s"band join must carry no broadcast hint: ${j.hint}")
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = Dedup.qIncrementalNeardup(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"band join must shuffle once size-based broadcast is off:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"nothing may force a broadcast:\n$p")
    } finally spark.conf.set(key, saved)
  }

  test("bigram surprisal shuffle-joins its count tables (corpus-scale, never forced broadcast)") {
    // same contract as B9, one model up: bigram counts and history
    // counts are corpus-scale, so with the size gate off the plan must
    // degrade to shuffle joins — a forced broadcast would ship the
    // bigram vocabulary to every executor at 100 TB
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = TrainingOps.qBigramSurprisal(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"bigram count joins must shuffle once size-based broadcast is off:\n$p")
      assert(!p.contains("BroadcastHashJoin") ||
        p.linesIterator.count(_.contains("BroadcastHashJoin")) <= 1,
        s"only the one-row V may broadcast with the gate off:\n$p")
    } finally spark.conf.set(key, saved)
  }

  test("class separation broadcasts the centroid grid, never sort-merges raw vectors") {
    val p = plan(Similarity.qClassSeparation(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the (labels x dims) centroid grid must be the broadcast side")
  }

  test("pareto share reads events once and broadcasts the percentile cut") {
    // the shipped query materializes this plan then drops its cache;
    // the spec inspects the lazy plan the wrapper executes
    val (lazyPlan, perUser) = graft.operators.Validation.paretoSharePlan(spark, sf)
    val p = try plan(lazyPlan) finally perUser.unpersist()
    // the cut rides a broadcast exchange; both consumers (cut + share)
    // must read the CACHED per-user fold — an uncached plan re-scanned
    // events for the broadcast side's own copy of the aggregate.
    // (plan text prints the cache's build plan, so counting raw "Scan
    // parquet" strings overcounts; the executable proof is that every
    // consumer is an InMemoryTableScan.)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "p90 cut must broadcast")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "cut and share branches must both read the cached per-user fold")
  }

  test("weighted sample prunes per-lang candidates before the rank sort (WindowGroupLimit)") {
    val p = plan(graft.operators.TrainingOps.queries("q_weighted_sample")(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      "top-k per lang must prune pre-shuffle via WindowGroupLimit")
  }

  test("cohort LTV's cumulative window runs over the bounded cohort grid, not raw events") {
    val qe = TemporalOps.queries("q_cohort_ltv")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // the window partitions by cohort_week — never a corpus-wide
    // single partition — and its input is the aggregated weekly grid
    assert(p.contains("Window"), "cumulative sum must be a window")
    assert(!p.contains("SinglePartition"),
      "LTV window must not collapse to a single partition")
  }

  test("money sums ride unscaled Long lanes: no decimal aggregate buffer wider than 18 digits") {
    // graft.functions.Exact keeps a two-Long buffer per money sum; a
    // refactor back to sum(decimal) brings back decimal(22,2)+ buffers
    // rewritten as BigInteger bytes on every row
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.DecimalType
    val helper = new AdaptiveSparkPlanHelper {}
    val failures = Seq("q1_pricing_summary", "q3_shipping_priority", "q_rollup",
        "q5_region_revenue", "q_cube").flatMap { name =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.toRdd.count()
      val buffers = helper.collect(qe.executedPlan) { case a: BaseAggregateExec => a }
        .flatMap(_.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes))
      spark.catalog.clearCache()
      val wide = buffers.filter(_.dataType match {
        case d: DecimalType => d.precision > 18
        case _ => false
      })
      if (buffers.isEmpty) Seq(s"$name: no aggregate found in the executed plan")
      else if (wide.nonEmpty) Seq(s"$name: ${wide.map(b => s"${b.name} ${b.dataType}").mkString(", ")}")
      else Nil
    }
    assert(failures.isEmpty, s"wide decimal aggregate buffers:\n${failures.mkString("\n")}")
  }

  test("relational core: pinned exchange ceilings (a silently added shuffle fails the round it appears)") {
    // Bench now ships per-query shuffle metrics (bench_out.json
    // "shuffle"), but metrics only report — this PINS the shuffle
    // count for the relational core, so a refactor that loses a
    // broadcast or a partial aggregate fails in CI, not in a
    // benchmark diff two rounds later. Ceilings are the r13 measured
    // values (same regex device as Bench.exchangeCount).
    val ceilings = Map(
      "q1_pricing_summary" -> 1, "q3_shipping_priority" -> 1,
      "q5_region_revenue" -> 1, "q_topn_per_group" -> 1,
      "q_running_sum" -> 1, "q_rollup" -> 1, "q_cube" -> 1,
      "q_semi_join" -> 0, "q_anti_join" -> 0, "q_distinct_agg" -> 2,
      "q_pivot" -> 1, "q_percentiles" -> 1, "q_corr_stats" -> 1,
      "q_histogram" -> 1, "q_asof_join" -> 1, "q_range_join" -> 0,
      "q_hash_split" -> 1, "q_seq_packing" -> 1)
    val failures = ceilings.toSeq.sortBy(_._1).flatMap { case (name, cap) =>
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val n = Bench.exchangeCount(p)
      if (n > cap) Seq(s"$name: $n exchanges > pinned $cap") else Nil
    }
    assert(failures.isEmpty, s"exchange regressions:\n${failures.mkString("\n")}")
  }

  test("r14 wave: pinned exchange ceilings (the relational-core device extended)") {
    // measured at sf0.1 after the cache/cube fixes (SCALING.md r14
    // second wave); a lost cache or broadcast re-inflates the count
    // and fails here, not in a benchmark diff next round
    val ceilings = Map(
      "q_hard_negatives" -> 1, "q_preference_pairs" -> 1,
      "q_cohens_d" -> 4, "q_t_closeness" -> 2, "q_sprt" -> 3,
      "q_ljung_box" -> 3, "q_granger" -> 2, "q_bradley_terry" -> 4,
      "q_hurst" -> 2, "q_variance_ratio" -> 4, "q_cochran_q" -> 2,
      "q_power_mde" -> 4, "q_modularity" -> 3, "q_dataset_card" -> 3,
      "q_median_polish" -> 6,
      // r14 survival/spectral/reliability wave (measured sf0.001 ==
      // sf0.1): q_mahalanobis MUST stay at 1 — its top-k rides
      // TakeOrderedAndProject, and a second exchange means the
      // corpus-wide range-partition sort regressed back in
      "q_mase" -> 2, "q_logrank" -> 3, "q_pacf" -> 3,
      "q_periodogram" -> 7, "q_shapley_attribution" -> 8,
      "q_cronbach_alpha" -> 1, "q_mahalanobis" -> 1,
      "q_fleiss_kappa" -> 1,
      // diagnostics wave: q_cooks_distance MUST stay at 1 (its top-k
      // rides TakeOrderedAndProject, the q_mahalanobis contract)
      "q_durbin_watson" -> 4, "q_cooks_distance" -> 1,
      "q_icc" -> 2, "q_davies_bouldin" -> 3,
      // q_kendall_w pinned post-stack-rewrite: a union-shaped plan
      // re-runs the corpus aggregate per rater (measured 10 → 6,
      // single FileScan)
      "q_kendall_w" -> 6, "q_qq_normal" -> 4,
      // one shared token-stream scan + the tok shuffle-join + 4-row
      // totals broadcasts
      "q_scaling_curve" -> 6,
      // third wave: q_closeness MUST stay at 1 — the BFS loop's work
      // rides severed checkpoints, so the final plan is one grouped
      // aggregate; q_bandit_ucb pinned post-cache (9 → 4, the arms
      // frame collapsing the user→arm chain to one instantiation)
      "q_ar2_forecast" -> 3, "q_bandit_ucb" -> 4, "q_dbscan" -> 2,
      "q_stupid_backoff" -> 8, "q_closeness" -> 1,
      "q_propensity_match" -> 6,
      // fourth wave: q_gmm_em at 1 (three E-passes over one cached
      // quantized column); q_mmd_drift pinned post-cache (10 → 2 —
      // the windowed pairing frame now materializes once per split)
      "q_doc_clusters" -> 7, "q_path_centrality" -> 7, "q_gmm_em" -> 1,
      "q_blocking_quality" -> 3, "q_mmd_drift" -> 2, "q_cusum" -> 4,
      "q_clustering_agreement" -> 4,
      // fifth wave: q_seasonal_mk pinned post-cache (8 → 2 — the
      // 84-row month table aggregates once for its three consumers)
      "q_seasonal_mk" -> 2, "q_partial_corr" -> 1, "q_oaxaca" -> 3,
      // r15: triples generate map-side off the cached basket frame —
      // one basket shuffle + the triple-count shuffle, dims broadcast
      "q_freq_itemsets" -> 2,
      // r15: co/dims cached (14 → 5) — pair-count shuffle, PPMI join,
      // dim-rank window, neighbor-dot shuffle, rank window
      "q_ppmi_embed" -> 5,
      // r15: one corpus scan → cached 1,600-cell (v × pat) frame;
      // stump window + two bounded aggregates
      "q_rf_oob" -> 3,
      // r15 stats/audit wave (measured sf0.001 == sf0.01):
      // ref_integrity = 7 FK audits × (agg + anti-join); the others
      // are one-to-few corpus aggregates over bounded frames
      "q_ref_integrity" -> 20, "q_negbin_fit" -> 2, "q_cox_stuart" -> 5,
      "q_bartlett" -> 5, "q_kde" -> 4,
      // q_hits reads the persisted directed-topk store (checkpointed
      // half-steps collapse the loop; degs full-outer + 2 publish
      // joins remain)
      "q_hits" -> 7)
    val failures = ceilings.toSeq.sortBy(_._1).flatMap { case (name, cap) =>
      // count the EXECUTED adaptive plan (the Bench device): pre-AQE
      // the unmaterialized cache subtrees replay per consumer and the
      // count means nothing
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.toRdd.count()
      val n = Bench.exchangeCount(qe.executedPlan.toString)
      spark.catalog.clearCache()
      if (n > cap) Seq(s"$name: $n exchanges > pinned $cap") else Nil
    }
    assert(failures.isEmpty, s"exchange regressions:\n${failures.mkString("\n")}")
  }

  test("r16 wave: pinned exchange ceilings") {
    // measured at sf0.01 == sf0.001 post-rework (q_mood_median folded
    // onto one (seg, bin) histogram: 9 → 2; q_wilcoxon_signed's
    // tie-group algebra replaced the per-row rank window: 7 → 3)
    val ceilings = Map(
      "q_mips_ivf" -> 4, "q_unigram_lm" -> 2, "q_unigram_apply" -> 2,
      "q_hapax" -> 2, "q_mood_median" -> 2, "q_wilcoxon_signed" -> 3,
      "q_anderson_darling" -> 4, "q_atkinson" -> 1, "q_moran_i" -> 4,
      "q_gopher_rules" -> 1, "q_dsir_weights" -> 6, "q_page_trend" -> 5,
      "q_breusch_pagan" -> 2, "q_context_len" -> 1, "q_hill_tail" -> 0,
      "q_mixture_entropy" -> 5, "q_table_profile" -> 8,
      "q_leverage_audit" -> 2, "q_anisotropy" -> 5)
    val failures = ceilings.toSeq.sortBy(_._1).flatMap { case (name, cap) =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.toRdd.count()
      val n = Bench.exchangeCount(qe.executedPlan.toString)
      spark.catalog.clearCache()
      if (n > cap) Seq(s"$name: $n exchanges > pinned $cap") else Nil
    }
    assert(failures.isEmpty, s"exchange regressions:\n${failures.mkString("\n")}")
  }

  test("r17: standing top-cost composites pinned") {
    // the five most expensive plans were the least regression-protected
    // (r16 verdict ask #7) — measured sf0.001 == sf0.01 at pin time.
    // q_phash_threshold_sweep pinned POST-REWORK (31 → 4: cached
    // hash/pair frames + ONE tag-encoded clusterPairs run for all four
    // thresholds — the uncached per-point fan-out was also the r16
    // +28% drift). q_dedup_threshold_sweep tightened 6 → 4, its
    // measured value in this 4-thread harness at sf0.001 and sf0.01
    val ceilings = Map(
      "q_pipeline_e2e" -> 4, "q_clustering_agreement" -> 4,
      "q_dedup_threshold_sweep" -> 4, "q_phash_threshold_sweep" -> 4,
      // r18 re-pin after the one-scan funnel rework: the old 6 counted
      // per-gate frames AQE broadcast at toy scale; the fused form
      // reads text ONCE (was 3 scans) and exchanges the corpus-scale
      // gate frames explicitly (fp window + doc_id merge join) — the
      // only shapes that survive 100 TB, and 1.09x faster at sf0.1
      "q_curation_funnel" -> 9,
      // r17 new query (same-commit pin per the r16 discipline ask):
      // 8 exact-profile exchanges + one sketch-pass aggregate per table
      "q_table_profile_approx" -> 12)
    runCeilings(ceilings)
  }

  test("r17 wave: pinned exchange ceilings") {
    // measured sf0.001 == sf0.01 at pin time (XcDebug, both SFs)
    runCeilings(Map(
      "q_grubbs" -> 1, "q_chow_test" -> 3, "q_cliffs_delta" -> 2,
      "q_uplift" -> 2, "q_ece" -> 2, "q_kpss" -> 4,
      "q_ngram_novelty" -> 4, "q_span_corruption_plan" -> 1,
      "q_ann_binary" -> 4, "q_reciprocity" -> 3,
      // second wave (q_dunn_test pinned post-cache 11 → 4;
      // q_bipartite_stats post-cache 8 → 3, n_edges folded off the
      // part-degree sum)
      "q_dunn_test" -> 5, "q_lin_ccc" -> 2, "q_dispersion" -> 2,
      "q_arch_lm" -> 3, "q_bipartite_stats" -> 3,
      "q_ann_binary_sweep" -> 2, "q_length_lognormal" -> 1,
      // third wave (measured in the 4-thread pin harness — XcDebug
      // now defaults to the TestSession parallelism after the r17
      // harness-mismatch lesson)
      "q_ewma_chart" -> 4, "q_stl_strength" -> 4, "q_degree_gini" -> 3,
      "q_contamination_matrix" -> 2, "q_youden_threshold" -> 4))
  }

  private def runCeilings(ceilings: Map[String, Int]): Unit = {
    val failures = ceilings.toSeq.sortBy(_._1).flatMap { case (name, cap) =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.toRdd.count()
      val n = Bench.exchangeCount(qe.executedPlan.toString)
      spark.catalog.clearCache()
      if (n > cap) Seq(s"$name: $n exchanges > pinned $cap") else Nil
    }
    assert(failures.isEmpty, s"exchange regressions:\n${failures.mkString("\n")}")
  }

  test("global plan guard: a recursion step subtree never scans a corpus file (the UnionLoop hoisting lesson)") {
    // Spark's UnionLoop re-evaluates its step subtree EVERY iteration:
    // a corpus-scale derivation inlined in the recursive member re-runs
    // per hop (the round-12 q_sql_bfs measure→fix cut 5.7× at sf1 by
    // hoisting the kNN derivation to a cached view; GraphStore now
    // persists it). This promotes the convention to a guard: any file
    // scan inside a recursion step must read a persisted BOUNDED
    // artifact (the warehouse stores), never a raw corpus path — a
    // future recursive query that inlines its derivation fails here,
    // not at 100 TB with a per-hop corpus re-scan.
    import org.apache.spark.sql.catalyst.plans.logical.UnionLoop
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val warehouse = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      .toAbsolutePath.toString
    var loops = 0
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val opt = fn(spark, sf).queryExecution.optimizedPlan
      opt.collect { case ul: UnionLoop => ul }.flatMap { ul =>
        loops += 1
        ul.recursion.collect {
          case lr: LogicalRelation =>
            lr.relation match {
              case fs: HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
                  .filterNot(p => java.nio.file.Paths.get(new java.net.URI(p).getPath)
                    .toAbsolutePath.toString.startsWith(warehouse))
              case _ => Nil
            }
        }.flatten.map(p => s"$name: recursion step scans non-store path $p")
      }
    }
    assert(loops >= 1, "expected at least one UnionLoop query (q_sql_bfs)")
    assert(failures.isEmpty, s"recursion scan violations:\n${failures.mkString("\n")}")
  }

  test("global plan guard: no query plans a cartesian product or a corpus-wide single-partition window") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // Exempt global windows that run over frames BOUNDED BY
    // CONSTRUCTION (documented at each operator); everything else
    // must partition:
    //  - q_skew_report: count-of-counts histogram, never the key set
    //  - q_auc: ≤ 10⁴+1 quantized score bins, never the row stream
    //  - q_bm25: the Bm25TopK rows surviving the distributed limit
    //  - q_quality_drift: same ≤ 10⁴+1 quantized-bin device as q_auc
    //  - q_vocab_coverage: count-of-counts histogram, never the vocab
    //  - q_kaplan_meier: duration-HOUR table, bounded by the
    //    observation window length in hours, never the user count
    //  - q_changepoint: daily-volume table, bounded by the window
    //    length in days, never the event count
    //  - q_fdr_bh: BH ranking over the tested-cell table, bounded at
    //    |event types| x 4 cohorts, never the event count
    //  - q_mutual_info: rank over the 64-row dim table, never the corpus
    //  - q_skyline: the exact sweep runs over grid-pruned candidates
    //    only (output-scale, not corpus-scale — see qSkyline doc)
    //  - q_runs_test: sign sequence over the bounded day table (the
    //    q_changepoint class)
    //  - q_mannwhitney: cumulative window over the hundred-dollar
    //    price-bin histogram, domain-bounded ≤ ~5,500 bins at any
    //    corpus size (the q_auc quantized-bin device)
    //  - q_ks_test: same hundred-dollar-bin histogram, two inclusive
    //    ECDF windows over ≤ ~5,500 rows
    //  - q_hodges_lehmann: weighted-median window over the
    //    bin-difference table, ≤ ~1,101 rows by the $1k bin domain
    //  - q_drawdown / q_bollinger: cumulative / trailing windows over
    //    the bounded day table (the q_changepoint class)
    //  - q_spearman: midrank windows over the two marginal bin
    //    histograms (≤ 110 and ≤ ~6,000 rows by the $100 bin domain)
    //  - q_kruskal_wallis: cumulative window over the same hundred-
    //    dollar price-bin histogram as q_mannwhitney
    //  - q_nelson_aalen: duration-hour table, bounded by the
    //    observation window length in hours (the q_kaplan_meier class)
    val windowExempt = Set("q_skew_report", "q_auc", "q_bm25", "q_quality_drift",
      "q_vocab_coverage", "q_kaplan_meier", "q_changepoint", "q_fdr_bh",
      "q_mutual_info", "q_skyline", "q_runs_test", "q_mannwhitney",
      "q_ks_test", "q_hodges_lehmann", "q_drawdown", "q_bollinger",
      // r15 driver-bisect column split (decimal probe retired r16)
      "q_bollinger_iv",
      "q_stl_trend", "q_stl_seasonal", "q_stl_remainder",
      "q_spearman", "q_kruskal_wallis", "q_nelson_aalen",
      // cumulative sweep over the ≤ 50-row quantity histogram
      "q_decision_stump",
      // cumulative deviation/min windows over the bounded day table
      // (the q_changepoint class)
      "q_page_hinkley",
      // rank windows over the two ≤ Bm25TopK-row retrieval lists
      // surviving distributed limits (the q_bm25 class)
      "q_hybrid_rrf",
      // trailing moment windows over the bounded day table
      // (the q_changepoint class)
      "q_rolling_corr",
      // centered 7-day MA window over the bounded day table
      // (the q_changepoint class)
      "q_stl_decompose",
      // per-round cumulative sweeps over the ≤ 50-row quantity
      // histogram (the q_decision_stump class, twice)
      "q_gbt_stumps",
      // lag/cumsum windows over the bounded day table
      // (the q_changepoint class)
      "q_granger", "q_sprt", "q_variance_ratio",
      // final rank over the ≤ |brands| strength table
      "q_bradley_terry",
      // MAD-fence rank over the 35-cell polish grid
      "q_median_polish",
      // step-down ranking over the same |event types|×4-bounded
      // p-value battery as q_fdr_bh (already exempt above)
      "q_holm", "q_fdr_by",
      // lag/row_number windows over the bounded day table
      // (the q_changepoint class)
      "q_mase",
      // cumulative at-risk window over the duration-hour grid
      // (the q_kaplan_meier class)
      "q_logrank",
      // is_peak max window over the 4-row candidate-period table
      // (bounded by the literal period list, never the corpus)
      "q_periodogram",
      // residual lag window over the bounded day table
      // (the q_changepoint class)
      "q_durbin_watson",
      // order-statistic rank window over the bounded day table
      // (the q_changepoint class)
      "q_qq_normal",
      // r15: row_number index over the bounded day table
      // (the q_changepoint class)
      "q_cox_stuart",
      // r15: lag/lead over the bounded day table (q_changepoint class)
      "q_turning_points",
      // r15: cumulative window over the bounded $100-bin histogram
      // (the q_mannwhitney class)
      "q_lorenz_curve", "q_cvm_test",
      // r16: cumulative windows over the bounded $100-bin histogram
      // (q_mannwhitney class) / the bounded $1 |d|-gap grid
      "q_mood_median", "q_anderson_darling", "q_wilcoxon_signed",
      // r16: rank window over the limit(201) top-k frame — bounded by
      // the literal k, never the corpus
      "q_hill_tail",
      // r17: cumulative window over the bounded $100-bin histogram
      // (q_mannwhitney class)
      "q_cliffs_delta",
      // r17: cumsum/lag windows over the bounded day table
      // (the q_changepoint class; q_stl_strength rides the exempt
      // stlFrame's centered-MA window)
      "q_kpss", "q_arch_lm", "q_stl_strength",
      // r17: suffix-cumulative + argmax windows over the bounded
      // 4-dp score-bin histogram (the q_decision_stump class)
      "q_youden_threshold",
      // r17: cumulative window over the ≤K-value degree histogram
      "q_degree_gini")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // pre-AQE physical plan: traversable with plain collect (the
      // AQE wrapper hides its initial plan from TreeNode traversal,
      // and collectWithSubqueries chokes on not-yet-planned logical
      // subqueries at this stage)
      val plan = fn(spark, sf).queryExecution.sparkPlan
      val cart = plan.collect { case c: CartesianProductExec => c }
      val spw =
        if (windowExempt(name)) Nil
        else plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
        }
      (if (cart.nonEmpty) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (spw.nonEmpty) Seq(s"$name: single-partition window") else Nil)
    }
    assert(failures.isEmpty, s"plan guard violations:\n${failures.mkString("\n")}")
  }

  test("global plan guard: every ungrouped exact percentile consumes a bounded (integer or rounded) domain") {
    // SURVEY §5: Spark's exact Percentile buffers one counter per
    // DISTINCT value in one task when ungrouped — safe only when the
    // input domain is bounded by construction. The invariant was
    // implicit (every current use feeds integer counts or rounded
    // scores); this guard makes it load-bearing: a future operator
    // feeding raw doubles into the same device fails here, not at
    // 100 TB with an OOM'd task.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    import org.apache.spark.sql.catalyst.expressions.{Cast, Round}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val analyzed = fn(spark, sf).queryExecution.analyzed
      analyzed.collect { case a: Aggregate if a.groupingExpressions.isEmpty =>
        a.aggregateExpressions.flatMap(_.collect {
          case p: Percentile =>
            // strip output casts; accept an integral domain or any
            // explicit quantization (Round) inside the input chain
            def core(e: org.apache.spark.sql.catalyst.expressions.Expression)
                : org.apache.spark.sql.catalyst.expressions.Expression =
              e match { case c: Cast => core(c.child); case other => other }
            val child = core(p.children.head)
            val integral = child.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case _ => false
            }
            val ok = integral || child.exists(_.isInstanceOf[Round])
            if (ok) None else Some(s"$name: ungrouped percentile over ${child.dataType} input `${child.sql.take(80)}`")
        }.flatten)
      }.flatten
    }
    assert(failures.isEmpty,
      s"unquantized ungrouped exact percentile (SURVEY §5):\n${failures.mkString("\n")}")
  }

  test("whole-stage codegen covers the relational core") {
    import org.apache.spark.sql.execution.ExplainMode
    val p = Relational.q1PricingSummary(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), "Q1 must stay inside codegen")
  }
}
