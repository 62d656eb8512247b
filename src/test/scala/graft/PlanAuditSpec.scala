package graft

import graft.operators.GlobalOrder

/** Executable plan audits for the continuation-batch queries — the shapes
  * BENCH.md claims, asserted on the optimized physical plan so a future
  * refactor can't silently regress them (a query that still returns the
  * right rows through a cartesian product would pass the oracle gate and
  * be a scale-killer at 100 TB).
  */
class PlanAuditSpec extends SparkSpec {

  /** The final frame's physical plan from the suite's one registry build. */
  private def planOf(name: String): String = RegistrySweep.records(name).plan

  /** `body` over a build of this test's own, its pins released after. */
  private def released[T](body: => T): T =
    try body finally GlobalOrder.release(blocking = true)

  test("declared path installs the heap rewrite on a vanilla session") {
    // SparkEntry.queries wraps every fn in GraftRuntime.ensure so the
    // driver's own Verify/Bench sessions — built WITHOUT withExtensions —
    // still plan per-group top-k through the heap operator. A fresh
    // newSession() has empty experimental hooks, so this fails if the
    // wrapper is ever dropped.
    val vanilla = spark.newSession()
    assert(vanilla.experimental.extraStrategies.isEmpty &&
      vanilla.experimental.extraOptimizations.isEmpty,
      "newSession() was expected to start with no experimental hooks")
    for (name <- Seq("q_topk_heap", "q_ann_recall", "q_ivf_recall",
        "q_pq_recall", "q_ivfpq_recall", "q_knn_graph")) {
      val plan = released(SparkEntry.queries(name)(vanilla, sf)
        .queryExecution.executedPlan.toString)
      assert(plan.contains("TopKPerGroup"),
        s"$name did not plan through the heap operator on a vanilla session:\n$plan")
    }
  }

  test("q_dedup_keep_best: survivor selection plans through the heap operator") {
    // the per-cluster top-1 (longest text, tie lowest id) is written as
    // row_number()==1 — the rewrite must turn it into the heap operator,
    // not a per-cluster sort
    val plan = planOf("q_dedup_keep_best")
    assert(plan.contains("TopKPerGroup"),
      s"survivor selection did not use the heap operator:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_rfm: no partitionless ntile window survives the GlobalOrder rewrite") {
    // three global quartiles used to be ntile(4) OVER (ORDER BY …) — a
    // single-task funnel at scale (WindowExec warns "No Partition
    // Defined"). They now go through GlobalOrder; if anyone reintroduces
    // the window form, this fails.
    val plan = planOf("q_rfm")
    assert(!plan.contains("ntile"), s"q_rfm plans a global ntile window:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"q_rfm lost the range-repartition global order:\n$plan")
  }

  test("q_global_order: range exchange + id-encoded local position, no data-sized global window") {
    val plan = planOf("q_global_order")
    assert(plan.contains("rangepartitioning"), s"no range exchange:\n$plan")
    assert(plan.contains("monotonically_increasing_id"),
      s"local position not id-encoded:\n$plan")
    // the only permitted global window is the prefix-sum over the
    // per-partition counts (an aggregate of ≤ numShufflePartitions rows);
    // the rank itself must never come from a row_number window at all
    assert(!plan.contains("row_number"),
      s"global row_number window present:\n$plan")
  }

  test("q_epoch_mix: rate table broadcasts; repeats explode without a shuffle") {
    val plan = planOf("q_epoch_mix")
    assert(plan.contains("BroadcastHashJoin"), s"rates not broadcast:\n$plan")
    assert(plan.contains("Generate explode"), s"repeat explode missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_color_map: the file-backed color dim is a broadcast join") {
    val plan = planOf("q_color_map")
    assert(plan.contains("BroadcastHashJoin"), s"color dim not broadcast:\n$plan")
  }

  test("q_line_dedup: both dedup stages shuffle on their keys (line, then doc_id)") {
    val plan = planOf("q_line_dedup")
    assert(plan.contains("hashpartitioning(line#"),
      s"keep-first window not keyed on line text:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id#"),
      s"reassembly not keyed on doc_id:\n$plan")
  }

  test("q_embed_dedup_adaptive: native sig projection, equi-join candidates, anti-join survivors") {
    // the declared query's final plan starts at the connected-components
    // checkpoint (lineage deliberately severed), so the LSH stages are
    // audited on the pair generator they actually run through
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val pairs = released(graft.functions.Similarity.adaptiveNearDupPairs(emb, 0.95, 0.9999)
      .queryExecution.executedPlan.toString)
    assert(pairs.contains("hyperplane_sigs"),
      s"signature stage not the native expression:\n$pairs")
    // keyed on (band, sig) — shuffled at scale, broadcast on the tiny
    // fixture (AQE's call); either way the join keys are the audit
    assert(pairs.contains("hashpartitioning(band#") ||
      pairs.contains("BroadcastHashJoin [band#"),
      s"candidate join not keyed on (band, sig):\n$pairs")
    val plan = planOf("q_embed_dedup_adaptive")
    assert(plan.contains("LeftAnti"), s"survivor filter not an anti-join:\n$plan")
  }

  test("q_incremental_dedup: index probe is a semi-join, drops are anti-joins") {
    // the registry form caches its twice-consumed stages, which hides
    // the inner joins behind InMemoryTableScans in the final plan — so
    // the full shape is audited on the uncached form, and the registry
    // plan is only required to keep the final anti-join drop
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val index = operators.DedupOps.lshBuckets(
      operators.DedupOps.minhashSignature(base, "doc_id", "text", 4, shingleN = 3),
      "doc_id", 4, 2)
    val uncached = released(operators.DedupOps
      .dedupAgainstIndex(batch, index, "doc_id", 4, 2, materialize = false)
      .queryExecution.executedPlan.toString)
    assert(uncached.contains("LeftSemi"), s"index probe not a semi-join:\n$uncached")
    assert(uncached.contains("LeftAnti"), s"dup drop not an anti-join:\n$uncached")
    assert(planOf("q_incremental_dedup").contains("LeftAnti"))
  }

  test("no declared query plans a CartesianProduct") {
    // brute-force baselines use broadcast nested loop ON PURPOSE (small
    // side broadcast); an unbroadcast cartesian product is never intended,
    // in the final plan or in any eager job the build runs
    val cartesian = RegistrySweep.records.collect { case (n, r) if r.cartesian => n }
    assert(cartesian.isEmpty, s"queries planning a CartesianProduct: ${cartesian.toSeq.sorted}")
  }

  test("every join hint changes its query's plan at bench scale or at 1 KB") {
    // a broadcast / shuffle_hash hint stays only where turning hints off
    // changes the executed plan at the default broadcast threshold or at
    // 1 KB, which stands in for scale (no data-derived frame broadcasts
    // by size below it). Both sides are re-planned with AQE off: its
    // initial plan is this plan.
    val redundant = RegistrySweep.hintsOffReplans.collect {
      case (name, off) if RegistrySweep.records(name).replans == off => name
    }.toSeq.sorted
    assert(redundant.isEmpty, s"${redundant.size} queries whose join hints change no " +
      s"plan at the default threshold or at 1 KB: ${redundant.mkString(", ")}")
  }

  test("partitionless windows appear only in the documented bounded-domain queries") {
    // a window with no partition spec funnels its whole input through one
    // task — fatal at scale UNLESS the input is provably bounded, in the
    // final plan and in every eager job the build runs alike. The
    // whitelist: GlobalOrder's prefix-sum over ≤ #shuffle-partitions rows
    // (q_global_order, q_equidepth_hist, q_rfm), the skyline's |buckets|-
    // row cummax, and the KS ECDF over the bounded integer-cents domain.
    // Any new registry entry that plans a global window must either join
    // this list with a boundedness argument or be rewritten.
    // q_cume_distinct: prefix sum over the day-grain aggregate — ≤ #days
    // rows, bounded by the calendar, never by data volume
    // q_ppl_buckets: GlobalOrder's same ≤ #shuffle-partitions prefix-sum
    // (the tertile assignment itself is the range-shuffle closed form)
    // q_zipf_fit: GlobalOrder's prefix-sum again (vocab ranking)
    // q_token_budget: withRunningTotal's offset prefix-sum — same
    // ≤ #shuffle-partitions bound as the GlobalOrder family
    // q_length_batching: withGlobalRowNumber's offset prefix-sum again
    // (batch/bucket assignment itself is closed-form arithmetic)
    // q_time_to_convert: withGlobalRowNumber's ≤ #shuffle-partitions
    // offset prefix-sum (the duration rank itself rides the range
    // shuffle since the round-10 rewrite)
    // q_vocab_coverage: withGlobalRowNumber's ≤ #shuffle-partitions
    // prefix-sum (vocab rank itself is the range-shuffle closed form)
    val allowed = Set("q_global_order", "q_equidepth_hist", "q_rfm",
      "q_skyline", "q_ks_test", "q_cume_distinct", "q_ppl_buckets",
      "q_zipf_fit", "q_token_budget", "q_length_batching",
      "q_time_to_convert", "q_vocab_coverage",
      // q_activity_concentration: withGlobalNtile's prefix-sum (decile
      // assignment itself is the range-shuffle closed form)
      "q_activity_concentration",
      // q_quantile_drift: withGlobalRowNumber's prefix-sum (per-half
      // ranks are the one range shuffle minus a broadcast offset)
      "q_quantile_drift",
      // q_trimmed_mean: withGlobalRowNumber's prefix-sum + the per-type
      // offset window over the |event types|-row count table (post-agg,
      // bounded by the type domain, never by data volume)
      "q_trimmed_mean",
      // q_spearman: two withGlobalRowNumber prefix-sums (one rank pass
      // per signal)
      "q_spearman",
      // q_repurchase_interval: withGlobalRowNumber's offset prefix-sum
      // (the gap rank rides the range shuffle since the round-10
      // rewrite; the remaining global windows are the lag over user_id
      // partitions — partitioned — and the bounded offset table)
      "q_repurchase_interval",
      // q_volume_concentration: withRunningTotal + withGlobalRowNumber
      // offset prefix-sums — both over the ≤ #shuffle-partitions tables
      // (the part ranking itself is the range-shuffle closed form)
      "q_volume_concentration",
      // q_decile_lift: withGlobalNtile's offset prefix-sum, same
      // ≤ #shuffle-partitions bound
      "q_decile_lift",
      // q_norm_outliers: withGlobalRowNumber's offset prefix-sum (the
      // median rank itself is the range-shuffle closed form)
      "q_norm_outliers",
      // q_type_percentiles: q_trimmed_mean's exact machinery — the
      // offset window runs over the |event types|-row count table
      "q_type_percentiles",
      // q_rrf_fusion: rank windows over the two ≤100-row top-k candidate
      // lists (each arm ends in a TakeOrderedAndProject LIMIT 100 before
      // its window — bounded by construction, the production RRF shape)
      "q_rrf_fusion",
      // q_mannwhitney: withRunningTotal's offset prefix-sum, same
      // ≤ #shuffle-partitions bound as the GlobalOrder family
      "q_mannwhitney",
      // q_changepoint: running sum + row_number over the day-grain count
      // table — ≤ #days rows, bounded by the calendar (q_cume_distinct
      // convention)
      "q_changepoint",
      // q_bootstrap_ci: rank over the 40-row replicate-mean table —
      // bounded by the replicate count, never by data volume
      "q_bootstrap_ci",
      // q_survival_km: running sums over the distinct-event-time table —
      // hour-grain, calendar-bounded (q_cume_distinct convention)
      "q_survival_km",
      // q_propensity_strat: withGlobalNtile's offset prefix-sum, same
      // ≤ #shuffle-partitions bound as the GlobalOrder family
      "q_propensity_strat",
      // q_stump_split: running sums over the 32-row feature histogram —
      // bounded by the bin count, never by data volume
      "q_stump_split",
      // q_gain_chart: withGlobalNtile's offset prefix-sum + the
      // cumulative pass over the 10-row decile table
      "q_gain_chart",
      // q_theilsen: day indexing + pair-slope rank over the CALENDAR-
      // bounded day series (≤ #days rows / C(#days, 2) pairs after one
      // map-combined grouped count — the q_changepoint convention)
      "q_theilsen",
      // q_wasserstein: ECDF cumulatives + lead over the bounded
      // integer-cents value domain (the q_ks_test argument)
      "q_wasserstein",
      // q_roc_auc: cumulative FP pass over the range-bounded score
      // histogram (score = cents-rounded value + bounded jitter ⇒ the
      // grouped frame is the score DOMAIN, never the event count)
      "q_roc_auc",
      // q_key_skew: rank window runs AFTER the sort-limit top-10 —
      // 10 rows by construction
      "q_key_skew",
      // q_macro_f1: macro-average window runs over the per-CLASS F1
      // frame — ≤ 3 rows (the label domain), never the event count
      "q_macro_f1",
      // q_woe_iv: IV-total window runs over the 10 fixed WOE bins —
      // bounded by the bin count, never by data volume
      "q_woe_iv",
      // q_concurrency_sweep: the sweep-line cumulative runs over the
      // ≤ 745-slot hour calendar after the delta aggregation — bounded
      // by the calendar, never by data volume (q_changepoint convention)
      "q_concurrency_sweep",
      // q_burn_rate: the 6-hour rolling frame slides over the ≤ 744-slot
      // hour calendar after one map-combined grouped count — bounded by
      // the calendar, never by data volume (q_changepoint convention)
      "q_burn_rate",
      // q_abc_class: withRunningTotal's offset prefix-sum, same
      // ≤ #shuffle-partitions bound as the GlobalOrder family (the
      // cumulative-revenue ranking itself rides the range shuffle)
      "q_abc_class",
      // q_fdr_bh: the BH rank/kmax windows run over the per-event-type
      // p-value frame — ≤ |types| rows (the type domain), never the
      // event count (q_macro_f1 convention)
      "q_fdr_bh",
      // q_stl_lite: the centered 7-day trend window slides over the
      // ≤ #days calendar frame after one map-combined grouped count
      // (q_changepoint convention)
      "q_stl_lite",
      // q_msprt: the cumulative / running-max windows ride the ≤ #days
      // daily-checkpoint frame after one map-combined daily-arm
      // aggregate (q_changepoint convention)
      "q_msprt",
      // q_granger: the lag-1 window rides the ≤ #days daily frame after
      // one map-combined conditional-count aggregate (q_changepoint
      // convention)
      "q_granger",
      // q_seasonal_index: the 2×12 centered-MA windows ride the ≤ #months
      // calendar frame after one map-combined grouped sum (q_changepoint
      // convention)
      "q_seasonal_index",
      // q_weibull_fit: the ECDF cumulative runs over the ≤ ~42-bucket
      // log2 gap domain after one grouped count (q_ks_test argument)
      "q_weibull_fit",
      // q_abc_xyz: withRunningTotal's offset prefix-sum, same
      // ≤ #shuffle-partitions bound as the GlobalOrder family
      "q_abc_xyz",
      // q_coverage_curve: withGlobalRowNumber's ≤ #shuffle-partitions
      // prefix-sum (vocab rank rides the range shuffle — q_zipf_fit
      // convention)
      "q_coverage_curve",
      // q_exp_gof: the ECDF cumulative runs over the ≤ ~42-bucket log2
      // gap domain after one grouped count (q_weibull_fit convention)
      "q_exp_gof",
      // q_kruskal_wallis: the midrank cumulative runs over the ≤50-value
      // quantity domain after one grouped count (q_mannwhitney argument)
      "q_kruskal_wallis",
      // q_runs_test: the median row_number and the run-boundary lag both
      // ride the ≤ #days calendar frame after one map-combined daily sum
      // (q_changepoint convention)
      "q_runs_test",
      // q_hurst: the day-index row_number rides the ≤ #days calendar
      // frame after one map-combined daily sum; the R/S cumulatives are
      // all (w, block)-partitioned (q_changepoint convention)
      "q_hurst",
      // q_control_chart / q_dickey_fuller: one moving-range/lag pass
      // over the ≤ #days calendar frame after one map-combined daily
      // sum (q_changepoint convention)
      "q_control_chart", "q_dickey_fuller",
      // q_rank_stability: the half-sample re-rank row_numbers run on the
      // two 20-row TopK outputs, bounded by the limit that precedes them
      "q_rank_stability",
      // q_holm_bonferroni: rank/kfail windows over the |types|-row
      // p frame (q_fdr_bh convention)
      "q_holm_bonferroni",
      // q_conformal: withGlobalRowNumber's ≤ #shuffle-partitions
      // prefix-sum (q_coverage_curve convention)
      "q_conformal",
      // q_hub_robustness: withGlobalRowNumber's ≤ #shuffle-partitions
      // prefix-sum for the hub rank (q_coverage_curve convention)
      "q_hub_robustness",
      // q_ransac_fit: the day-index row_number and moving-range lag ride
      // the ≤ #days calendar frame (q_control_chart convention)
      "q_ransac_fit",
      // q_nelson_aalen / q_rmst: running sums + lead over the distinct-
      // event-time table — hour-grain, calendar-bounded (q_survival_km
      // convention; q_logrank's at-risk windows are group-PARTITIONED)
      "q_nelson_aalen", "q_rmst",
      // q_durbin_watson: the day-index row_number and residual lag ride
      // the ≤ #days calendar frame after one map-combined daily sum
      // (q_control_chart convention)
      "q_durbin_watson",
      // q_rbo: the two rank windows run AFTER sort-limit top-20s —
      // 20 rows by construction (q_rank_stability convention)
      "q_rbo",
      // q_gbm_round: the two split-search running sums ride the ≤ 24 /
      // ≤ 31-row feature-domain histograms after map-combined passes
      // (q_stump_split convention)
      "q_gbm_round",
      // q_km_ci: the ln-S and Greenwood running sums ride the distinct-
      // event-time table — hour-grain, calendar-bounded (q_survival_km
      // convention)
      "q_km_ci",
      // q_chow_test / q_cooks_distance / q_breusch_pagan: the shared
      // day-index row_number rides the ≤ #days calendar frame after one
      // map-combined daily sum (q_durbin_watson convention)
      "q_chow_test", "q_cooks_distance", "q_breusch_pagan",
      // q_kupiec_pof: the train-half ECDF cumulative runs over the
      // bounded integer-cents value domain (q_ks_test argument)
      "q_kupiec_pof",
      // q_page_hinkley: all running sums/mins ride the ≤ #days calendar
      // frame after one map-combined daily aggregate (q_changepoint
      // convention)
      "q_page_hinkley",
      // q_gini_customer: withGlobalRowNumber's ≤ #shuffle-partitions
      // offset prefix-sum (the revenue rank itself rides the range
      // shuffle — q_coverage_curve convention)
      "q_gini_customer",
      // q_huber_step: the shared dailyIdx day-index row_number rides
      // the ≤ #days calendar frame after one map-combined daily sum
      // (q_durbin_watson convention)
      "q_huber_step",
      // q_zonemap_prune: two withGlobalNtile offset prefix-sums (one
      // per layout), same ≤ #shuffle-partitions bound as the
      // GlobalOrder family — the file assignment itself rides the two
      // range shuffles
      "q_zonemap_prune",
      // q_kpss: partial sums over the ≤ #days calendar frame after one
      // map-combined daily sum (q_changepoint convention)
      "q_kpss",
      // q_sax_motifs: tertile + four-lead windows over the ≤ #days
      // calendar frame after one map-combined daily count
      // (q_changepoint convention)
      "q_sax_motifs",
      // q_rolling_slope / q_turning_points: 30-row moment frames and
      // lag/lead over the ≤ #days calendar frame after one map-combined
      // daily sum (q_changepoint convention)
      "q_rolling_slope", "q_turning_points",
      // q_wilcoxon: the |d| rank rides the ≤ #days calendar frame after
      // one map-combined daily conditional sum (q_changepoint
      // convention)
      "q_wilcoxon")
    val offenders = for {
      (name, r) <- RegistrySweep.records.toSeq.sortBy(_._1)
      if !allowed(name) && r.windows.nonEmpty
    } yield s"$name plans ${r.windows.size} partitionless window(s):\n${r.windows.mkString("\n")}"
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
  }

  test("q_time_to_convert / q_repurchase_interval: percentile ranks ride the range shuffle") {
    // both used to rank their user-scaled frame through a partitionless
    // row_number window (single-task funnel); since round 10 the rank is
    // GlobalOrder's two-phase range shuffle and the percentile edge
    // ranks broadcast-join back from the one-row count
    for (name <- Seq("q_time_to_convert", "q_repurchase_interval")) {
      val plan = planOf(name)
      assert(plan.contains("rangepartitioning"),
        s"$name lost the range-shuffle global rank:\n$plan")
      assert(!plan.contains("row_number"),
        s"$name ranks through a row_number window again:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$name percentile edge ranks not broadcast:\n$plan")
    }
  }

  test("graph family consumes the published artifact — no per-order self-join at query time") {
    // copurchaseGraph is a build-once parquet artifact since round 10:
    // the C(lines,2) per-order self-join runs at artifact build, so the
    // three consumers' QUERY plans must scan stored (p1, p2, w)/(p, deg)
    // tables and never touch lineitem's order key again
    for (name <- Seq("q_kcore", "q_assortativity", "q_link_predict")) {
      val plan = planOf(name)
      assert(!plan.contains("l_orderkey"),
        s"$name re-derives the co-purchase graph from lineitem:\n${plan.take(3000)}")
      assert(plan.contains("Scan parquet"),
        s"$name does not scan the stored artifact:\n${plan.take(2000)}")
    }
  }

  test("dup-report family consumes the cluster-label artifact — no LSH chain at query time") {
    // corpusAndClusters publishes the MinHash-LSH + star-contraction
    // labels as a parquet artifact since round 10: consumer plans must
    // scan stored (id, cluster) rows with NO shingle explode (Generate)
    // anywhere — the signature stage runs only at artifact build
    for (name <- Seq("q_dedup_corpus", "q_dedup_keep_best")) {
      val plan = planOf(name)
      assert(!plan.contains("Generate"),
        s"$name re-runs the shingle/LSH stage at query time:\n${plan.take(3000)}")
      assert(plan.contains("Scan parquet"),
        s"$name does not scan the stored cluster artifact:\n${plan.take(2000)}")
    }
  }

  test("q_incremental_dedup: base side is a stored index scan, never a re-shingled corpus") {
    // incrementalBaseIndex publishes the base split's (doc_id, band,
    // bucket) LSH index as a parquet artifact since round 12 — the
    // query-time plan must scan the stored index (a path under the
    // graft_artifacts temp root) and the only documents scans left are
    // the three batch branches; a fourth scan means the base side is
    // being re-shingled at query time
    val plan = planOf("q_incremental_dedup")
    assert(plan.contains("graft_artifacts"),
      s"base index not read from the stored artifact:\n${plan.take(3000)}")
    // every legitimate documents scan is a BATCH branch (doc_id % 5 = 0,
    // % 5 ≠ 0 ∧ % 7 = 0, or % 15 = 0); a scan filtered to the bare base
    // split (NOT % 5 without the % 7 conjunct) means the base side is
    // being re-shingled at query time. Cached subtrees repeat scans in
    // the dump, so match per FileScan line, not by count.
    val baseRescan = plan.linesIterator.filter(_.contains("documents.parquet"))
      .filter(l => l.contains("NOT") && l.contains("% 5"))
      .filterNot(_.contains("% 7")).toSeq
    assert(baseRescan.isEmpty,
      s"base split re-scanned at query time:\n${baseRescan.mkString("\n")}")
  }

  test("lpa family consumes the published label artifact — no 4-round build at query time") {
    // lpaLabels is a build-once parquet artifact since round 12: the
    // iterative adjacency-join + rank-window rounds run at artifact
    // build, so consumer plans scan stored (u, label) rows with no
    // row_number window anywhere
    for (name <- Seq("q_label_prop", "q_conductance")) {
      val plan = planOf(name)
      assert(plan.contains("graft_artifacts"),
        s"$name does not scan the stored LPA label artifact:\n${plan.take(3000)}")
      assert(!plan.contains("row_number"),
        s"$name re-runs the LPA rank window at query time:\n${plan.take(3000)}")
    }
  }

  test("nb family consumes the published score artifact — no train tokenize at query time") {
    // nbScores publishes the scored (doc, class) frame since round 12:
    // the confusion matrix and the labeling queue must read stored rows
    // with no token explode (Generate) anywhere — train+score runs only
    // at artifact build
    for (name <- Seq("q_nb_classify", "q_uncertainty_sample")) {
      val plan = planOf(name)
      assert(plan.contains("graft_artifacts"),
        s"$name does not scan the stored NB score artifact:\n${plan.take(2000)}")
      assert(!plan.contains("Generate"),
        s"$name re-tokenizes at query time:\n${plan.take(3000)}")
    }
  }

  test("link-prediction family consumes the capped-adjacency artifact") {
    // the per-node top-256 rank window runs once at artifact build; the
    // three consumers' plans must scan stored (p, q) rows without a
    // row_number window over the full adjacency
    for (name <- Seq("q_link_predict", "q_adamic_adar", "q_clustering_coeff")) {
      val plan = planOf(name)
      assert(plan.contains("graft_artifacts"),
        s"$name does not scan the stored capped adjacency:\n${plan.take(2000)}")
      assert(!plan.contains("row_number"),
        s"$name re-runs the cap rank window at query time:\n${plan.take(3000)}")
    }
  }

  test("q_link_predict: wedges stay equi-joins over the stored capped adjacency") {
    val plan = planOf("q_link_predict")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"wedge generation fell off the equi-join path:\n$plan")
    // the cap itself is plan-audited at the artifact level: the build
    // path's window must stay p-keyed (never partitionless)
    val build = released(graft.operators.Release.cappedAdjacencyRaw(spark, sf)
      .queryExecution.executedPlan.toString)
    assert(build.contains("hashpartitioning(p#"),
      s"top-m neighbor cap is not keyed on the node:\n$build")
  }

  test("inference family: single-pass map-combined moment aggregates, no UDFs") {
    // the distributed-training/experimentation pattern: compute scales
    // with rows, only a handful of exact integer moments shuffle
    def exchanges(p: String) = "Exchange".r.findAllIn(p).length
    // q_power_analysis: one scan, one global moment agg — no joins at all
    val power = planOf("q_power_analysis")
    assert(!power.contains("Join"), s"q_power_analysis plans a join:\n$power")
    assert(exchanges(power) <= 1, s"q_power_analysis shuffles >1x:\n$power")
    // q_cuped: user-keyed conditional agg then global moments — the
    // pre/post split must NOT rescan (one user shuffle + the final
    // single-partition agg exchange, nothing else)
    val cuped = planOf("q_cuped")
    assert(!cuped.contains("Join"), s"q_cuped plans a join:\n$cuped")
    assert(cuped.contains("hashpartitioning(user_id#"),
      s"q_cuped lost the user-keyed aggregate:\n$cuped")
    assert(exchanges(cuped) <= 2, s"q_cuped shuffles >2x:\n$cuped")
    // q_logreg_irls: both IRLS steps are moment aggregates; the step-1
    // coefficients ride one-row broadcasts (<=2 nested-loop joins by
    // construction), and the sigmoid is a codegen'd expression, never a
    // black-box UDF
    val irls = planOf("q_logreg_irls")
    assert("BroadcastNestedLoopJoin".r.findAllIn(irls).length <= 2,
      s"q_logreg_irls: unexpected join structure:\n$irls")
    for (name <- Seq("q_power_analysis", "q_cuped", "q_logreg_irls",
        "q_target_encode", "q_mcnemar"))
      assert(!planOf(name).contains("ScalaUDF") &&
        !planOf(name).contains("BatchEvalPython"),
        s"$name evaluates a non-codegen UDF")
  }

  test("GlobalOrder consumers: the ranked projection is pinned in-plan (persist discipline)") {
    // withGlobalRowNumber persists its mid projection so the offsets job
    // and the final pass see identical range boundaries — the plan must
    // show the InMemoryTableScan (one per ntile/rank pass); release()
    // afterward is the other half of the discipline (GlobalOrderSpec
    // covers it)
    // the single-pass rewrite ranks all three dimensions in ONE
    // GlobalOrder pass over the 3n exploded frame: exactly one pinned
    // projection, scanned by both the offsets job and the final pass
    assert("InMemoryTableScan".r.findAllIn(planOf("q_rfm")).length >= 1,
      "q_rfm's quartile pass no longer pins its projection")
    assert(planOf("q_gain_chart").contains("InMemoryTableScan"),
      "q_gain_chart's decile pass no longer pins its projection")
  }

  test("q_tpch_q3: broadcast dim, shuffle fact join, TakeOrderedAndProject") {
    val plan = planOf("q_tpch_q3")
    assert(plan.contains("TakeOrderedAndProject"), s"top-N not pushed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dim not broadcast:\n$plan")
  }

  test("q_bloom_decontaminate: both bloom-word probes are broadcast hash joins") {
    val plan = planOf("q_bloom_decontaminate")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    // the two 16 Ki-word bloom probes are structurally tiny and must
    // broadcast; the exact-confirm gram join deliberately carries no
    // hint (its left side is the ~FP-rate bloom-positive set) and may
    // take whichever strategy the planner picks
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, got $broadcasts:\n$plan")
  }

  test("q_pq_recall: codebook assignment and LUT scoring stay broadcast") {
    val plan = planOf("q_pq_recall")
    assert(plan.contains("BroadcastHashJoin"), s"LUT join not broadcast:\n$plan")
  }

  test("q_fuzzy_join: candidates come from an equi-join on the variant, not a cross product") {
    val plan = planOf("q_fuzzy_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join fell back to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no hash/merge join on variants:\n$plan")
  }

  test("q_skyline: the per-point window partitions by bucket (no global point sort)") {
    // inspect the LOGICAL windows: the point-level one (computing the
    // prevMax running max) must carry a non-empty partition spec; only
    // the |buckets|-row cummax window may be global
    val plan = released(SparkEntry.queries("q_skyline")(spark, sf)
      .queryExecution.optimizedPlan)
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected window nodes in the skyline plan")
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.size <= 1,
      s"more than one global window:\n${unpartitioned.mkString("\n")}")
    val pointWindow = windows.filter(w =>
      w.windowExpressions.exists(_.name == "prevMax"))
    assert(pointWindow.nonEmpty && pointWindow.forall(_.partitionSpec.nonEmpty),
      s"point window lost its bucket partition key:\n$plan")
  }

  test("q_setsim_topk: bucket-keyed windows only, candidates from an equi-join") {
    // the bounded-output contract is only scale-safe if (a) no window
    // runs partitionless (seed ranks key on (band,bucket), top-1 keys on
    // doc id) and (b) candidates come from the bucket equi-join, never a
    // cross product / nested loop
    val logical = released(SparkEntry.queries("q_setsim_topk")(spark, sf)
      .queryExecution.optimizedPlan)
    val windows = logical.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected window nodes in the topk plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"partitionless window in q_setsim_topk:\n$logical")
    val plan = planOf("q_setsim_topk")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation fell back to a nested loop:\n$plan")
    assert(plan.contains("hashpartitioning(band#") ||
      plan.contains("BroadcastHashJoin [band#"),
      s"candidate join not keyed on (band, bucket):\n$plan")
  }

  test("q_setsim_topk: one row per matched doc, scores in the J >= 0.5 contract") {
    val out = released(SparkEntry.queries("q_setsim_topk")(spark, sf).collect())
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length, "duplicate doc_id rows in top-1 output")
    out.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      val i = r.getAs[Long]("i"); val u = r.getAs[Long]("u")
      assert(j >= 0.5 && j <= 1.0, s"jaccard $j outside contract")
      assert(3 * i >= i + u, s"integer guard violated: i=$i u=$u")
      assert(r.getAs[Long]("match_id") != r.getAs[Long]("doc_id"),
        "doc matched itself")
    }
  }

  test("events ts/type predicates push down to the parquet scan") {
    // on micros fixtures Tables.events keeps `ts` a NATIVE column (just a
    // ntz cast), so half-open ranges and IN-lists reach the scan as
    // PushedFilters — row groups outside the range never leave disk. The
    // legacy nanos path computes ts and cannot push; this pins the
    // micros-path advantage, and fails if anyone reintroduces an
    // unconditional computed ts.
    for ((q, expect) <- Seq(
        "q_recent_scan" -> "GreaterThanOrEqual(ts",
        "q_ts_range" -> "LessThan(ts",
        "q_isin" -> "In(event_type")) {
      val plan = planOf(q)
      assert(plan.contains(expect),
        s"$q scan lost pushdown of $expect:\n${plan.take(2000)}")
    }
  }

  test("filter pushdown reaches the parquet scan on the behavioral suite") {
    val plan = planOf("q_funnel")
    // event-type filters are applied post-scan (they sit under a join),
    // but the scan itself must prune columns: no props/value columns read
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("props"), s"funnel reads unused props column:\n$plan")
  }

  test("q_bm25: df/stats broadcast, term filter pre-shuffle, top-20 is a TakeOrdered") {
    val exec = released(SparkEntry.queries("q_bm25")(spark, sf).queryExecution.executedPlan)
    val plan = exec.toString
    assert(plan.contains("BroadcastHashJoin"), s"df table not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 is not a TakeOrderedAndProject (global sort?):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the IN-list must sit ABOVE the token explode with NO shuffle in
    // between — shuffle ∝ query-term postings, not corpus tokens. The
    // structural check: some Filter mentioning a query term has the
    // Generate in its subtree and no exchange below it.
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AdaptiveSparkPlanExec exposes no children to collect — unwrap
    val root = exec match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val termFilters = root.collect {
      case f: FilterExec if f.condition.toString.contains("dup") => f
    }
    assert(termFilters.exists(f =>
      f.collectFirst { case g: GenerateExec => g }.isDefined &&
        f.collect { case e: ShuffleExchangeExec => e }.isEmpty),
      s"term IN-list is not applied between the explode and the first shuffle:\n$plan")
  }

  test("q_chunk_dedup: fingerprint agg shuffles on fp, doc agg on doc_id; no pairs") {
    val plan = planOf("q_chunk_dedup")
    assert(plan.contains("hashpartitioning(fp#"),
      s"chunk-fingerprint agg does not shuffle on fp:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id#"),
      s"per-doc agg does not shuffle on doc_id:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_pmi_bigrams and q_anomaly_zscore: small sides broadcast, top via TakeOrdered") {
    val pmi = planOf("q_pmi_bigrams")
    assert(pmi.contains("BroadcastHashJoin"), s"unigram counts not broadcast:\n$pmi")
    assert(pmi.contains("TakeOrderedAndProject"),
      s"pmi top-15 is not a TakeOrderedAndProject:\n$pmi")
    val z = planOf("q_anomaly_zscore")
    assert(z.contains("BroadcastHashJoin"), s"per-type moments not broadcast:\n$z")
    assert(!z.contains("CartesianProduct"), z)
  }

  test("q_ppl_buckets: tertile assignment rides the range shuffle, not a data window") {
    // the CCNet stratification claim: the only Exchange over per-doc
    // scores is GlobalOrder's rangepartitioning; the corpus never
    // funnels through a single-task window (whitelist sweep covers the
    // window side — this pins the positive shape)
    val plan = planOf("q_ppl_buckets")
    assert(plan.contains("rangepartitioning"),
      s"tertile rank lost the range-shuffle formulation:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"per-doc score table is no longer cached (LM lineage would run 3x):\n$plan")
  }

  test("q_domain_kl and q_dsir_weight: marginals broadcast, model applied by word join") {
    val kl = planOf("q_domain_kl")
    assert(kl.contains("BroadcastHashJoin"),
      s"per-source totals not broadcast:\n$kl")
    // (the scalar totals ride one-row broadcast cross joins; the global
    // no-CartesianProduct sweep already guards the unbroadcast case)
    val dsir = planOf("q_dsir_weight")
    assert(dsir.contains("hashpartitioning(w#"),
      s"model application is not a word-keyed join:\n$dsir")
  }

  test("q_gopher_repetition: ONE documents scan feeds all five n-widths") {
    // the review fix this pins: the five per-n explodes once compiled to
    // five parquet scans of documents; the struct-concat form must keep
    // exactly one
    val plan = planOf("q_gopher_repetition")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 documents scan, found $scans:\n$plan")
  }

  test("q_audio_features and q_k_anonymity: single pass, no joins") {
    // audio: synth + parse + extract is a pure per-row map — the only
    // exchange is the output sort; k-anonymity: one map-combined
    // aggregate over the scan
    for (name <- Seq("q_audio_features", "q_k_anonymity")) {
      val plan = planOf(name)
      assert(!plan.contains("Join"), s"$name plans a join:\n$plan")
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 2, // agg shuffle (k-anon) + output sort
        s"$name plans $exchanges exchanges:\n$plan")
    }
  }

  test("q_event_transitions: normalizing window runs post-agg, user shuffle once") {
    // the per-from_type share must be computed over the |types|²
    // aggregate, never as a window over raw events (a ~5-partition
    // shuffle of the whole fact table would be a skew funnel at scale)
    val plan = planOf("q_event_transitions")
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"share window does not sit above the transition-count aggregate:\n$plan")
    val userShuffles = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userShuffles <= 1, s"events shuffled on user_id more than once:\n$plan")
  }

  test("q_readability: one scan, one map-combined aggregate") {
    val plan = planOf("q_readability")
    assert(!plan.contains("Join"), s"q_readability plans a join:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 documents scan, found $scans:\n$plan")
  }

  test("q_embed_variance: partial agg under the generator, top-8 is a TakeOrdered") {
    // posexplode fans out corpus×dim rows; the per-dim stats must
    // map-side-combine before the (dim-sized) shuffle, and the top-8 must
    // be TakeOrderedAndProject, not a global sort
    val plan = planOf("q_embed_variance")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-8 dims is not a TakeOrdered:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly the dim-keyed agg exchange:\n$plan")
  }

  test("q_label_centroids: centroid pair join broadcasts, corpus scanned once per side max") {
    val plan = planOf("q_label_centroids")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid×centroid pair join is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_split_leakage: both summary rows come from ONE pass over the family table") {
    // the naive-vs-cluster comparison must not recompute the CC chain per
    // method: one grouped agg over families, one generator (explode) for
    // the two report rows — so the expensive clustering subtree appears
    // once, not twice
    val plan = planOf("q_split_leakage")
    val ccScans = "Scan parquet".r.findAllIn(plan).length
    assert(ccScans <= 4, // corpus + dup-union + signature side + probe side
      s"q_split_leakage scans parquet $ccScans times (CC chain duplicated?):\n$plan")
    assert(plan.contains("Generate"),
      s"two-row report is not the single-agg explode form:\n$plan")
  }

  test("q_ngram_novelty: shingle-keyed shuffles only, no pair join") {
    // first-occurrence lookup must be min-agg + equi-join on the shingle,
    // never any doc×doc comparison
    val plan = planOf("q_ngram_novelty")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("hashpartitioning\\(tok".r.findAllIn(plan).nonEmpty,
      s"novelty join is not shingle-keyed:\n$plan")
  }

  test("q_mislabel_candidates: norms precomputed before the centroid fan-out, top-10 TakeOrdered") {
    val plan = planOf("q_mislabel_candidates")
    assert(plan.contains("TakeOrderedAndProject"),
      s"margin top-10 is not a TakeOrdered:\n$plan")
    // the only nested-loop joins are the two intended |labels|-row
    // broadcast cross joins (own-branch and other-branch of the shared
    // scoring subtree)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(nlj <= 2, s"unexpected nested-loop joins ($nlj):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_windowed_funnel: stage joins are user-keyed, counts come from one explode") {
    val plan = planOf("q_windowed_funnel")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate"),
      s"stage summary is not the single-agg explode form:\n$plan")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).nonEmpty,
      s"stage joins are not user_id-keyed:\n$plan")
  }
}
