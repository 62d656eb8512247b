package graft

import org.apache.spark.sql.Row

/** Mathematical invariants of the round-10 analytics additions —
  * properties the DuckDB hash-oracle cannot state (it pins VALUES; these
  * pin the LAWS the values must obey, so a fixture regeneration that
  * keeps the oracle green but breaks a law still fails loudly).
  * Fixture: sf0.001. Convention follows [[InferenceInvariantSpec]].
  */
class AnalyticsInvariantSpec extends ReleasesPins {

  private def rows(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, sf).collect().toSeq

  test("q_gmv_bridge: price + volume + new + churn equals delta on every row") {
    val r = rows("q_gmv_bridge")
    assert(r.nonEmpty)
    for (row <- r) {
      val sum = row.getAs[Long]("price_eff_cents") +
        row.getAs[Long]("volume_eff_cents") +
        row.getAs[Long]("new_eff_cents") + row.getAs[Long]("churn_eff_cents")
      assert(sum == row.getAs[Long]("delta_cents"), row.toString)
    }
  }

  test("q_stl_lite: trend + seasonal + residual reconstructs n exactly") {
    val r = rows("q_stl_lite")
    assert(r.nonEmpty)
    for (row <- r) {
      val recon = row.getAs[Long]("trend_micro") +
        row.getAs[Long]("seasonal_micro") + row.getAs[Long]("resid_micro")
      assert(recon == row.getAs[Long]("n") * 1000000L, row.toString)
    }
  }

  test("q_markov_stationary: pi sums to 1e9 minus bounded truncation loss") {
    val s = rows("q_markov_stationary").map(_.getAs[Long]("pi_nano")).sum
    // each of the 10 iterations loses < |types|^2 = 25 nano to per-edge
    // truncation, plus the initial 1e9 div k remainder
    assert(s <= 1000000000L && s >= 1000000000L - 1000L, s.toString)
  }

  test("q_fdr_bh: BH thresholds rise with rank and rejections form a prefix") {
    val r = rows("q_fdr_bh").sortBy(_.getAs[Long]("rk"))
    assert(r.nonEmpty)
    val thr = r.map(_.getAs[Long]("thr_micro"))
    assert(thr.zip(thr.tail).forall { case (a, b) => a <= b }, thr.toString)
    val rej = r.map(_.getAs[Long]("reject"))
    // step-up: once a rank fails to reject, no later rank rejects
    assert(rej.zip(rej.tail).forall { case (a, b) => a >= b }, rej.toString)
    for (row <- r)
      assert(row.getAs[Long]("p_micro") >= 0L &&
        row.getAs[Long]("p_micro") <= 1000000L, row.toString)
  }

  test("q_msprt: the always-valid p is monotone non-increasing over checkpoints") {
    val r = rows("q_msprt")
    assert(r.nonEmpty)
    val p = r.map(_.getAs[Long]("p_always_micro"))
    assert(p.forall(v => v > 0L && v <= 1000000L))
    assert(p.zip(p.tail).forall { case (a, b) => b <= a }, p.toString)
    // cumulative sample sizes never shrink
    val n0 = r.map(_.getAs[Long]("n0"))
    assert(n0.zip(n0.tail).forall { case (a, b) => b >= a })
  }

  test("q_eb_shrinkage: every EB mean lies between its raw mean and the grand mean") {
    val r = rows("q_eb_shrinkage")
    assert(r.nonEmpty)
    // the grand mean is the precision-weighted center; recover it from the
    // raw means via the reported weights is circular — assert the
    // BETWEENNESS law per row instead against the pooled raw-mean span
    val raws = r.map(_.getAs[Long]("raw_mean_cents"))
    val (lo, hi) = (raws.min, raws.max)
    for (row <- r) {
      val w = row.getAs[Long]("weight_micro")
      assert(w >= 0L && w <= 1000000L, row.toString)
      val eb = row.getAs[Long]("eb_mean_cents")
      // shrinkage can never escape the observed group-mean envelope
      assert(eb >= lo - 1 && eb <= hi + 1, row.toString)
      // and moves toward the center: |eb - raw| bounded by the envelope
      assert(math.abs(eb - row.getAs[Long]("raw_mean_cents")) <= (hi - lo),
        row.toString)
    }
  }

  test("q_hits: authorities are positive, ranked, and L1-bounded") {
    val r = rows("q_hits")
    assert(r.size == 10)
    val a = r.map(_.getAs[Long]("auth_nano"))
    assert(a.forall(v => v > 0L && v <= 1000000000L))
    assert(a.zip(a.tail).forall { case (x, y) => y <= x }, a.toString)
    // top-10 of an L1-normalized vector can't exceed the whole mass
    assert(a.sum <= 1000000000L)
  }

  test("q_ivf_sweep: recall and candidate count are monotone in nprobe") {
    val r = rows("q_ivf_sweep").sortBy(_.getAs[Long]("nprobe"))
    assert(r.size == 4)
    val rec = r.map(_.getAs[Long]("recall_micro"))
    val cand = r.map(_.getAs[Long]("cand_per_q_micro"))
    assert(rec.zip(rec.tail).forall { case (a, b) => b >= a }, rec.toString)
    assert(cand.zip(cand.tail).forall { case (a, b) => b >= a }, cand.toString)
    assert(rec.forall(v => v >= 0L && v <= 1000000L))
  }

  test("q_value_quantile_trend: p50 <= p95 on every day") {
    val r = rows("q_value_quantile_trend")
    assert(r.nonEmpty)
    for (row <- r)
      assert(row.getAs[Long]("p50_cents") <= row.getAs[Long]("p95_cents"),
        row.toString)
  }

  test("q_granger: the full model's RSS never exceeds the restricted model's") {
    val r = rows("q_granger").head
    assert(r.getAs[Long]("rss_f_milli") <= r.getAs[Long]("rss_r_milli"))
    assert(r.getAs[Long]("f_micro") >= 0L)
  }

  test("q_acf: correlations bounded and pair counts shrink with lag") {
    val r = rows("q_acf").sortBy(_.getAs[Long]("lag"))
    assert(r.size == 7)
    for (row <- r)
      assert(math.abs(row.getAs[Long]("r_micro")) <= 1000000L, row.toString)
    val n = r.map(_.getAs[Long]("n_pairs"))
    assert(n.zip(n.tail).forall { case (a, b) => b <= a }, n.toString)
  }

  test("q_burn_rate: a burn flag requires BOTH windows above the 25% budget") {
    val r = rows("q_burn_rate")
    assert(r.nonEmpty)
    for (row <- r) {
      val (r1, r6) = (row.getAs[Long]("rate1h_micro"), row.getAs[Long]("rate6h_micro"))
      assert(r1 >= 0L && r1 <= 1000000L, row.toString)
      assert(r6 >= 0L && r6 <= 1000000L, row.toString)
      if (row.getAs[Long]("burn_flag") == 1L)
        assert(r1 > 250000L - 1L && r6 > 250000L - 1L, row.toString)
    }
    assert(r.exists(_.getAs[Long]("burn_flag") == 1L),
      "fixture should produce at least one burning hour")
  }

  test("q_abc_class: the three classes partition revenue with shares summing to ~1") {
    val r = rows("q_abc_class")
    assert(r.map(_.getAs[String]("cls")).toSet.subsetOf(Set("A", "B", "C")))
    val shares = r.map(_.getAs[Long]("share_milli")).sum
    // truncating div loses < 1 milli per class
    assert(shares >= 997L && shares <= 1000L, shares.toString)
  }

  test("q_nb_classify: confusion counts cover exactly the held-out docs") {
    val total = rows("q_nb_classify").map(_.getAs[Long]("n_docs")).sum
    val expected = Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.expr("(doc_id div 20) % 2 = 1"))
      .count()
    assert(total == expected, s"$total != $expected")
  }

  test("q_rfm_migration: migration counts cover every active customer once") {
    val total = rows("q_rfm_migration").map(_.getAs[Long]("n_customers")).sum
    val expected = Tables.orders(spark, sf)
      .where(org.apache.spark.sql.functions
        .expr("year(o_orderdate) IN (1996, 1997)"))
      .select("o_custkey").distinct().count()
    assert(total == expected, s"$total != $expected")
  }

  test("q_tost: the lower one-sided t always exceeds the upper by 2·margin/se") {
    val r = rows("q_tost").head
    assert(r.getAs[Long]("t_lower_micro") > r.getAs[Long]("t_upper_micro"))
    assert(r.getAs[Long]("margin_centi") > 0L)
    // equivalence demands BOTH one-sided rejections
    if (r.getAs[Long]("equivalent_flag") == 1L) {
      assert(r.getAs[Long]("t_lower_micro") > 1644900L)
      assert(r.getAs[Long]("t_upper_micro") < -1644900L)
    }
  }

  test("q_capture_recapture: the Chapman estimate is bounded by its inputs") {
    val r = rows("q_capture_recapture").head
    val (n1, n2) = (r.getAs[Long]("day1_buyers"), r.getAs[Long]("day2_buyers"))
    val m = r.getAs[Long]("recaptured")
    val est = r.getAs[Long]("chapman_estimate")
    assert(m <= math.min(n1, n2))
    // N-hat can never fall below either single occasion's count
    assert(est >= math.max(n1, n2) - 1, r.toString)
    assert(r.getAs[Long]("se_est") >= 0L)
  }

  test("q_dedup_sweep: pairs and affected docs shrink as the threshold tightens") {
    val r = rows("q_dedup_sweep").sortBy(_.getAs[Long]("thr_milli"))
    assert(r.size == 3)
    val p = r.map(_.getAs[Long]("dup_pairs"))
    val dd = r.map(_.getAs[Long]("docs_affected"))
    assert(p.zip(p.tail).forall { case (a, b) => b <= a }, p.toString)
    assert(dd.zip(dd.tail).forall { case (a, b) => b <= a }, dd.toString)
    // every pair touches two docs; distinct docs can't exceed 2·pairs
    r.foreach(row => assert(row.getAs[Long]("docs_affected") <=
      2 * row.getAs[Long]("dup_pairs"), row.toString))
  }

  test("q_weibull_fit: positive shape and scale from enough ECDF points") {
    val r = rows("q_weibull_fit").head
    assert(r.getAs[Long]("n_points") >= 3L)
    assert(r.getAs[Long]("shape_micro") > 0L)
    assert(r.getAs[Long]("scale_ms") > 0L)
  }

  test("q_morans_i and q_self_excitation: bounded statistics") {
    val m = rows("q_morans_i").head
    // |I| can exceed 1 only mildly on small n; generous envelope
    assert(math.abs(m.getAs[Long]("morans_i_micro")) <= 1500000L)
    assert(m.getAs[Long]("expected_i_micro") < 0L)
    val e = rows("q_self_excitation").head
    assert(e.getAs[Long]("observed_micro") >= 0L &&
      e.getAs[Long]("observed_micro") <= 1000000L)
    assert(e.getAs[Long]("excitation_ratio_micro") > 0L)
  }

  test("q_variance_decomp: the three shares partition the variance") {
    val r = rows("q_variance_decomp").head
    val sum = r.getAs[Long]("region_share_micro") +
      r.getAs[Long]("nation_share_micro") + r.getAs[Long]("residual_share_micro")
    assert(math.abs(sum - 1000000L) <= 2L, sum.toString)
    assert(r.getAs[Long]("ss_total_mega") > 0L)
    assert(r.getAs[Long]("residual_share_micro") >= 0L)
  }

  test("q_pacf: lag-1 PACF equals lag-1 ACF and all values are bounded") {
    val r = rows("q_pacf").sortBy(_.getAs[Long]("lag"))
    assert(r.size == 3)
    assert(r.head.getAs[Long]("acf_micro") == r.head.getAs[Long]("pacf_micro"))
    r.foreach { row =>
      assert(math.abs(row.getAs[Long]("acf_micro")) <= 1000000L, row.toString)
      assert(math.abs(row.getAs[Long]("pacf_micro")) <= 1000000L, row.toString)
    }
  }

  test("q_funnel_ci: Wilson intervals bracket the rate and widen down-funnel denominators") {
    val r = rows("q_funnel_ci").sortBy(_.getAs[Long]("step"))
    for (row <- r) {
      val (lo, p, hi) = (row.getAs[Long]("lo_micro"),
        row.getAs[Long]("rate_micro"), row.getAs[Long]("hi_micro"))
      assert(lo <= p && p <= hi, row.toString)
      assert(lo >= 0L && hi <= 1000000L, row.toString)
    }
    // denominators chain: each step's denominator is the prior numerator
    assert(r(1).getAs[Long]("denom") == r(0).getAs[Long]("num"))
    assert(r(2).getAs[Long]("denom") == r(1).getAs[Long]("num"))
  }

  test("q_mde_curve: longer experiments detect smaller effects") {
    val r = rows("q_mde_curve").sortBy(_.getAs[Long]("days"))
    val mde = r.map(_.getAs[Long]("mde_cents"))
    assert(mde.zip(mde.tail).forall { case (a, b) => b <= a }, mde.toString)
    val n = r.map(_.getAs[Long]("n_per_arm"))
    assert(n.zip(n.tail).forall { case (a, b) => b >= a }, n.toString)
  }

  test("q_seasonal_index: twelve calendar months, normalized indices centered on 1") {
    val r = rows("q_seasonal_index")
    assert(r.size == 12)
    assert(r.map(_.getAs[Long]("cal_month")).sorted == (1L to 12L))
    val mean = r.map(_.getAs[Long]("idx_norm_micro")).sum / 12.0
    assert(math.abs(mean - 1000000.0) < 100.0, mean.toString)
  }

  test("q_kruskal_wallis: H nonnegative, p in [0,1], reject consistent with p") {
    val r = rows("q_kruskal_wallis")
    assert(r.size == 1)
    val row = r.head
    assert(row.getAs[Long]("h_milli") >= 0L)
    val p = row.getAs[Long]("p_micro")
    assert(p >= 0L && p <= 1000000L, p.toString)
    assert(row.getAs[Long]("reject_equal") == (if (p < 50000L) 1L else 0L))
  }

  test("q_runs_test: runs bounded by 1..n, sides partition the days") {
    val row = rows("q_runs_test").head
    val n = row.getAs[Long]("n_days")
    assert(row.getAs[Long]("n_above") + row.getAs[Long]("n_below") == n)
    val runs = row.getAs[Long]("n_runs")
    assert(runs >= 1L && runs <= n, row.toString)
  }

  test("q_ljung_box and q_friedman: p in [0,1] and reject flags consistent") {
    for ((q, pcol, rej) <- Seq(
        ("q_ljung_box", "p_micro", "reject_whitenoise"),
        ("q_friedman", "p_micro", "reject_equal"))) {
      val row = rows(q).head
      val p = row.getAs[Long](pcol)
      assert(p >= 0L && p <= 1000000L, s"$q $p")
      assert(row.getAs[Long](rej) == (if (p < 50000L) 1L else 0L), q)
    }
  }

  test("q_rich_club: phi in [0,1e6], club sizes shrink as the bar rises") {
    val r = rows("q_rich_club").sortBy(_.getAs[Long]("k"))
    assert(r.nonEmpty)
    val nn = r.map(_.getAs[Long]("n_nodes"))
    assert(nn.zip(nn.tail).forall { case (a, b) => b <= a }, nn.toString)
    val ne = r.map(_.getAs[Long]("n_edges"))
    assert(ne.zip(ne.tail).forall { case (a, b) => b <= a }, ne.toString)
    for (row <- r) {
      val phi = row.getAs[Long]("phi_micro")
      assert(phi >= 0L && phi <= 1000000L, row.toString)
    }
  }

  test("q_jl_distortion: mean ratio within 15% of 1 (JL expectation)") {
    val row = rows("q_jl_distortion").head
    val m = row.getAs[Long]("mean_ratio_micro")
    assert(m > 850000L && m < 1150000L, m.toString)
    val sh = row.getAs[Long]("share_within20_micro")
    assert(sh >= 0L && sh <= 1000000L, sh.toString)
  }

  test("q_kcenter_coreset: greedy selection distances non-increasing, radius bounded") {
    val r = rows("q_kcenter_coreset").sortBy(_.getAs[Long]("round"))
    assert(r.size == 4)
    assert(r.map(_.getAs[Long]("center_id")).distinct.size == 4)
    val sel = r.tail.map(_.getAs[Long]("sel_dist2"))
    assert(sel.zip(sel.tail).forall { case (a, b) => b <= a }, sel.toString)
    val rad = r.map(_.getAs[Long]("radius2_after"))
    assert(rad.zip(rad.tail).forall { case (a, b) => b <= a }, rad.toString)
    // the greedy covering radius never exceeds the distance at selection
    assert(r.last.getAs[Long]("radius2_after") <= sel.last)
  }

  test("q_erlang_c: blocking and waiting probabilities fall as servers rise") {
    val r = rows("q_erlang_c").sortBy(_.getAs[Long]("servers"))
    assert(r.nonEmpty)
    val b = r.map(_.getAs[Long]("erlang_b_nano"))
    assert(b.zip(b.tail).forall { case (x, y) => y <= x }, b.toString)
    val c = r.map(_.getAs[Long]("erlang_c_nano"))
    assert(c.zip(c.tail).forall { case (x, y) => y <= x }, c.toString)
    for (row <- r) {
      assert(row.getAs[Long]("erlang_c_nano") >= row.getAs[Long]("erlang_b_nano"),
        row.toString)
      assert(row.getAs[Long]("util_micro") < 1000000L, row.toString)
    }
  }

  test("q_scaling_law: more data never hurts held-out CE on the fitted line") {
    val row = rows("q_scaling_law").head
    assert(row.getAs[Long]("n_points") == 5L)
    assert(row.getAs[Long]("slope_milli") <= 0L, "CE must fall with data")
    assert(row.getAs[Long]("ce_pred_10x_milli") <=
      row.getAs[Long]("ce_full_milli"))
  }

  test("q_theil_index: decomposition adds up and shares are sane") {
    val row = rows("q_theil_index").head
    val t = row.getAs[Long]("theil_micro")
    val b = row.getAs[Long]("between_micro")
    val w = row.getAs[Long]("within_micro")
    assert(t >= 0L && b >= 0L && w >= 0L, row.toString)
    assert(math.abs(b + w - t) <= 1L, s"$b + $w != $t")
  }

  test("q_hurst: exponent within (0,1)") {
    val h = rows("q_hurst").head.getAs[Long]("hurst_milli")
    assert(h > 0L && h < 1000L, h.toString)
  }

  test("q_ahash_dedup: dup pairs are a subset of candidates") {
    val row = rows("q_ahash_dedup").head
    assert(row.getAs[Long]("dup_pairs") <= row.getAs[Long]("cand_pairs"))
    assert(row.getAs[Long]("dup_docs") <= row.getAs[Long]("n_docs"))
    assert(row.getAs[Long]("skipped_buckets") >= 0L)
  }

  test("q_assoc_rules: confidences in (0,1e6], leverage consistent with lift direction") {
    val r = rows("q_assoc_rules")
    assert(r.size == 20)
    for (row <- r) {
      val cf = row.getAs[Long]("conf_fwd_micro")
      val cb = row.getAs[Long]("conf_bwd_micro")
      assert(cf > 0L && cf <= 1000000L && cb > 0L && cb <= 1000000L, row.toString)
    }
  }

  test("q_control_chart: limits bracket the center, violations partition correctly") {
    val row = rows("q_control_chart").head
    assert(row.getAs[Long]("lcl_micro") < row.getAs[Long]("center_micro"))
    assert(row.getAs[Long]("center_micro") < row.getAs[Long]("ucl_micro"))
    assert(row.getAs[Long]("n_above") + row.getAs[Long]("n_below") <=
      row.getAs[Long]("n_days"))
  }

  test("q_dickey_fuller: beta in [-2, 0] for a mean-reverting daily series") {
    val row = rows("q_dickey_fuller").head
    val b = row.getAs[Long]("beta_nano")
    assert(b <= 0L && b >= -2000000000L, b.toString)
  }

  test("q_rank_stability: footrule zero iff overlap tiny, jaccard consistent") {
    val row = rows("q_rank_stability").head
    val ov = row.getAs[Long]("overlap_at_20")
    assert(ov >= 0L && ov <= 20L)
    val j = row.getAs[Long]("jaccard_micro")
    if (ov == 20L) assert(j == 1000000L) else assert(j < 1000000L)
  }

  test("q_simpson_check: group sign counts bounded by group count") {
    val row = rows("q_simpson_check").head
    assert(row.getAs[Long]("n_pos_groups") + row.getAs[Long]("n_neg_groups") <=
      row.getAs[Long]("n_groups"))
    assert(Set(-1L, 0L, 1L).contains(row.getAs[Long]("pooled_sign")))
  }

  test("q_conformal: achieved coverage within 3pp of the 90% target") {
    val row = rows("q_conformal").head
    val cov = row.getAs[Long]("coverage_micro")
    assert(math.abs(cov - 900000L) < 30000L, cov.toString)
    assert(row.getAs[Long]("qhat_cents") > 0L)
  }

  test("q_mmd_linear: same-distribution labels give |MMD| under 0.25") {
    val row = rows("q_mmd_linear").head
    assert(row.getAs[Long]("n_quads") > 0L)
    assert(math.abs(row.getAs[Long]("mmd_micro")) < 250000L, row.toString)
  }

  test("q_obrien_fleming: boundaries shrink with looks, samples accumulate") {
    val r = rows("q_obrien_fleming").sortBy(_.getAs[Long]("look"))
    assert(r.size == 4)
    val b = r.map(_.getAs[Long]("boundary_milli"))
    assert(b.zip(b.tail).forall { case (x, y) => y < x }, b.toString)
    val n = r.map(x => x.getAs[Long]("n_control") + x.getAs[Long]("n_treat"))
    assert(n.zip(n.tail).forall { case (x, y) => y >= x }, n.toString)
  }

  test("q_cmh_test: chi-square nonnegative, reject consistent with 3.841") {
    val row = rows("q_cmh_test").head
    val c = row.getAs[Long]("cmh_chi2_milli")
    assert(c >= 0L)
    // ±1-milli guard band around the threshold: the query's flag comes
    // from the unrounded double, this law from the rounded milli (the
    // q_crosstab_residuals convention)
    if (c < 3840L || c > 3842L)
      assert(row.getAs[Long]("reject_indep") == (if (c > 3841L) 1L else 0L))
  }

  test("q_holm_bonferroni: thresholds rise with rank, rejections form a prefix") {
    val r = rows("q_holm_bonferroni").sortBy(_.getAs[Long]("rk"))
    val thr = r.map(_.getAs[Long]("thr_micro"))
    assert(thr.zip(thr.tail).forall { case (a, b) => a <= b }, thr.toString)
    val rej = r.map(_.getAs[Long]("reject"))
    assert(rej.zip(rej.tail).forall { case (a, b) => a >= b }, rej.toString)
  }

  test("q_shapley_attribution: exactly the three channels") {
    val r = rows("q_shapley_attribution")
    assert(r.map(_.getAs[String]("channel")).sorted ==
      Seq("click", "signup", "view"))
  }

  test("q_ransac_fit: inliers positive and bounded by days") {
    val row = rows("q_ransac_fit").head
    val in = row.getAs[Long]("inliers")
    assert(in > 0L && in <= row.getAs[Long]("n_days"))
    assert(row.getAs[Long]("inlier_share_micro") <= 1000000L)
  }

  test("q_absorption_steps: every transient state needs at least one step") {
    val r = rows("q_absorption_steps")
    assert(r.nonEmpty)
    for (row <- r)
      assert(row.getAs[Long]("steps_nano") >= 1000000000L, row.toString)
  }

  test("q_burrows_delta: deltas nonnegative and sorted ascending") {
    val r = rows("q_burrows_delta")
    assert(r.size == 10)
    val ds = r.map(_.getAs[Long]("delta_micro"))
    assert(ds.forall(_ >= 0L))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, ds.toString)
  }

  test("q_newsvendor: the 75th-percentile stock covers the mean demand") {
    val r = rows("q_newsvendor")
    assert(r.size == 10)
    for (row <- r)
      assert(row.getAs[Long]("q_star_75") * 1000L >=
        row.getAs[Long]("mean_daily_q_milli"), row.toString)
  }

  test("q_ppr: the seed keeps the most mass and every mass is nonnegative") {
    val r = rows("q_ppr")
    assert(r.nonEmpty)
    val masses = r.map(_.getAs[Long]("ppr_nano"))
    assert(masses.forall(_ >= 0L))
    // restart mass alone gives the seed >= 0.15; truncation only shrinks
    assert(masses.max >= 150000000L, masses.max.toString)
  }

  test("q_hub_robustness: the post-removal LCC never exceeds the original") {
    val row = rows("q_hub_robustness").head
    assert(row.getAs[Long]("lcc_after") <= row.getAs[Long]("lcc_before"))
    assert(row.getAs[Long]("lcc_before") <= row.getAs[Long]("n_nodes"))
    assert(row.getAs[Long]("hubs_removed") >= 1L)
  }

  test("q_hub_robustness: affected-component decomposition equals the global after-CC") {
    // the query prunes the after-CC to before-components containing a
    // removed hub and takes untouched components at their stored size;
    // this replays the UNDECOMPOSED global CC over the full hub-removed
    // edge set and pins lcc_after equality — the stored-vs-fresh proof
    // for the r13 rewrite
    import org.apache.spark.sql.functions._
    val row = rows("q_hub_robustness").head
    val (e0, deg) = graft.operators.Release.copurchaseGraph(spark, sf)
    val nn = deg.count()
    val hubs = graft.operators.GlobalOrder
      .withGlobalRowNumber(deg, Seq(col("deg").desc, col("p").asc), "rn")
      .where(col("rn") <= (nn + 99) / 100).select("p")
    val ef = e0
      .join(hubs.select(col("p").as("p1")), Seq("p1"), "left_anti")
      .join(hubs.select(col("p").as("p2")), Seq("p2"), "left_anti")
    val lccGlobal = graft.operators.DedupOps.connectedComponentsStar(
        ef.select(col("p1").as("id1"), col("p2").as("id2")))
      .groupBy("cluster").agg(count(lit(1)).as("cnt"))
      .agg(coalesce(max("cnt"), lit(0L)).as("lcc"))
      .head().getAs[Long]("lcc")
    assert(row.getAs[Long]("lcc_after") == lccGlobal,
      s"decomposed=${row.getAs[Long]("lcc_after")} global=$lccGlobal")
  }

  test("q_best_passage: window scores bounded by the window length") {
    val r = rows("q_best_passage")
    assert(r.nonEmpty)
    for (row <- r) {
      val m = row.getAs[Long]("matched")
      assert(m >= 0L && m <= 10L, row.toString)
      assert(row.getAs[Long]("start_pos") >= 1L)
    }
  }

  test("q_crosstab_residuals: full grid, flags consistent with 1.96") {
    val r = rows("q_crosstab_residuals")
    assert(r.size == 15)
    for (row <- r) {
      // the query flags on the UNROUNDED double (> 1.96) while this law
      // reads the rounded milli column — a residual inside the ±1-milli
      // rounding band of the threshold can legitimately disagree, so
      // consistency is asserted only OUTSIDE the band (fixture
      // regeneration must not fail a correct query on a boundary tie)
      val z = math.abs(row.getAs[Long]("std_resid_milli"))
      if (z < 1959L || z > 1961L)
        assert(row.getAs[Long]("flagged") ==
          (if (z > 1960L) 1L else 0L), row.toString)
    }
  }

  test("q_price_endings: shares descend and stay near the uniform 1%") {
    val r = rows("q_price_endings")
    assert(r.size == 10)
    val sh = r.map(_.getAs[Long]("share_micro"))
    assert(sh.zip(sh.tail).forall { case (a, b) => b <= a }, sh.toString)
    assert(sh.head < 100000L, "no ending should carry 10% of synthetic prices")
  }

  // ---- round-11 additions ----

  test("q_nelson_aalen: hazard and variance are nondecreasing, at-risk shrinks") {
    val r = rows("q_nelson_aalen")
    assert(r.nonEmpty)
    val h = r.map(_.getAs[Long]("h_micro"))
    val v = r.map(_.getAs[Long]("var_nano"))
    val n = r.map(_.getAs[Long]("n_at_risk"))
    assert(h.zip(h.tail).forall { case (a, b) => a < b }, h.toString)
    assert(v.zip(v.tail).forall { case (a, b) => a < b }, v.toString)
    assert(n.zip(n.tail).forall { case (a, b) => a > b }, n.toString)
  }

  test("q_logrank: chi-square and variance nonnegative, expectation near total") {
    val r = rows("q_logrank")
    assert(r.size == 1)
    assert(r.head.getAs[Long]("chi2_milli") >= 0L)
    assert(r.head.getAs[Long]("var_micro") > 0L)
    // E[O_g0] under H0 uses the same pooled deaths the observed count
    // draws from, so both sit in [0, total deaths]
    assert(r.head.getAs[Long]("obs_g0") >= 0L)
  }

  test("q_rmst: the restricted mean is positive and bounded by tau") {
    val r = rows("q_rmst")
    assert(r.size == 1)
    val rmst = r.head.getAs[Long]("rmst_micro_hours")
    assert(rmst > 0L && rmst <= r.head.getAs[Long]("tau_hours") * 1000000L,
      rmst.toString)
  }

  test("survival cross-law: KM survival decays no faster than exp(-H)") {
    // S(t) = Π(1−dᵢ/nᵢ) ≤ exp(−Σdᵢ/nᵢ) = exp(−H(t)) pointwise — the
    // Nelson–Aalen curve upper-bounds the KM curve after exp-negation
    // (1−x ≤ e^−x). Joined on the shared death-time grid.
    val km = rows("q_survival_km")
      .map(r => r.getAs[Long]("hours") -> r.getAs[Long]("s_micro")).toMap
    val na = rows("q_nelson_aalen")
      .map(r => r.getAs[Long]("hours") -> r.getAs[Long]("h_micro")).toMap
    val shared = km.keySet & na.keySet
    assert(shared.nonEmpty)
    for (t <- shared) {
      val sExp = math.exp(-na(t) / 1e6) * 1e6
      assert(km(t) <= sExp + 1, s"t=$t km=${km(t)} exp(-H)=$sExp")
    }
  }

  test("q_levene / q_jarque_bera / q_cochran_q: test statistics nonnegative") {
    assert(rows("q_levene").head.getAs[Long]("f_milli") >= 0L)
    assert(rows("q_jarque_bera").head.getAs[Long]("jb_milli") >= 0L)
    assert(rows("q_cochran_q").head.getAs[Long]("q_milli") >= 0L)
  }

  test("q_durbin_watson: DW lives in [0, 4]") {
    val dw = rows("q_durbin_watson").head.getAs[Long]("dw_milli")
    assert(dw >= 0L && dw <= 4000L, dw.toString)
  }

  test("q_grubbs: G respects the (n-1)/sqrt(n) attainable maximum") {
    val r = rows("q_grubbs").head
    val n = r.getAs[Long]("n_obs").toDouble
    val g = r.getAs[Long]("g_milli")
    assert(g > 0L && g <= math.ceil((n - 1) / math.sqrt(n) * 1000).toLong,
      g.toString)
  }

  test("q_avg_precision: AP and hits bounded, zero-hit queries score zero") {
    val r = rows("q_avg_precision")
    assert(r.size == 50)
    for (row <- r) {
      val ap = row.getAs[Long]("ap_micro")
      val hits = row.getAs[Long]("hits")
      assert(ap >= 0L && ap <= 1000000L, row.toString)
      assert(hits >= 0L && hits <= math.min(10L, row.getAs[Long]("n_rel")),
        row.toString)
      if (hits == 0L) assert(ap == 0L, row.toString)
      if (ap == 0L) assert(hits == 0L, row.toString)
    }
  }

  test("q_rbo: overlap bounded by depth and RBO by the truncated mass") {
    val r = rows("q_rbo").head
    assert(r.getAs[Long]("overlap_at_20") >= 0L &&
      r.getAs[Long]("overlap_at_20") <= 20L)
    // (1−p)Σ_{d≤20} p^{d−1} < 1 − p^20 ⇒ micro score under 878 423 + ε
    val rbo = r.getAs[Long]("rbo_micro")
    assert(rbo >= 0L && rbo <= 878430L, rbo.toString)
  }

  test("q_fleiss_kappa: kappa at most 1, pbar at least pe on agreeing raters") {
    val r = rows("q_fleiss_kappa").head
    assert(r.getAs[Long]("kappa_milli") <= 1000L)
    assert(r.getAs[Long]("pbar_micro") <= 1000000L &&
      r.getAs[Long]("pe_micro") <= 1000000L)
  }

  test("q_label_prop: community sizes partition the thresholded node set") {
    val covered = rows("q_label_prop")
      .map(r => r.getAs[Long]("community_size") *
        r.getAs[Long]("n_communities")).sum
    val nodes = graft.operators.Release.copurchaseDirected(spark, sf)._1
      .where(org.apache.spark.sql.functions.col("w") >= 3)
      .select("u").distinct().count()
    assert(covered == nodes, s"covered=$covered nodes=$nodes")
  }

  test("q_graph_diameter: second sweep dominates the first eccentricity") {
    val r = rows("q_graph_diameter").head
    assert(r.getAs[Long]("diameter_lb") >= r.getAs[Long]("ecc_seed"),
      r.toString)
    assert(r.getAs[Long]("n_reached") >= 1L)
  }

  test("q_ols_multi: R-squared lies in [0, 1]") {
    val r2 = rows("q_ols_multi").head.getAs[Long]("r2_micro")
    assert(r2 >= 0L && r2 <= 1000000L, r2.toString)
  }

  test("q_gbm_round: train MSE never rises across boosting stages") {
    val r = rows("q_gbm_round").head
    val m1 = r.getAs[Long]("mse_stage1_cents2")
    val m2 = r.getAs[Long]("mse_stage2_cents2")
    // each stage fits the SSE-optimal leaf means, so in-sample MSE is
    // weakly decreasing (±1 for the two independent integer floors)
    assert(m2 <= m1 + 1, s"m1=$m1 m2=$m2")
    assert(m1 > 0L && m2 > 0L)
  }

  test("q_tukey_hsd: all 10 pairs, q consistent with the mean gap sign") {
    val r = rows("q_tukey_hsd")
    assert(r.size == 10)
    for (row <- r) {
      assert(row.getAs[Long]("q_milli") >= 0L, row.toString)
      if (row.getAs[Long]("mean_diff_milli") == 0L)
        assert(row.getAs[Long]("q_milli") == 0L, row.toString)
    }
  }

  test("q_icc: the coefficient respects its algebraic floor and ceiling") {
    val r = rows("q_icc").head
    // ICC(1,1) ≥ −1/(k₀−1) ≥ −1 and ≤ 1
    val icc = r.getAs[Long]("icc_micro")
    assert(icc >= -1000000L && icc <= 1000000L, icc.toString)
  }

  test("q_ipw_ate: unconfounded fixture keeps IPW within 20% of naive spread") {
    val r = rows("q_ipw_ate").head
    val naive = r.getAs[Long]("ate_naive_cmilli")
    val ipw = r.getAs[Long]("ate_ipw_cmilli")
    // exposure is hour-of-day, the confounder day-of-week ⊥ hour in the
    // fixture, so stratification must not move the estimate much; the
    // bound is loose (half the naive magnitude + a floor) to stay
    // regeneration-proof
    assert(math.abs(ipw - naive) <= math.abs(naive) / 2 + 2000L,
      s"naive=$naive ipw=$ipw")
  }

  test("q_eoq: batch size positive and demand-monotone in aggregate") {
    val r = rows("q_eoq")
    assert(r.size == 25)
    for (row <- r) assert(row.getAs[Long]("eoq_units") > 0L, row.toString)
  }

  test("q_wilson_ci: interval brackets the point rate and stays in [0,1]") {
    for (row <- rows("q_wilson_ci")) {
      val lo = row.getAs[Long]("lo_micro")
      val hi = row.getAs[Long]("hi_micro")
      val p = 1000000.0 * row.getAs[Long]("k") / row.getAs[Long]("n")
      assert(lo >= 0L && hi <= 1000000L && lo <= hi, row.toString)
      assert(lo <= p + 1 && p <= hi + 1, row.toString)
    }
  }

  test("q_km_ci: band brackets the point estimate, survival nonincreasing") {
    val r = rows("q_km_ci")
    assert(r.nonEmpty)
    val s = r.map(_.getAs[Long]("s_micro"))
    assert(s.zip(s.tail).forall { case (a, b) => b <= a }, s.toString)
    for (row <- r if row.getAs[Long]("s_micro") > 0L) {
      assert(row.getAs[Long]("lo_micro") <= row.getAs[Long]("s_micro") &&
        row.getAs[Long]("s_micro") <= row.getAs[Long]("hi_micro"), row.toString)
      assert(row.getAs[Long]("hi_micro") <= 1000000L, row.toString)
    }
  }

  test("q_hazard_ratio: CI brackets the point estimate, all positive") {
    val r = rows("q_hazard_ratio").head
    val hr = r.getAs[Long]("hr_milli")
    assert(r.getAs[Long]("hr_lo_milli") <= hr &&
      hr <= r.getAs[Long]("hr_hi_milli"), r.toString)
    assert(r.getAs[Long]("hr_lo_milli") > 0L)
  }

  test("q_kneser_ney: probabilities live in (0, 1] and counts descend") {
    val r = rows("q_kneser_ney")
    assert(r.size == 20)
    val c = r.map(_.getAs[Long]("c"))
    assert(c.zip(c.tail).forall { case (a, b) => b <= a }, c.toString)
    for (row <- r)
      assert(row.getAs[Long]("pkn_micro") > 0L &&
        row.getAs[Long]("pkn_micro") <= 1000000L, row.toString)
  }

  test("q_paired_ttest: the statistic carries the mean difference's sign") {
    val r = rows("q_paired_ttest").head
    assert(java.lang.Long.signum(r.getAs[Long]("t_milli")) ==
      java.lang.Long.signum(r.getAs[Long]("mean_diff_cents")) ||
      r.getAs[Long]("mean_diff_cents").abs <= 1, r.toString)
  }

  test("q_err: bounded by the all-relevant cascade mass ln 2") {
    val r = rows("q_err")
    assert(r.size == 50)
    // Σ_{r=1..∞} (1/r)·(1/2)^r = ln 2 ⇒ micro ceiling 693 148 + rounding
    for (row <- r) {
      val e = row.getAs[Long]("err_micro")
      assert(e >= 0L && e <= 693160L, row.toString)
    }
  }

  test("q_bullwhip: ratio positive on a nondegenerate calendar") {
    val r = rows("q_bullwhip").head
    assert(r.getAs[Long]("bullwhip_milli") > 0L, r.toString)
    assert(r.getAs[Long]("demand_days") > 0L && r.getAs[Long]("order_days") > 0L)
  }

  test("q_doremi_step: weights are simplex-normalized and loss-monotone") {
    val r = rows("q_doremi_step")
    assert(r.nonEmpty)
    val w0 = r.map(_.getAs[Long]("w0_micro")).sum
    val w1 = r.map(_.getAs[Long]("w1_micro")).sum
    // each integer floor loses < 1 micro per domain
    assert(w0 > 1000000L - r.size && w0 <= 1000000L, w0.toString)
    assert(w1 > 1000000L - r.size && w1 <= 1000000L, w1.toString)
    // exponentiated gradient: a clearly harder domain must gain at
    // least as much relative weight (1-milli guard for the roundings)
    for (a <- r; b <- r
         if a.getAs[Long]("loss_micro") > b.getAs[Long]("loss_micro") + 1000) {
      val lhs = BigInt(a.getAs[Long]("w1_micro")) * b.getAs[Long]("w0_micro")
      val rhs = BigInt(b.getAs[Long]("w1_micro")) * a.getAs[Long]("w0_micro")
      assert(lhs >= rhs - 2000000, s"$a vs $b")
    }
  }

  test("q_psi: terms nonnegative, smoothed shares sum to one") {
    val r = rows("q_psi")
    assert(r.size == 10)
    for (row <- r)
      assert(row.getAs[Long]("psi_term_micro") >= 0L, row.toString)
    val pe = r.map(_.getAs[Long]("expected_micro")).sum
    assert(pe > 1000000L - 10 && pe <= 1000000L, pe.toString)
  }

  test("q_pinball_eval: thresholds and losses nonnegative for all 5 types") {
    val r = rows("q_pinball_eval")
    assert(r.size == 5)
    for (row <- r) {
      assert(row.getAs[Long]("qhat_cents") >= 0L, row.toString)
      assert(row.getAs[Long]("pinball_cents") >= 0L, row.toString)
      assert(row.getAs[Long]("n_test") > 0L, row.toString)
    }
  }

  test("q_em_gmm_step: mixture weight on the simplex, components ordered") {
    val r = rows("q_em_gmm_step").head
    val pi = r.getAs[Long]("pi1_micro")
    assert(pi >= 0L && pi <= 1000000L, pi.toString)
    // component 1 is initialized low, component 2 high; one E/M step
    // cannot swap them on a fixed fixture
    assert(r.getAs[Long]("mu1_cents") < r.getAs[Long]("mu2_cents"), r.toString)
    assert(r.getAs[Long]("sd1_cents") >= 0L && r.getAs[Long]("sd2_cents") >= 0L)
  }

  test("q_mmr_diversify: three distinct picks per query, greedy order kept") {
    val r = rows("q_mmr_diversify")
    assert(r.size == 60)
    val byQ = r.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 20)
    for ((q, picks) <- byQ) {
      assert(picks.map(_.getAs[Long]("vec_id")).distinct.size == 3, q.toString)
      assert(picks.map(_.getAs[Long]("pos")).sorted == Seq(1L, 2L, 3L))
      // the λ-discounted stage scores can never exceed pure relevance
      // (guarded to nonnegative tops — a hypothetical all-negative
      // fixture would invert the inequality legitimately)
      val s1 = picks.find(_.getAs[Long]("pos") == 1L).get.getAs[Long]("score_micro")
      if (s1 >= 0L)
        for (p <- picks if p.getAs[Long]("pos") > 1L)
          assert(p.getAs[Long]("score_micro") <= s1, s"$q: $picks")
    }
  }

  test("q_chow_test: pooled SSE dominates the split fits (F nonnegative)") {
    val f = rows("q_chow_test").head.getAs[Long]("chow_f_milli")
    // SSE_pooled ≥ SSE_1 + SSE_2 algebraically; ±1 milli rounding slack
    assert(f >= -1L, f.toString)
  }

  test("q_cooks_distance: five days, descending, nonnegative") {
    val r = rows("q_cooks_distance")
    assert(r.size == 5)
    val d = r.map(_.getAs[Long]("cooks_d_micro"))
    assert(d.zip(d.tail).forall { case (a, b) => b <= a }, d.toString)
    assert(d.forall(_ >= 0L), d.toString)
  }

  test("q_breusch_pagan: LM statistic inside [0, n] (R-squared bound)") {
    val r = rows("q_breusch_pagan").head
    val lm = r.getAs[Long]("bp_lm_milli")
    assert(lm >= 0L && lm <= 1000L * r.getAs[Long]("n_days"), lm.toString)
  }

  test("q_gumbel_fit: scale positive, return level beyond the location") {
    val r = rows("q_gumbel_fit").head
    assert(r.getAs[Long]("beta_cents") > 0L, r.toString)
    // −ln(−ln 0.99) ≈ 4.6 > γ, so the P99 return level sits above μ
    assert(r.getAs[Long]("p99_return_cents") > r.getAs[Long]("mu_cents"),
      r.toString)
  }

  test("q_chain_ladder: development factors at least 1 and cumulative") {
    val r = rows("q_chain_ladder")
    assert(r.nonEmpty)
    for (row <- r) {
      // shipped revenue only accumulates with age
      assert(row.getAs[Long]("dev_factor_micro") >= 1000000L, row.toString)
      assert(row.getAs[Long]("cum_cents") > 0L, row.toString)
    }
  }

  test("q_vif: at least 1 and consistent with its own R-squared") {
    val r = rows("q_vif").head
    val vif = r.getAs[Long]("vif_milli")
    val r2 = r.getAs[Long]("r2_micro")
    assert(vif >= 1000L, vif.toString)
    assert(r2 >= 0L && r2 < 1000000L, r2.toString)
    // VIF = 1/(1−R²): recompute from the reported R² within rounding
    val expect = math.round(1000.0 / (1 - r2 / 1e6))
    assert(math.abs(vif - expect) <= 1L, s"vif=$vif expect=$expect")
  }

  test("q_kupiec_pof: LR nonnegative, violations bounded by the test count") {
    val r = rows("q_kupiec_pof").head
    assert(r.getAs[Long]("kupiec_lr_milli") >= 0L, r.toString)
    assert(r.getAs[Long]("violations") >= 0L &&
      r.getAs[Long]("violations") <= r.getAs[Long]("n_test"), r.toString)
  }

  test("q_conductance: ratios on [0,1], cut bounded by volume") {
    val r = rows("q_conductance")
    assert(r.nonEmpty)
    for (row <- r) {
      val phi = row.getAs[Long]("conductance_micro")
      assert(phi >= 0L && phi <= 1000000L, row.toString)
      assert(row.getAs[Long]("cut_w") <= row.getAs[Long]("volume"), row.toString)
    }
  }

  test("q_yule_k: Simpson micro bounded by 1, vocab bounded by tokens") {
    val r = rows("q_yule_k").head
    assert(r.getAs[Long]("simpson_micro") >= 0L &&
      r.getAs[Long]("simpson_micro") <= 1000000L, r.toString)
    assert(r.getAs[Long]("vocab") <= r.getAs[Long]("n_tokens"), r.toString)
    assert(r.getAs[Long]("yule_k_milli") >= 0L, r.toString)
  }

  test("q_silhouette: scores in [-1, 1] for every label") {
    val r = rows("q_silhouette")
    assert(r.size == 10)
    for (row <- r) {
      val s = row.getAs[Long]("mean_sil_micro")
      assert(s >= -1000000L && s <= 1000000L, row.toString)
      assert(row.getAs[Long]("n_points") > 0L, row.toString)
    }
  }

  test("q_davies_bouldin: positive index over the full label set") {
    val r = rows("q_davies_bouldin").head
    assert(r.getAs[Long]("k") == 10L, r.toString)
    assert(r.getAs[Long]("db_milli") > 0L, r.toString)
  }

  test("q_page_hinkley: PH nonnegative with a consistent alarm flag") {
    val r = rows("q_page_hinkley").head
    val ph = r.getAs[Long]("ph_max_micro")
    // PH_t = m_t − min m_s ≥ 0 by construction
    assert(ph >= 0L, r.toString)
    assert(r.getAs[Long]("alarm") == (if (ph > 2000000000L) 1L else 0L),
      r.toString)
    assert(r.getAs[Long]("peak_day") >= 1L &&
      r.getAs[Long]("peak_day") <= r.getAs[Long]("n_days"), r.toString)
  }

  test("q_rec_coverage: coverage on [0,1], novelty positive") {
    val r = rows("q_rec_coverage").head
    assert(r.getAs[Long]("n_recommended") <= r.getAs[Long]("n_catalog"))
    val cov = r.getAs[Long]("coverage_micro")
    assert(cov > 0L && cov <= 1000000L, cov.toString)
    assert(r.getAs[Long]("novelty_milli") > 0L,
      "every popularity share < 1 makes -log2 positive")
  }

  test("q_brand_switch: off-diagonal flows, descending, rates on [0,1]") {
    val r = rows("q_brand_switch")
    assert(r.size == 15)
    val n = r.map(_.getAs[Long]("n"))
    assert(n.zip(n.tail).forall { case (a, b) => b <= a }, n.toString)
    for (row <- r) {
      assert(row.getAs[String]("from_brand") != row.getAs[String]("to_brand"))
      val rate = row.getAs[Long]("rate_micro")
      assert(rate > 0L && rate <= 1000000L, row.toString)
    }
  }

  test("q_cross_elasticity: joined day count positive") {
    val r = rows("q_cross_elasticity").head
    assert(r.getAs[Long]("n_days") > 1L, r.toString)
  }

  test("q_rake_keywords: 15 phrases, each at most 3 tokens, scores positive") {
    val r = rows("q_rake_keywords")
    assert(r.size == 15)
    val scores = r.map(_.getAs[Long]("score_micro"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    for (row <- r) {
      assert(row.getAs[String]("phrase").split(" ").length <= 3, row.toString)
      assert(row.getAs[Long]("score_micro") > 0L, row.toString)
      assert(row.getAs[Long]("n_occurrences") >= 1L, row.toString)
    }
  }

  test("q_good_turing: SGT discounts once-seen mass (r* < r at r = 1 when N2 < 2N1)") {
    val r = rows("q_good_turing")
    assert(r.nonEmpty && r.size <= 5)
    for (row <- r) {
      val rr = row.getAs[Long]("r")
      val nr = row.getAs[Long]("n_r")
      val nNext = row.getAs[Long]("n_next")
      assert(rr >= 1L && rr <= 5L && nr >= 1L, row.toString)
      // r* = (r+1)·N_{r+1}/N_r exactly (integer micro)
      assert(row.getAs[Long]("r_star_micro") ==
        1000000L * (rr + 1) * nNext / nr, row.toString)
    }
    // Zipfian spectra are decreasing in the low-count region: N1 > N2
    val byR = r.map(x => x.getAs[Long]("r") -> x.getAs[Long]("n_r")).toMap
    if (byR.contains(1L) && byR.contains(2L))
      assert(byR(1L) > byR(2L), byR.toString)
  }

  test("q_chao1: estimated richness at least the observed vocabulary") {
    val r = rows("q_chao1").head
    val vocab = r.getAs[Long]("vocab")
    assert(vocab > 0L)
    assert(r.getAs[Long]("f1") + r.getAs[Long]("f2") <= vocab, r.toString)
    assert(r.getAs[Long]("chao1_milli") >= 1000L * vocab, r.toString)
    val cov = r.getAs[Long]("coverage_micro")
    assert(cov >= 0L && cov <= 1000000L, r.toString)
  }

  test("q_dispersion: DP on [0,1] for all ten top words") {
    val r = rows("q_dispersion")
    assert(r.size == 10)
    for (row <- r) {
      val dp = row.getAs[Long]("dp_micro")
      assert(dp >= 0L && dp <= 1000000L, row.toString)
      assert(row.getAs[Long]("n_occurrences") > 0L, row.toString)
    }
  }

  test("q_bartlett: statistic defined and consistent with the k-group design") {
    val r = rows("q_bartlett").head
    assert(r.getAs[Long]("k") >= 2L, r.toString)
    assert(r.getAs[Long]("n") > r.getAs[Long]("k"), r.toString)
    // B >= 0 up to the nano-quantization of the per-group ln terms
    assert(r.getAs[Long]("b_stat_milli") >= -1L, r.toString)
  }

  test("q_rate_ratio: CI brackets the point estimate, exposures partition the calendar") {
    val r = rows("q_rate_ratio").head
    assert(r.getAs[Long]("weekday_events") > 0L && r.getAs[Long]("weekend_events") > 0L)
    // 5 weekdays vs 2 weekend days per week
    assert(r.getAs[Long]("weekday_days") > r.getAs[Long]("weekend_days"), r.toString)
    val rr = r.getAs[Long]("rr_milli")
    assert(r.getAs[Long]("rr_lo_milli") <= rr && rr <= r.getAs[Long]("rr_hi_milli"),
      r.toString)
  }

  test("q_periodogram: 13 candidate periods, nonnegative power") {
    val r = rows("q_periodogram")
    assert(r.map(_.getAs[Long]("period_days")) == (2L to 14L))
    for (row <- r) assert(row.getAs[Long]("power_kilo") >= 0L, row.toString)
  }

  test("q_kendall_w: concordance on [0,1] over the full day-by-type grid") {
    val r = rows("q_kendall_w").head
    assert(r.getAs[Long]("n_days") > 1L && r.getAs[Long]("m_judges") >= 2L)
    val w = r.getAs[Long]("w_micro")
    assert(w >= 0L && w <= 1000000L, r.toString)
  }

  test("q_katz: positive descending scores; katz dominated by the full geometric sum") {
    val r = rows("q_katz")
    assert(r.size == 15)
    val k = r.map(_.getAs[Long]("katz_micro"))
    assert(k.zip(k.tail).forall { case (a, b) => a >= b }, k.toString)
    assert(k.forall(_ > 0L), k.toString)
  }

  test("q_adamic_adar: AA positive, at least cn/ln(maxdeg) by construction") {
    val r = rows("q_adamic_adar")
    assert(r.nonEmpty && r.size <= 20)
    val aa = r.map(_.getAs[Long]("aa_micro"))
    assert(aa.zip(aa.tail).forall { case (a, b) => a >= b }, aa.toString)
    for (row <- r) {
      // every common neighbor contributes at least 1/ln(deg) > 0, and
      // since deg >= 2 each term is at most 1/ln 2 ≈ 1.4427
      val cn = row.getAs[Long]("cn")
      assert(cn >= 1L, row.toString)
      assert(row.getAs[Long]("aa_micro") > 0L, row.toString)
      assert(row.getAs[Long]("aa_micro") <= math.ceil(cn * 1e6 / math.log(2)).toLong,
        row.toString)
    }
  }

  test("q_gini_customer: gini on [0,1) and zero under a degenerate single rank") {
    val r = rows("q_gini_customer").head
    assert(r.getAs[Long]("n_customers") > 1L)
    assert(r.getAs[Long]("total_cents") > 0L)
    val g = r.getAs[Long]("gini_micro")
    // integer div may shave a micro below 0 on a perfectly equal fixture
    assert(g >= -1L && g < 1000000L, r.toString)
  }

  test("q_croston: components consistent — rate equals units/span, interval >= 1") {
    val r = rows("q_croston")
    assert(r.nonEmpty)
    for (row <- r) {
      assert(row.getAs[Long]("active_months") >= 1L, row.toString)
      assert(row.getAs[Long]("active_months") <= row.getAs[Long]("span_months"),
        row.toString)
      assert(row.getAs[Long]("mean_interval_milli") >= 1000L, row.toString)
      assert(row.getAs[Long]("rate_milli") ==
        1000L * row.getAs[Long]("units") / row.getAs[Long]("span_months"),
        row.toString)
    }
  }

  test("q_sttr: per-block TTR bounded by 1, every source represented") {
    val r = rows("q_sttr")
    assert(r.nonEmpty)
    for (row <- r) {
      assert(row.getAs[Long]("n_blocks") >= 1L, row.toString)
      val sttr = row.getAs[Long]("sttr_micro")
      // ≤ 25 types in a 25-token block ⇒ STTR ∈ (0, 1]
      assert(sttr > 0L && sttr <= 1000000L, row.toString)
    }
  }

  test("q_ngram_contamination: contaminated docs bounded by test docs, rates on [0,1]") {
    val r = rows("q_ngram_contamination")
    assert(r.nonEmpty)
    for (row <- r) {
      val docs = row.getAs[Long]("n_test_docs")
      val cont = row.getAs[Long]("n_contaminated")
      assert(docs >= 1L && cont >= 0L && cont <= docs, row.toString)
      val hit = row.getAs[Long]("gram_hit_micro")
      assert(hit >= 0L && hit <= 1000000L, row.toString)
      // a doc with zero hits cannot carry a positive rate and vice versa:
      // if nothing is contaminated the hit mass must be zero
      if (cont == 0L) assert(hit == 0L, row.toString)
    }
  }

  test("q_atkinson: index on [0,1) and zero only when all revenues equal") {
    val r = rows("q_atkinson").head
    assert(r.getAs[Long]("n_customers") > 1L)
    assert(r.getAs[Long]("mean_cents") > 0L)
    val a = r.getAs[Long]("atkinson_micro")
    // AM-GM: geomean <= mean, so A >= 0 (up to one micro of quantization)
    assert(a >= -1L && a < 1000000L, r.toString)
  }

  test("q_huber_step: weights only shrink the slope's variance side — both fits finite") {
    val r = rows("q_huber_step").head
    assert(r.getAs[Long]("n_days") > 4L)
    assert(r.getAs[Long]("n_downweighted") >= 0L &&
      r.getAs[Long]("n_downweighted") < r.getAs[Long]("n_days"), r.toString)
    // a robust step cannot blow the slope up by orders of magnitude on a
    // stationary fixture
    val o = r.getAs[Long]("ols_slope_milli")
    val h = r.getAs[Long]("huber_slope_milli")
    assert(math.abs(h - o) <= math.abs(o) + 100000L, r.toString)
  }

  test("q_negbin_fit: dispersion consistent with the r/p branch taken") {
    val r = rows("q_negbin_fit").head
    assert(r.getAs[Long]("n_users") > 1L)
    val disp = r.getAs[Long]("dispersion_micro")
    val nbR = r.getAs[Long]("nb_r_milli")
    val nbP = r.getAs[Long]("nb_p_micro")
    assert(disp > 0L, r.toString)
    if (disp > 1000000L) {
      // overdispersed: a real NB fit with p = mu/v on (0,1)
      assert(nbR > 0L && nbP > 0L && nbP < 1000000L, r.toString)
    } else {
      // equidispersed fallback: r = 0 sentinel, p = 1
      assert(nbR == 0L && nbP == 1000000L, r.toString)
    }
  }

  test("q_decay_popularity: decayed score never exceeds fresh-sale mass") {
    val r = rows("q_decay_popularity")
    assert(r.nonEmpty && r.size <= 15)
    val sc = r.map(_.getAs[Long]("decay_score_micro"))
    assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, sc.toString)
    for (row <- r) {
      // each sale contributes at most 1e6 (age 0) and at least 0
      assert(row.getAs[Long]("decay_score_micro") <=
        row.getAs[Long]("n_sales") * 1000000L, row.toString)
      assert(row.getAs[Long]("decay_score_micro") >= 0L, row.toString)
    }
  }

  test("q_zonemap_prune: the sorted layout never scans more files than natural order") {
    val r = rows("q_zonemap_prune")
    assert(r.size == 2)
    val by = r.map(x => x.getAs[String]("layout") -> x).toMap
    val nat = by("natural")
    val srt = by("value_sorted")
    assert(nat.getAs[Long]("n_files") == 64L && srt.getAs[Long]("n_files") == 64L)
    // sorting on the filter column confines a value band to contiguous
    // files; insertion order cannot do better
    assert(srt.getAs[Long]("files_scanned") <= nat.getAs[Long]("files_scanned"),
      r.toString)
    for (row <- r) {
      val scanned = row.getAs[Long]("files_scanned")
      assert(scanned >= 0L && scanned <= 64L, row.toString)
    }
  }

  test("q_bcg_matrix: quadrant labels consistent with the share/growth thresholds") {
    val r = rows("q_bcg_matrix")
    assert(r.nonEmpty)
    val shareSum = r.map(_.getAs[Long]("share_micro")).sum
    // shares partition the recent half (up to one micro per brand of div loss)
    assert(shareSum <= 1000000L && shareSum >= 1000000L - r.size, shareSum.toString)
    val uniform = 1000000L / r.size
    for (row <- r) {
      val hiShare = row.getAs[Long]("share_micro") >= uniform
      val hiGrowth = row.getAs[Long]("growth_milli") >= 1000L
      val want = (hiShare, hiGrowth) match {
        case (true, true) => "star"
        case (true, false) => "cash_cow"
        case (false, true) => "question_mark"
        case _ => "dog"
      }
      assert(row.getAs[String]("quadrant") == want, row.toString)
    }
  }

  test("q_wilcoxon: W+ bounded by the total rank sum") {
    val r = rows("q_wilcoxon").head
    val n = r.getAs[Long]("n_nonzero_days")
    assert(n > 2L)
    val wp = r.getAs[Long]("w_plus")
    assert(wp >= 0L && wp <= n * (n + 1) / 2, r.toString)
  }

  test("q_rolling_slope: extreme days inside the track, max at least min") {
    val r = rows("q_rolling_slope").head
    assert(r.getAs[Long]("n_windows") > 0L)
    assert(r.getAs[Long]("max_slope_milli") >= r.getAs[Long]("min_slope_milli"),
      r.toString)
    // every reported day ends a FULL 30-day window
    assert(r.getAs[Long]("max_day") >= 30L && r.getAs[Long]("min_day") >= 30L,
      r.toString)
  }

  test("q_turning_points: count bounded by interior days") {
    val r = rows("q_turning_points").head
    val n = r.getAs[Long]("n_days")
    assert(n > 2L)
    val t = r.getAs[Long]("turning_points")
    assert(t >= 0L && t <= n - 2L, r.toString)
  }

  test("q_spectral_entropy: normalized entropy on [0,1] over 13 periods") {
    val r = rows("q_spectral_entropy").head
    assert(r.getAs[Long]("n_periods") == 13L)
    val h = r.getAs[Long]("spectral_entropy_micro")
    assert(h >= 0L && h <= 1000001L, r.toString)
  }

  test("q_kmv_distinct: estimate within the k=256 relative-error envelope") {
    val r = rows("q_kmv_distinct").head
    val exact = r.getAs[Long]("exact_distinct")
    val est = r.getAs[Long]("kmv_estimate")
    assert(exact > 0L && est > 0L)
    if (r.getAs[Long]("k_used") < 256L) assert(est == exact, r.toString)
    else {
      // KMV rse ≈ 1/sqrt(k-2) ≈ 6.3%; allow 5 sigma
      val tol = (exact * 0.315).toLong + 1
      assert(math.abs(est - exact) <= tol, s"est=$est exact=$exact")
    }
  }

  test("q_kpss: eta matches an independent BigInt replay and the flag is consistent") {
    val r = rows("q_kpss").head
    assert(r.getAs[Long]("n_days") > 2L)
    val eta = r.getAs[Long]("kpss_eta_micro")
    assert(eta > 0L, r.toString)
    val reject = r.getAs[Long]("reject_stationarity")
    if (eta > 464000L) assert(reject == 1L, r.toString)
    if (eta < 462000L) assert(reject == 0L, r.toString)
    // independent sequential replay of the textbook statistic
    // η = Σ Sₜ² / (n²·σ̂²) with σ̂² = Σe²/n, i.e. η = Σ Sₜ² / (n·Σe²),
    // in exact BigInt over the UNSCALED demeaned series times n (the
    // same integralization the query uses) — pins the r12 factor-of-n
    // bug class: η/n would miss by ~700× here
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(sum(expr("CAST(round(value*100) AS BIGINT)")).as("y"))
      .orderBy("d").collect().map(_.getAs[Long]("y"))
    val n = BigInt(daily.length)
    val sy = daily.map(BigInt(_)).sum
    val dm = daily.map(y => BigInt(y) * n - sy)
    val ss2 = dm.scanLeft(BigInt(0))(_ + _).tail.map(s => s * s).sum
    val sd2 = dm.map(e => e * e).sum
    val etaReplay =
      math.round(1e6 * ss2.toDouble / n.toDouble / sd2.toDouble)
    assert(eta == etaReplay, s"query=$eta replay=$etaReplay")
  }

  test("q_sax_motifs: 5-letter words over {a,b,c}, window counts bounded by days") {
    val r = rows("q_sax_motifs")
    assert(r.nonEmpty && r.size <= 5)
    val n = r.map(_.getAs[Long]("n_windows"))
    assert(n.zip(n.tail).forall { case (a, b) => a >= b }, n.toString)
    for (row <- r) {
      val w = row.getAs[String]("word")
      assert(w.length == 5 && w.forall("abc".contains(_)), row.toString)
      assert(row.getAs[Long]("n_windows") >= 1L, row.toString)
    }
  }

  test("q_jelinek_mercer: lambdas form a distribution and bigram evidence dominates") {
    val r = rows("q_jelinek_mercer").head
    assert(r.getAs[Long]("heldout_bigrams") > 0L)
    val lb = r.getAs[Long]("lambda_bigram_micro")
    val lu = r.getAs[Long]("lambda_unigram_micro")
    val lf = r.getAs[Long]("lambda_uniform_micro")
    val sum = lb + lu + lf
    assert(sum >= 999000L && sum <= 1000000L, s"sum=$sum")
    // some held-out bigrams reappear in train, so the bigram component
    // carries mass; and the DATA-driven components together must beat
    // the uniform floor (at sf0.001 most held-out bigrams are unseen,
    // so bigram-vs-unigram dominance is corpus-size-dependent — not a law)
    assert(lb > 0L, s"lb=$lb lu=$lu lf=$lf")
    assert(lb + lu > lf, s"lb=$lb lu=$lu lf=$lf")
  }

  test("q_weighted_median: the weighted median is an attained price per brand") {
    val r = rows("q_weighted_median")
    assert(r.nonEmpty)
    for (row <- r) {
      assert(row.getAs[Long]("total_units") > 0L, row.toString)
      assert(row.getAs[Long]("weighted_median_cents") > 0L, row.toString)
    }
  }

  test("q_graph_matching: a matching — paired nodes at most all nodes, edges disjoint") {
    val r = rows("q_graph_matching").head
    assert(r.getAs[Long]("n_edges") > 0L)
    val m = r.getAs[Long]("n_matched")
    assert(m >= 1L && m <= r.getAs[Long]("n_edges"), r.toString)
    val share = r.getAs[Long]("paired_share_micro")
    assert(share > 0L && share <= 1000000L, r.toString)
    assert(r.getAs[Long]("matched_weight") >= m, r.toString)
  }

  test("q_bow_dedup: every family has >1 copy; reorder dups show fewer distinct texts") {
    val r = rows("q_bow_dedup")
    assert(r.nonEmpty)
    var sawReorder = false
    for (row <- r) {
      val copies = row.getAs[Long]("n_copies")
      val distinct = row.getAs[Long]("n_distinct_texts")
      assert(copies > 1L && distinct >= 1L && distinct <= copies, row.toString)
      if (distinct > 1L) sawReorder = true
    }
    // the salted reversed copies guarantee at least one family whose
    // members are byte-DISTINCT but bag-equal
    assert(sawReorder, r.take(5).toString)
  }

  test("q_template_mining: family sizes descending, distinct texts bounded by size") {
    val r = rows("q_template_mining")
    assert(r.nonEmpty && r.size <= 10)
    val n = r.map(_.getAs[Long]("n_docs"))
    assert(n.zip(n.tail).forall { case (a, b) => a >= b }, n.toString)
    for (row <- r)
      assert(row.getAs[Long]("n_distinct_texts") <= row.getAs[Long]("n_docs"),
        row.toString)
  }

  test("q_disorder_profile: watermark losses nest — longer watermarks drop fewer events") {
    val r = rows("q_disorder_profile").head
    assert(r.getAs[Long]("n_events") > 0L)
    val l1 = r.getAs[Long]("lost_at_1m_micro")
    val l5 = r.getAs[Long]("lost_at_5m_micro")
    val l15 = r.getAs[Long]("lost_at_15m_micro")
    val late = r.getAs[Long]("late_share_micro")
    assert(late >= l1 && l1 >= l5 && l5 >= l15 && l15 >= 0L, r.toString)
    if (late == 0L) assert(r.getAs[Long]("max_late_sec") == 0L, r.toString)
  }

  test("q_bradley_terry: strengths normalize; wins bounded by comparisons") {
    val r = rows("q_bradley_terry")
    assert(r.nonEmpty)
    val s = r.map(_.getAs[Long]("strength_micro")).sum
    assert(s <= 1000000L && s >= 1000000L - r.size, s.toString)
    for (row <- r)
      assert(row.getAs[Long]("wins_milli") <=
        row.getAs[Long]("n_comparisons") * 1000L, row.toString)
    // symmetry: total win mass is exactly half the total comparison mass
    // (every pair-day contributes 1000 milli split between its two arms)
    val w = r.map(_.getAs[Long]("wins_milli")).sum
    val n = r.map(_.getAs[Long]("n_comparisons")).sum
    assert(w * 2 == n * 1000L, s"w=$w n=$n")
  }

  test("q_time_decay_attribution: total credit equals one per converting user") {
    val r = rows("q_time_decay_attribution")
    assert(r.nonEmpty)
    val totalCredit = r.map(_.getAs[Long]("credit_micro_total")).sum
    // each user's credits sum to 1e6 minus at most (touches-1) micro of
    // integer-div loss; bound via the global touch count
    val touches = r.map(_.getAs[Long]("n_touches")).sum
    assert(totalCredit > 0L && totalCredit % 1 == 0)
    assert(totalCredit <= touches * 1000000L, r.toString)
  }

  test("q_unigram_sampling: 3/4-power flattens the head — top share below raw share") {
    val r = rows("q_unigram_sampling")
    assert(r.size == 30)
    val p = r.map(_.getAs[Long]("p_micro"))
    assert(p.zip(p.tail).forall { case (a, b) => a >= b }, p.toString)
    assert(p.forall(x => x > 0L && x < 1000000L), p.toString)
    // the 0.75 power preserves the count order on the top words
    val c = r.map(_.getAs[Long]("n_occurrences"))
    assert(c.zip(c.tail).forall { case (a, b) => a >= b }, c.toString)
  }

  test("q_iv_wald: arms populated; a vanished first stage forces the zero sentinel") {
    val r = rows("q_iv_wald").head
    assert(r.getAs[Long]("n_z0") > 0L && r.getAs[Long]("n_z1") > 0L)
    if (r.getAs[Long]("first_stage_micro") == 0L)
      assert(r.getAs[Long]("wald_beta_milli") == 0L, r.toString)
  }

  test("q_reg_discontinuity: effect equals the gap of the two side intercepts") {
    val r = rows("q_reg_discontinuity").head
    assert(r.getAs[Long]("n_left") > 2L && r.getAs[Long]("n_right") > 2L)
    val gap = r.getAs[Long]("right_at_cutoff_milli") -
      r.getAs[Long]("left_at_cutoff_milli")
    // identical up to the two independent roundings
    assert(math.abs(r.getAs[Long]("rd_effect_milli") - gap) <= 1L, r.toString)
  }

  test("q_loo_source_influence: influences cancel — dropping everything is dropping nothing") {
    val r = rows("q_loo_source_influence")
    assert(r.nonEmpty)
    // each row's identity: removing source j moves the mean by
    // n_j/(N - n_j) * (mean - mean_j); signs must oppose the source's
    // own deviation from the corpus mean
    val corpusMeanApprox = {
      val n = r.map(_.getAs[Long]("n_docs")).sum.toDouble
      r.map(x => x.getAs[Long]("source_mean_micro").toDouble *
        x.getAs[Long]("n_docs")).sum / n
    }
    for (row <- r) {
      val dev = row.getAs[Long]("source_mean_micro") - corpusMeanApprox
      val inf = row.getAs[Long]("loo_influence_micro")
      // a source above the mean must have nonpositive-ish LOO influence
      if (math.abs(dev) > 1000) assert(dev * inf < 0, s"$row dev=$dev")
    }
  }

  test("q_greedy_coverage: gains strictly decrease and picks are distinct") {
    val r = rows("q_greedy_coverage")
    assert(r.size == 5)
    val gains = r.map(_.getAs[Long]("gain"))
    // submodularity: marginal gains are non-increasing
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b }, gains.toString)
    assert(gains.forall(_ >= 0L))
    val picks = r.map(_.getAs[Long]("doc_id"))
    assert(picks.distinct.size == picks.size, picks.toString)
  }

  test("q_pii_scan: hit-doc counts bounded by doc counts; digit hits cover digit docs") {
    val r = rows("q_pii_scan")
    assert(r.nonEmpty)
    for (row <- r) {
      val docs = row.getAs[Long]("n_docs")
      assert(docs > 0L)
      for (c <- Seq("email_docs", "phone_docs", "digitrun_docs"))
        assert(row.getAs[Long](c) >= 0L && row.getAs[Long](c) <= docs, row.toString)
      assert(row.getAs[Long]("digitrun_hits") >= row.getAs[Long]("digitrun_docs"),
        row.toString)
    }
  }

  test("q_domain_ppl: per-source PPL at least 1; every source scored") {
    val r = rows("q_domain_ppl")
    assert(r.nonEmpty)
    for (row <- r) {
      assert(row.getAs[Long]("test_bigrams") > 0L, row.toString)
      // perplexity of a proper distribution is >= 1
      assert(row.getAs[Long]("ppl_milli") >= 1000L, row.toString)
    }
  }

  test("q_cdc_compact: tombstoned + live partition the keys; live checksum positive") {
    val r = rows("q_cdc_compact").head
    val keys = r.getAs[Long]("n_keys")
    assert(keys > 0L)
    assert(r.getAs[Long]("n_tombstoned") + r.getAs[Long]("n_live") == keys,
      r.toString)
    assert(r.getAs[Long]("live_cents") > 0L, r.toString)
  }

  test("q_scd2_asof: as-of population bounded by the purchase-user count") {
    val r = rows("q_scd2_asof")
    assert(r.nonEmpty)
    val total = r.map(_.getAs[Long]("n_users_asof")).sum
    // exactly one dimension version per user is valid at any instant,
    // so the as-of population is at most one row per purchasing user
    val users = SparkEntry.queries("q_cdc_compact")(spark, sf)
      .collect().head.getAs[Long]("n_keys")
    assert(total > 0L && total <= users, s"asof=$total users<=$users")
  }

  test("q_ucb1: every arm's UCB strictly exceeds its mean; pulls partition the total") {
    val r = rows("q_ucb1")
    assert(r.nonEmpty)
    val ucb = r.map(_.getAs[Long]("ucb_milli"))
    assert(ucb.zip(ucb.tail).forall { case (a, b) => a >= b }, ucb.toString)
    val total = r.map(_.getAs[Long]("pulls")).sum
    for (row <- r) {
      assert(row.getAs[Long]("ucb_milli") > row.getAs[Long]("mean_milli"),
        row.toString) // the exploration bonus is strictly positive
      assert(row.getAs[Long]("successes") <= row.getAs[Long]("pulls"), row.toString)
      assert(row.getAs[Long]("pulls") < total, row.toString)
    }
  }

  test("q_join_size_est: exact join size at least the row count of the smaller side") {
    val r = rows("q_join_size_est").head
    val act = r.getAs[Long]("actual_rows")
    // every lineitem has an order parent in the fixture, so the exact
    // join size equals the lineitem count; the estimate shares the
    // d = max(d_a, d_b) denominator and lands within rounding of it
    assert(act == r.getAs[Long]("n_lineitems"), r.toString)
    val ratio = r.getAs[Long]("est_over_actual_milli")
    assert(ratio >= 900L && ratio <= 1100L, r.toString)
  }

  test("q_ridge_closed: shrinkage nonnegative and coefficients move toward zero") {
    val r = rows("q_ridge_closed").head
    assert(r.getAs[Long]("n_obs") > 2L)
    val s = r.getAs[Long]("shrinkage_micro")
    assert(s >= 0L && s <= 1000000L, r.toString)
    assert(math.abs(r.getAs[Long]("ridge_b1_milli")) +
      math.abs(r.getAs[Long]("ridge_b2_milli")) <=
      math.abs(r.getAs[Long]("ols_b1_milli")) +
        math.abs(r.getAs[Long]("ols_b2_milli")) + 2L, r.toString)
  }
}
