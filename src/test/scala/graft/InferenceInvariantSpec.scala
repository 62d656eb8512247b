package graft

import org.apache.spark.sql.Row

/** Mathematical invariants of the round-8 inference / training / graph
  * operators — properties the DuckDB hash-oracle cannot state (it pins
  * VALUES; these pin the LAWS the values must obey, so a fixture
  * regeneration that keeps the oracle green but breaks a law still
  * fails loudly). Fixture: sf0.001.
  */
class InferenceInvariantSpec extends ReleasesPins {

  private def rows(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, sf).collect().toSeq

  test("q_survival_km: S(t) is monotone non-increasing and within [0, 1e6]") {
    val s = rows("q_survival_km").map(_.getAs[Long]("s_micro"))
    assert(s.nonEmpty)
    assert(s.forall(v => v >= 0L && v <= 1000000L))
    assert(s.zip(s.tail).forall { case (a, b) => b <= a }, s"not monotone: $s")
  }

  test("q_kcore: per-round node and edge counts are monotone non-increasing") {
    val r = rows("q_kcore").sortBy(_.getAs[Int]("round"))
    val nodes = r.map(_.getAs[Long]("nodes"))
    val edges = r.map(_.getAs[Long]("edges"))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => b <= a })
    assert(edges.zip(edges.tail).forall { case (a, b) => b <= a })
  }

  test("q_ndcg: ndcg is in [0, 1000] and hits=0 rows score exactly 0") {
    val r = rows("q_ndcg")
    assert(r.nonEmpty)
    for (row <- r) {
      val ndcg = row.getAs[Long]("ndcg_milli")
      assert(ndcg >= 0L && ndcg <= 1000L, row.toString)
      if (row.getAs[Long]("hits") == 0L) assert(ndcg == 0L, row.toString)
      // DCG can never exceed the ideal ordering's DCG
      assert(row.getAs[Long]("dcg_micro") <= row.getAs[Long]("idcg_micro"),
        row.toString)
    }
  }

  test("q_bootstrap_ci: the interval brackets itself and covers the point estimate") {
    val r = rows("q_bootstrap_ci").head
    val (lo, hi) = (r.getAs[Long]("boot_lo_micro"), r.getAs[Long]("boot_hi_micro"))
    val mean = r.getAs[Long]("mean_micro")
    assert(lo <= hi)
    // Poisson resamples center on the sample mean; on this fixture the
    // 95% interval comfortably contains it
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] misses mean $mean")
  }

  test("q_mannwhitney: U1 + U2 = n1*n2 (in doubled units) and AUC in [0, 1e6]") {
    val r = rows("q_mannwhitney").head
    val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
    val u1x2 = r.getAs[Long]("u1_x2")
    assert(u1x2 >= 0L && u1x2 <= 2L * n1 * n2)
    val auc = r.getAs[Long]("auc_micro")
    assert(auc >= 0L && auc <= 1000000L)
  }

  test("q_propensity_strat: stratum sizes partition the user base; ATE row present") {
    val r = rows("q_propensity_strat")
    val strata = r.filter(_.getAs[Int]("stratum") > 0)
    val naive = r.filter(_.getAs[Int]("stratum") == 0).head
    assert(r.exists(_.getAs[Int]("stratum") == -1))
    val strataUsers = strata.map(x => x.getAs[Long]("n_t") + x.getAs[Long]("n_c")).sum
    assert(strataUsers == naive.getAs[Long]("n_t") + naive.getAs[Long]("n_c"))
  }

  test("q_logreg_irls: both steps move beta0 toward the base-rate logit") {
    val r = rows("q_logreg_irls").head
    val (n, nPos) = (r.getAs[Long]("n"), r.getAs[Long]("n_pos"))
    val target = math.log(nPos.toDouble / (n - nPos)) * 1e6
    val b1 = r.getAs[Long]("beta0_micro").toDouble
    val b2 = r.getAs[Long]("beta0_2_micro").toDouble
    assert(math.abs(b2 - target) < math.abs(b1 - target),
      s"step 2 ($b2) did not improve on step 1 ($b1) toward $target")
  }

  test("q_stump_split: the chosen split is a proper partition of the rows") {
    val r = rows("q_stump_split").head
    assert(r.getAs[Long]("n_left") > 0 && r.getAs[Long]("n_right") > 0)
    assert(r.getAs[Long]("pos_left") <= r.getAs[Long]("n_left"))
    assert(r.getAs[Long]("pos_right") <= r.getAs[Long]("n_right"))
    val thr = r.getAs[Long]("threshold_milli")
    assert(thr > r.getAs[Long]("vmin") && thr <= r.getAs[Long]("vmax"))
  }

  test("q_t_closeness: max >= avg >= min and all within [0, 1e6]") {
    val r = rows("q_t_closeness").head
    val (mx, av, mn) = (r.getAs[Long]("t_closeness_micro"),
      r.getAs[Long]("avg_tvd_micro"), r.getAs[Long]("min_tvd_micro"))
    assert(mx >= av && av >= mn && mn >= 0L && mx <= 1000000L)
  }

  test("q_target_encode: every encoding lies between the raw rate and the prior side") {
    // shrinkage: enc is a convex combination of the category rate and the
    // prior, so it lies between them (inclusive, up to 1 micro rounding)
    for (r <- rows("q_target_encode")) {
      val n = r.getAs[Long]("n"); val pos = r.getAs[Long]("pos")
      val raw = pos * 1000000L / n
      val prior = r.getAs[Long]("prior_micro")
      val enc = r.getAs[Long]("enc_micro")
      val (lo, hi) = (math.min(raw, prior) - 1, math.max(raw, prior) + 1)
      assert(enc >= lo && enc <= hi, s"$r raw=$raw")
    }
  }
}
