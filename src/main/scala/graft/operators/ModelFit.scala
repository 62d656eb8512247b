package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Closed-form model fits — distributed training steps whose entire data
  * pass is ONE map-combined moment aggregate, with the solve a driver-free
  * closed form over the exact sums (the U21 family pattern: q_logreg_irls
  * does one IRLS step, q_kmeans_iter one Lloyd step; these do the whole
  * fit because the normal equations close over second moments).
  */
object ModelFit {

  val defs: Seq[QueryDef] = Seq(

    // two-feature OLS with intercept via the 3×3 normal equations
    // (Cramer's rule): purchase value on hour-of-day and day-of-month.
    // The data pass is ONE aggregate of nine exact 128-bit moments
    // (n, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂², Σy, Σx₁y, Σx₂y, Σy²); the
    // determinant expansion and R² are single mirrored IEEE expressions
    // over those integers — at 100 TB the fit costs exactly one scan,
    // no iteration, no driver matrix. Fixture value ⊥ time, so the
    // slopes sit near zero and R² ≈ 0.7%: the honest null.
    QueryDef(
      "q_ols_multi",
      (s, d) => Tables.events(s, d)
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .select(expr("CAST(round(value*100) AS BIGINT)").as("y"),
          expr("CAST(hour(ts) AS BIGINT)").as("x1"),
          expr("CAST(dayofmonth(ts) AS BIGINT)").as("x2"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))")).as("s1"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))")).as("s2"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*x1")).as("s11"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*x2")).as("s12"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))*x2")).as("s22"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*y")).as("s1y"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))*y")).as("s2y"),
          sum(expr("CAST(y AS DECIMAL(38,0))*y")).as("syy"))
        .select(col("n"), expr("CAST(s1 AS DOUBLE)").as("s1"),
          expr("CAST(s2 AS DOUBLE)").as("s2"),
          expr("CAST(s11 AS DOUBLE)").as("s11"),
          expr("CAST(s12 AS DOUBLE)").as("s12"),
          expr("CAST(s22 AS DOUBLE)").as("s22"),
          expr("CAST(sy AS DOUBLE)").as("sy"),
          expr("CAST(s1y AS DOUBLE)").as("s1y"),
          expr("CAST(s2y AS DOUBLE)").as("s2y"),
          expr("CAST(syy AS DOUBLE)").as("syy"))
        .select(col("n"), col("sy"), col("s1y"), col("s2y"), col("syy"),
          expr("n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)")
            .as("det"),
          expr("sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)")
            .as("d0"),
          expr("n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)")
            .as("d1"),
          expr("n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)")
            .as("d2"))
        .select(col("n").cast("long").as("n_obs"),
          expr("CAST(round(d0 / det * 1000) AS BIGINT)").as("b0_milli"),
          expr("CAST(round(d1 / det * 1000) AS BIGINT)").as("b1_milli"),
          expr("CAST(round(d2 / det * 1000) AS BIGINT)").as("b2_milli"),
          expr("""CAST(round((1 - (syy - (d0/det)*sy - (d1/det)*s1y - (d2/det)*s2y)
                 |  / (syy - sy*sy/n)) * 1000000) AS BIGINT)""".stripMargin)
            .as("r2_micro")),
      Some("""WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS y,
             |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1,
             |    CAST(dayofmonth(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x2
             |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
             |m AS (SELECT count(*) AS n,
             |    sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
             |    sum(CAST(x1 AS HUGEINT)*x1) AS s11, sum(CAST(x1 AS HUGEINT)*x2) AS s12,
             |    sum(CAST(x2 AS HUGEINT)*x2) AS s22,
             |    sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(x1 AS HUGEINT)*y) AS s1y,
             |    sum(CAST(x2 AS HUGEINT)*y) AS s2y, sum(CAST(y AS HUGEINT)*y) AS syy
             |  FROM v),
             |d AS (SELECT n, CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
             |    CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
             |    CAST(s22 AS DOUBLE) AS s22, CAST(sy AS DOUBLE) AS sy,
             |    CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
             |    CAST(syy AS DOUBLE) AS syy FROM m),
             |sol AS (SELECT n, sy, s1y, s2y, syy,
             |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
             |    sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS d0,
             |    n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS d1,
             |    n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS d2
             |  FROM d)
             |SELECT CAST(n AS BIGINT) AS n_obs,
             |  CAST(round(d0 / det * 1000) AS BIGINT) AS b0_milli,
             |  CAST(round(d1 / det * 1000) AS BIGINT) AS b1_milli,
             |  CAST(round(d2 / det * 1000) AS BIGINT) AS b2_milli,
             |  CAST(round((1 - (syy - (d0/det)*sy - (d1/det)*s1y - (d2/det)*s2y)
             |    / (syy - sy*sy/n)) * 1000000) AS BIGINT) AS r2_micro
             |FROM sol""".stripMargin)),

    // two gradient-boosting rounds with depth-1 regression stumps on
    // squared loss — the distributed XGBoost-style kernel end to end:
    // f₀ = global mean, stage 1 splits on hour-of-day, stage 2 on
    // day-of-month over the stage-1 residuals. Residuals stay EXACT
    // integer micro-cents at every stage (leaf values are integer divs
    // of exact sums, broadcast back); the split search scores all
    // thresholds from the ≤31-row feature histogram's running sums
    // (the q_stump_split shape — the only data-sized work per stage is
    // one map-combined histogram pass), argmax with a value tiebreak.
    // Train MSE after each stage is an exact 128-bit Σr² — the curve a
    // boosting run is monitored on. Fixture value ⊥ time, so the MSE
    // drop is tiny: the honest null.
    QueryDef(
      "q_gbm_round",
      (s, d) => {
        // r15 optimization (guide §2.3 "aggregate before you shuffle" +
        // §1.1 first-principles pass count): every stage of the
        // two-round boosting kernel is a function of the ≤ 24×31
        // (hour, day) CELL HISTOGRAM (count, Σy, Σy²) — the leaf values
        // because per-cell residual sums are linear in (Σy, n), and the
        // MSEs because Σ(10⁶y − C)² = 10¹²Σy² − 2·10⁶·C·Σy + n·C² with
        // C constant within a cell (exact integer identities, verified
        // against the oracle at both SFs). The old form re-scanned the
        // events fact 5× (global mean, stage-1 histogram, mse1, stage-2
        // histogram, mse2); now ONE map-side-combined pass builds the
        // bounded-domain histogram and everything downstream is
        // arithmetic over ≤ 744 rows (the consumers share the identical
        // subtree, so ReuseExchange runs the fact pass once in-action;
        // a measured pinned-cache variant was SLOWER at bench scale —
        // the materialization barrier costs more than it saves).
        val cell = (Tables.events(s, d)
          .where(col("event_type") === "purchase" && col("value").isNotNull)
          .select(expr("CAST(round(value*100) AS BIGINT)").as("y"),
            expr("CAST(hour(ts) AS BIGINT)").as("x1"),
            expr("CAST(dayofmonth(ts) AS BIGINT)").as("x2"))
          .groupBy("x1", "x2")
          .agg(count(lit(1)).as("nc"),
            sum(expr("CAST(y AS DECIMAL(38,0))")).as("cy"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("cyy")))
        // coalesce(…, 0): on a degenerate zero-purchase input sum(nc)
        // is NULL where the pre-r15 count(lit(1)) form returned 0 —
        // keep n_obs = 0 for that case (r15 advice item 3; the fixture
        // path is unaffected, sums of a non-empty histogram)
        val t0 = cell.agg(coalesce(sum("nc"), lit(0L)).as("n"),
          sum("cy").as("sy"))
        val f0 = t0.select(col("n"),
          expr("CAST(1000000 * sy div n AS BIGINT)").as("f0"))
        // per-cell residual sums for stage 1: Σr = 10⁶·Σy − n·f0
        val cells1 = cell.crossJoin(f0)
          .select(col("x1"), col("x2"), col("nc"), col("cy"), col("cyy"),
            col("f0").as("cc"))
        // r16 job-count fold (guide §5 driver section, verdict item 3):
        // the old chain ran 22 one-task jobs — per stump a separate
        // `tt` totals broadcast, and per stage a separate cells-level
        // MSE aggregate over a rebuilt residual frame (cells2 / cells3).
        // Three folds remove them without changing a single output
        // integer:
        //  - per-feature histogram `hist` also carries qb = Σ(10⁶y−cc)²
        //    per bucket (the same exact per-cell integers the old mseOf
        //    summed, grouped by the feature instead of per cell);
        //  - stump totals ride the SAME single-partition window as the
        //    running sums (an unbounded-following frame, one WindowExec,
        //    ≤31 rows) instead of a broadcast `tt` job;
        //  - each stage's MSE comes from the stump histogram and the
        //    chosen split via the exact identity
        //    Σ(r−g)² = Σr² − 2·g·Σr + n·g² per bucket (g constant within
        //    a bucket), so `cells3` and both cells-level aggregates
        //    disappear. All terms stay DECIMAL(38,0): identical sums of
        //    identical integers, order-free.
        def hist(cs: org.apache.spark.sql.DataFrame, x: String) =
          cs.groupBy(x).agg(sum("nc").as("nb"),
            sum(expr("CAST(1000000 AS DECIMAL(38,0)) * cy " +
              "- CAST(nc AS DECIMAL(38,0)) * cc")).as("sb"),
            sum(expr("""CAST(1000000000000 AS DECIMAL(38,0)) * cyy
                       |  - CAST(2000000 AS DECIMAL(38,0)) * cc * cy
                       |  + CAST(nc AS DECIMAL(38,0)) * cc * cc""".stripMargin))
              .as("qb"))
        // The stump's winner row carries its OWN stage MSE: at the chosen
        // threshold, Σ(r−g)² over all buckets =
        //   Σqb − 2·(gl·sl + gr·sr) + nl·gl² + nr·gr²
        // (g is constant within each side, sl/sr are the winner row's
        // running/remainder sums) — the same exact integers the old
        // cells-level mseOf summed, so no separate MSE aggregate, no
        // rebuilt residual frame, no extra broadcast. ÷10¹² BEFORE the
        // row count (IntegralDivide returns LONG, and Σr²/n alone
        // exceeds 2⁶³ — floor(a/c/n) = floor(a/(c·n)) for a ≥ 0).
        def stump(h: org.apache.spark.sql.DataFrame, x: String, i: Int) = {
          val w = Window.orderBy(x).rowsBetween(Window.unboundedPreceding, 0)
          val wAll = Window.orderBy(x)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          h.select(col(x), sum("nb").over(w).as("nl"), sum("sb").over(w).as("sl"),
              sum("nb").over(wAll).as("n"), sum("sb").over(wAll).as("st"),
              sum("qb").over(wAll).as("qt"))
            .where(col("nl") > 0 && col("nl") < col("n"))
            .select(col(x), col("nl"), col("sl"), col("n"), col("qt"),
              (col("n") - col("nl")).as("nr"), (col("st") - col("sl")).as("sr"),
              expr("pow(CAST(sl AS DOUBLE), 2) / nl + pow(CAST(st - sl AS DOUBLE), 2) / (n - nl)")
                .as("score"))
            .orderBy(col("score").desc, col(x)).limit(1)
            .select(col(x).as(s"thr$i"),
              expr("CAST(sl div nl AS BIGINT)").as(s"gl$i"),
              expr("CAST(sr div nr AS BIGINT)").as(s"gr$i"),
              expr("""CAST((qt
                     |  - CAST(2 AS DECIMAL(38,0))
                     |    * ((sl div nl) * sl + (sr div nr) * sr)
                     |  + CAST(nl AS DECIMAL(38,0)) * (sl div nl) * (sl div nl)
                     |  + CAST(nr AS DECIMAL(38,0)) * (sr div nr) * (sr div nr))
                     |  div 1000000000000 div n AS BIGINT)""".stripMargin)
                .as(s"mse$i"))
        }
        val b1 = stump(hist(cells1, "x1"), "x1", 1)
        // stage-2 per-cell constant: cc = f0 + stage-1 leaf of the cell
        val cells2 = cells1.crossJoin(b1)
          .select(col("x1"), col("x2"), col("nc"), col("cy"), col("cyy"),
            expr("CAST(cc + CASE WHEN x1 <= thr1 THEN gl1 ELSE gr1 END AS BIGINT)")
              .as("cc"))
        val b2 = stump(hist(cells2, "x2"), "x2", 2)
        f0.crossJoin(broadcast(b1)).crossJoin(b2)
          .select(col("n").cast("long").as("n_obs"),
            col("f0").as("f0_micro"),
            col("thr1").cast("long").as("hour_threshold"),
            col("gl1").as("gamma_l1_micro"), col("gr1").as("gamma_r1_micro"),
            col("mse1").as("mse_stage1_cents2"),
            col("thr2").cast("long").as("dom_threshold"),
            col("gl2").as("gamma_l2_micro"), col("gr2").as("gamma_r2_micro"),
            col("mse2").as("mse_stage2_cents2"))
      },
      Some("""WITH e AS (SELECT CAST(round(value*100) AS BIGINT) AS y,
             |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1,
             |    CAST(dayofmonth(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x2
             |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
             |t0 AS (SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS sy FROM e),
             |f0 AS (SELECT n, CAST(1000000 * sy // n AS BIGINT) AS f0 FROM t0),
             |r1 AS (SELECT x1, x2, CAST(1000000 * y - f0 AS BIGINT) AS r FROM e CROSS JOIN f0),
             |h1 AS (SELECT x1, count(*) AS nb, sum(CAST(r AS HUGEINT)) AS sb FROM r1 GROUP BY 1),
             |run1 AS (SELECT x1,
             |    sum(nb) OVER (ORDER BY x1 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
             |    sum(sb) OVER (ORDER BY x1 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
             |  FROM h1),
             |tt1 AS (SELECT sum(nb) AS n, sum(sb) AS st FROM h1),
             |sc1 AS (SELECT x1, nl, sl, n - nl AS nr, st - sl AS sr,
             |    pow(CAST(sl AS DOUBLE), 2) / nl + pow(CAST(st - sl AS DOUBLE), 2) / (n - nl) AS score
             |  FROM run1 CROSS JOIN tt1 WHERE nl > 0 AND nl < n),
             |b1 AS (SELECT x1 AS thr1, CAST(sl // nl AS BIGINT) AS gl1, CAST(sr // nr AS BIGINT) AS gr1
             |  FROM sc1 ORDER BY score DESC, x1 LIMIT 1),
             |r2 AS (SELECT x2, CAST(r - CASE WHEN x1 <= thr1 THEN gl1 ELSE gr1 END AS BIGINT) AS r
             |  FROM r1 CROSS JOIN b1),
             |mse1 AS (SELECT CAST(sum(CAST(r AS HUGEINT) * r) // 1000000000000 // count(*) AS BIGINT) AS mse1 FROM r2),
             |h2 AS (SELECT x2, count(*) AS nb, sum(CAST(r AS HUGEINT)) AS sb FROM r2 GROUP BY 1),
             |run2 AS (SELECT x2,
             |    sum(nb) OVER (ORDER BY x2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
             |    sum(sb) OVER (ORDER BY x2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
             |  FROM h2),
             |tt2 AS (SELECT sum(nb) AS n, sum(sb) AS st FROM h2),
             |sc2 AS (SELECT x2, nl, sl, n - nl AS nr, st - sl AS sr,
             |    pow(CAST(sl AS DOUBLE), 2) / nl + pow(CAST(st - sl AS DOUBLE), 2) / (n - nl) AS score
             |  FROM run2 CROSS JOIN tt2 WHERE nl > 0 AND nl < n),
             |b2 AS (SELECT x2 AS thr2, CAST(sl // nl AS BIGINT) AS gl2, CAST(sr // nr AS BIGINT) AS gr2
             |  FROM sc2 ORDER BY score DESC, x2 LIMIT 1),
             |r3 AS (SELECT CAST(r - CASE WHEN x2 <= thr2 THEN gl2 ELSE gr2 END AS BIGINT) AS r
             |  FROM r2 CROSS JOIN b2),
             |mse2 AS (SELECT CAST(sum(CAST(r AS HUGEINT) * r) // 1000000000000 // count(*) AS BIGINT) AS mse2 FROM r3)
             |SELECT (SELECT CAST(n AS BIGINT) FROM t0) AS n_obs,
             |  (SELECT f0 FROM f0) AS f0_micro,
             |  (SELECT CAST(thr1 AS BIGINT) FROM b1) AS hour_threshold,
             |  (SELECT gl1 FROM b1) AS gamma_l1_micro, (SELECT gr1 FROM b1) AS gamma_r1_micro,
             |  (SELECT mse1 FROM mse1) AS mse_stage1_cents2,
             |  (SELECT CAST(thr2 AS BIGINT) FROM b2) AS dom_threshold,
             |  (SELECT gl2 FROM b2) AS gamma_l2_micro, (SELECT gr2 FROM b2) AS gamma_r2_micro,
             |  (SELECT mse2 FROM mse2) AS mse_stage2_cents2""".stripMargin)),

    // one EM step for a two-component 1-D Gaussian mixture on purchase
    // value — the distributed E/M split done right at scale: the E-step
    // responsibilities are computed per DISTINCT cents value (the
    // domain-bounded histogram, never per row) and micro-quantized
    // ONCE; the M-step moments are then exact 128-bit integer sums of
    // count × responsibility products, so the updated (π, μ, σ) are
    // engine-bit-stable. Fixed deterministic initialization
    // (μ = 2 000/20 000, σ = 3 000/15 000, π = ½); chaining the step is
    // the full EM loop. Completes the U21 family's unsupervised corner
    // beside q_kmeans_iter's hard assignments.
    QueryDef(
      "q_em_gmm_step",
      (s, d) => {
        val v = Tables.events(s, d)
          .where(col("value").isNotNull && col("event_type") === "purchase")
          .groupBy(expr("CAST(round(value*100) AS BIGINT)").as("x"))
          .agg(count(lit(1)).as("c"))
        val r = v.select(col("x"), col("c"),
          expr("""CAST(round(1000000 *
                 |  (0.5 * exp(-pow((x - 2000.0) / 3000.0, 2) / 2) / 3000.0)
                 |  / (0.5 * exp(-pow((x - 2000.0) / 3000.0, 2) / 2) / 3000.0
                 |     + 0.5 * exp(-pow((x - 20000.0) / 15000.0, 2) / 2) / 15000.0))
                 |AS BIGINT)""".stripMargin).as("r1"))
        r.agg(sum("c").as("n"),
            sum(col("c") * col("r1")).as("n1w"),
            sum(col("c") * (lit(1000000L) - col("r1"))).as("n2w"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * x * r1")).as("s1"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * x * (1000000 - r1)")).as("s2"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * x * x * r1")).as("q1"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * x * x * (1000000 - r1)")).as("q2"))
          .select(col("n").cast("long").as("n_obs"),
            expr("CAST((1000000 * CAST(n1w AS DECIMAL(38,0))) div (n1w + n2w) AS BIGINT)")
              .as("pi1_micro"),
            expr("CAST(s1 div n1w AS BIGINT)").as("mu1_cents"),
            expr("CAST(s2 div n2w AS BIGINT)").as("mu2_cents"),
            expr("CAST(round(sqrt(CAST(q1 AS DOUBLE) / n1w - pow(CAST(s1 AS DOUBLE) / n1w, 2))) AS BIGINT)")
              .as("sd1_cents"),
            expr("CAST(round(sqrt(CAST(q2 AS DOUBLE) / n2w - pow(CAST(s2 AS DOUBLE) / n2w, 2))) AS BIGINT)")
              .as("sd2_cents"))
      },
      Some("""WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS x, count(*) AS c
             |  FROM events WHERE value IS NOT NULL AND event_type = 'purchase' GROUP BY 1),
             |r AS (SELECT x, c,
             |    CAST(round(1000000 *
             |      (0.5 * exp(-pow((x - 2000.0) / 3000.0, 2) / 2) / 3000.0)
             |      / (0.5 * exp(-pow((x - 2000.0) / 3000.0, 2) / 2) / 3000.0
             |         + 0.5 * exp(-pow((x - 20000.0) / 15000.0, 2) / 2) / 15000.0)) AS BIGINT) AS r1
             |  FROM v),
             |m AS (SELECT sum(c) AS n,
             |    sum(c * r1) AS n1w, sum(c * (1000000 - r1)) AS n2w,
             |    sum(CAST(c AS HUGEINT) * x * r1) AS s1, sum(CAST(c AS HUGEINT) * x * (1000000 - r1)) AS s2,
             |    sum(CAST(c AS HUGEINT) * x * x * r1) AS q1, sum(CAST(c AS HUGEINT) * x * x * (1000000 - r1)) AS q2
             |  FROM r)
             |SELECT CAST(n AS BIGINT) AS n_obs,
             |  CAST((1000000 * CAST(n1w AS HUGEINT)) // (n1w + n2w) AS BIGINT) AS pi1_micro,
             |  CAST(s1 // n1w AS BIGINT) AS mu1_cents,
             |  CAST(s2 // n2w AS BIGINT) AS mu2_cents,
             |  CAST(round(sqrt(CAST(q1 AS DOUBLE) / n1w - pow(CAST(s1 AS DOUBLE) / n1w, 2))) AS BIGINT) AS sd1_cents,
             |  CAST(round(sqrt(CAST(q2 AS DOUBLE) / n2w - pow(CAST(s2 AS DOUBLE) / n2w, 2))) AS BIGINT) AS sd2_cents
             |FROM m""".stripMargin)),

    // variance inflation factor between q_ols_multi's two regressors —
    // VIF = 1/(1−R²(x₁~x₂)), the multicollinearity gate run BEFORE
    // trusting the coefficients: VIF ≈ 1 certifies the fixture's
    // hour ⊥ day-of-month design, VIF > 5-10 would say the normal
    // equations are near-singular and the betas unstable. Same exact
    // 128-bit moment pass; the squared correlation is one IEEE closed
    // form.
    QueryDef(
      "q_vif",
      (s, d) => Tables.events(s, d)
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .select(expr("CAST(hour(ts) AS BIGINT)").as("x1"),
          expr("CAST(dayofmonth(ts) AS BIGINT)").as("x2"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))")).as("s1"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))")).as("s2"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*x1")).as("s11"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*x2")).as("s12"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))*x2")).as("s22"))
        .select(col("n"),
          expr("""pow(CAST(n AS DOUBLE)*s12 - CAST(s1 AS DOUBLE)*s2, 2)
                 |/ ((CAST(n AS DOUBLE)*s11 - CAST(s1 AS DOUBLE)*s1)
                 |   * (CAST(n AS DOUBLE)*s22 - CAST(s2 AS DOUBLE)*s2))"""
            .stripMargin).as("r2"))
        .select(col("n").cast("long").as("n_obs"),
          expr("CAST(round(1000000 * r2) AS BIGINT)").as("r2_micro"),
          expr("CAST(round(1000.0 / (1 - r2)) AS BIGINT)").as("vif_milli")),
      Some("""WITH v AS (SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1,
             |    CAST(dayofmonth(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x2
             |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
             |m AS (SELECT count(*) AS n, sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
             |    sum(CAST(x1 AS HUGEINT)*x1) AS s11, sum(CAST(x1 AS HUGEINT)*x2) AS s12,
             |    sum(CAST(x2 AS HUGEINT)*x2) AS s22 FROM v),
             |r AS (SELECT n,
             |    pow(CAST(n AS DOUBLE)*s12 - CAST(s1 AS DOUBLE)*s2, 2)
             |    / ((CAST(n AS DOUBLE)*s11 - CAST(s1 AS DOUBLE)*s1)
             |       * (CAST(n AS DOUBLE)*s22 - CAST(s2 AS DOUBLE)*s2)) AS r2 FROM m)
             |SELECT CAST(n AS BIGINT) AS n_obs,
             |  CAST(round(1000000 * r2) AS BIGINT) AS r2_micro,
             |  CAST(round(1000.0 / (1 - r2)) AS BIGINT) AS vif_milli
             |FROM r""".stripMargin)),

    // closed-form ridge regression on q_ols_multi's two-feature frame —
    // the L2-regularized counterpart showing shrinkage end to end: the
    // CENTERED normal equations (intercept unpenalized, the standard
    // formulation) gain λ on the diagonal, λ = (c₁₁+c₂₂)/4 so the
    // shrinkage strength is scale-free (a fixed λ would vanish as n
    // grows — the whole point of ridge is visible regularization).
    // Both the λ = 0 (OLS) and ridge solves close over the SAME exact
    // 128-bit moment sums from ONE map-combined pass; the 2×2 inverse
    // is a mirrored IEEE closed form. Shrinkage = 1 − ‖β_ridge‖₁/‖β‖₁.
    QueryDef(
      "q_ridge_closed",
      (s, d) => Tables.events(s, d)
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .select(expr("CAST(round(value*100) AS BIGINT)").as("y"),
          expr("CAST(hour(ts) AS BIGINT)").as("x1"),
          expr("CAST(dayofmonth(ts) AS BIGINT)").as("x2"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))")).as("s1"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))")).as("s2"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*x1")).as("s11"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*x2")).as("s12"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))*x2")).as("s22"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(x1 AS DECIMAL(38,0))*y")).as("s1y"),
          sum(expr("CAST(x2 AS DECIMAL(38,0))*y")).as("s2y"))
        .select(col("n"),
          expr("CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n").as("c11"),
          expr("CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n").as("c12"),
          expr("CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n").as("c22"),
          expr("CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)*sy/n").as("c1y"),
          expr("CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)*sy/n").as("c2y"))
        .select(col("n"), col("c11"), col("c12"), col("c22"),
          col("c1y"), col("c2y"), expr("(c11 + c22) / 4").as("lam"))
        .select(col("n"),
          expr("(c22*c1y - c12*c2y) / (c11*c22 - c12*c12)").as("b1o"),
          expr("(c11*c2y - c12*c1y) / (c11*c22 - c12*c12)").as("b2o"),
          expr("""((c22+lam)*c1y - c12*c2y)
                 |/ ((c11+lam)*(c22+lam) - c12*c12)""".stripMargin).as("b1r"),
          expr("""((c11+lam)*c2y - c12*c1y)
                 |/ ((c11+lam)*(c22+lam) - c12*c12)""".stripMargin).as("b2r"))
        .select(col("n").cast("long").as("n_obs"),
          expr("CAST(round(1000.0*b1o) AS BIGINT)").as("ols_b1_milli"),
          expr("CAST(round(1000.0*b2o) AS BIGINT)").as("ols_b2_milli"),
          expr("CAST(round(1000.0*b1r) AS BIGINT)").as("ridge_b1_milli"),
          expr("CAST(round(1000.0*b2r) AS BIGINT)").as("ridge_b2_milli"),
          expr("""CAST(round(1000000 * (1 - (abs(b1r)+abs(b2r))
                 |  / (abs(b1o)+abs(b2o)))) AS BIGINT)""".stripMargin)
            .as("shrinkage_micro")),
      Some("""WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS y,
             |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1,
             |    CAST(dayofmonth(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x2
             |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
             |m AS (SELECT count(*) AS n,
             |    sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
             |    sum(CAST(x1 AS HUGEINT)*x1) AS s11, sum(CAST(x1 AS HUGEINT)*x2) AS s12,
             |    sum(CAST(x2 AS HUGEINT)*x2) AS s22,
             |    sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(x1 AS HUGEINT)*y) AS s1y,
             |    sum(CAST(x2 AS HUGEINT)*y) AS s2y
             |  FROM v),
             |c AS (SELECT n,
             |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n AS c11,
             |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n AS c12,
             |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n AS c22,
             |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)*sy/n AS c1y,
             |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)*sy/n AS c2y
             |  FROM m),
             |l AS (SELECT *, (c11 + c22) / 4 AS lam FROM c),
             |b AS (SELECT n,
             |    (c22*c1y - c12*c2y) / (c11*c22 - c12*c12) AS b1o,
             |    (c11*c2y - c12*c1y) / (c11*c22 - c12*c12) AS b2o,
             |    ((c22+lam)*c1y - c12*c2y) / ((c11+lam)*(c22+lam) - c12*c12) AS b1r,
             |    ((c11+lam)*c2y - c12*c1y) / ((c11+lam)*(c22+lam) - c12*c12) AS b2r
             |  FROM l)
             |SELECT CAST(n AS BIGINT) AS n_obs,
             |  CAST(round(1000.0*b1o) AS BIGINT) AS ols_b1_milli,
             |  CAST(round(1000.0*b2o) AS BIGINT) AS ols_b2_milli,
             |  CAST(round(1000.0*b1r) AS BIGINT) AS ridge_b1_milli,
             |  CAST(round(1000.0*b2r) AS BIGINT) AS ridge_b2_milli,
             |  CAST(round(1000000 * (1 - (abs(b1r)+abs(b2r))
             |    / (abs(b1o)+abs(b2o)))) AS BIGINT) AS shrinkage_micro
             |FROM b""".stripMargin))
  )
}
