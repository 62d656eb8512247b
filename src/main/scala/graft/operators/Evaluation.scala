package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier and predictor evaluation: calibration, PR/ROC curves,
  * Brier decomposition, macro-F1, agreement (Cohen's kappa), conformal
  * intervals, and robust RANSAC fitting. Split from [[Behavioral]]
  * round 15 (mechanical move, zero query changes); curves aggregate to
  * score-bucket grain before any window, so the ranked frames are
  * bounded by the score domain, not the row count.
  */
object Evaluation {

  val defs: Seq[QueryDef] = Seq(


    // calibration / reliability table: treat value/500 as a predicted
    // purchase probability, cut into 10 equal-width probability bins,
    // and report each bin's mean confidence vs actual purchase rate with
    // the |gap| — the reliability diagram (and the per-bin terms of ECE)
    // every scored-model rollout is gated on. ONE map-combined grouped
    // aggregate over the fact table (bin id is closed-form integer
    // arithmetic, never a rank); all rates exact integer micros. The
    // fixture score is confident-but-flat — miscalibration honestly
    // surfaced, which is what the table exists to show.
    QueryDef(
      "q_calibration",
      (s, d) => {
        val sc = Tables.events(s, d).where(col("value").isNotNull)
          .select(expr("CAST(round(value*2000) AS BIGINT)").as("p_micro"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        sc.groupBy(expr("least(p_micro div 100000, CAST(9 AS BIGINT))").as("bin"))
          .agg(count(lit(1)).as("n"), sum("y").as("pos"),
            sum(expr("CAST(p_micro AS DECIMAL(38,0))")).as("psum"))
          .select(col("bin").cast("int").as("bin"), col("n"),
            expr("CAST(pos * 1000000 div n AS BIGINT)").as("actual_micro"),
            expr("CAST(psum div n AS BIGINT)").as("conf_micro"))
          .withColumn("gap_micro", abs(col("actual_micro") - col("conf_micro")))
          .orderBy("bin")
      },
      Some("""WITH sc AS (SELECT CAST(round(value*2000) AS BIGINT) AS p_micro,
             |      CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y
             |    FROM events WHERE value IS NOT NULL),
             |b AS (SELECT least(p_micro // 100000, 9) AS bin, count(*) AS n,
             |        sum(y) AS pos, sum(CAST(p_micro AS HUGEINT)) AS psum
             |      FROM sc GROUP BY 1),
             |r AS (SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n,
             |        CAST(pos * 1000000 // n AS BIGINT) AS actual_micro,
             |        CAST(psum // n AS BIGINT) AS conf_micro
             |      FROM b)
             |SELECT r.*, CAST(abs(actual_micro - conf_micro) AS BIGINT) AS gap_micro
             |FROM r ORDER BY bin""".stripMargin)),


    // precision–recall sweep: P and R of the "value >= threshold ⇒ will
    // purchase" classifier over a 10-point threshold grid — the curve a
    // score's operating point is picked from. SCALE SHAPE: the fact
    // table collapses to the bounded integer-cents histogram first (one
    // map-combined aggregate); the threshold sweep then runs over
    // histogram × 10 grid rows, never over raw events. Exact integer
    // micros; NULL precision where the grid passes the score's support
    // (both engines agree on the NULL).
    QueryDef(
      "q_pr_curve",
      (s, d) => {
        val sc = Tables.events(s, d).where(col("value").isNotNull)
          .select(expr("CAST(round(value*100) AS BIGINT)").as("c"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val g = sc.groupBy("c").agg(count(lit(1)).as("nc"), sum("y").as("pc"))
        val tot = sc.agg(sum("y").as("pos"))
        val th = s.range(10).select((col("id") * 5000L).as("thr"))
        g.crossJoin(th)
          .groupBy("thr")
          .agg(sum(when(col("c") >= col("thr"), col("nc"))).as("pred_pos"),
            sum(when(col("c") >= col("thr"), col("pc"))).as("tp"))
          .crossJoin(tot)
          .select(col("thr").as("threshold_cents"),
            expr("CAST(coalesce(tp, 0) * 1000000 div nullif(pred_pos, 0) AS BIGINT)")
              .as("precision_micro"),
            expr("CAST(coalesce(tp, 0) * 1000000 div pos AS BIGINT)")
              .as("recall_micro"))
          .orderBy("threshold_cents")
      },
      Some("""WITH sc AS (SELECT CAST(round(value*100) AS BIGINT) AS c,
             |      CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y
             |    FROM events WHERE value IS NOT NULL),
             |g AS (SELECT c, count(*) AS nc, sum(y) AS pc FROM sc GROUP BY 1),
             |tot AS (SELECT sum(y) AS pos FROM sc),
             |th AS (SELECT unnest(range(0, 10)) * 5000 AS thr),
             |m AS (SELECT thr, sum(CASE WHEN c >= thr THEN nc END) AS pred_pos,
             |        sum(CASE WHEN c >= thr THEN pc END) AS tp
             |      FROM g CROSS JOIN th GROUP BY 1)
             |SELECT CAST(thr AS BIGINT) AS threshold_cents,
             |  CAST(coalesce(tp, 0) * 1000000 // nullif(pred_pos, 0) AS BIGINT) AS precision_micro,
             |  CAST(coalesce(tp, 0) * 1000000 // tot.pos AS BIGINT) AS recall_micro
             |FROM m CROSS JOIN tot ORDER BY thr""".stripMargin)),


    // Cohen's kappa inter-rater agreement: rater A = the value>250 rule,
    // rater B = the same rule on a deterministically md5-jittered value
    // (±128 milli noise from the event id — both engines derive the
    // identical perturbation, the q_bootstrap_ci hash convention) —
    // chance-corrected agreement between two labeling functions, the
    // label-quality gate run before training on programmatic labels.
    // One conditional-count aggregate; kappa is one IEEE expression over
    // the five exact integers.
    QueryDef(
      "q_cohens_kappa",
      (s, d) => {
        val r = Tables.events(s, d).where(col("value").isNotNull)
          .select(
            when(col("value") > 250, 1L).otherwise(0L).as("a"),
            when(col("value") +
              (conv(substring(md5(concat(lit("k:"),
                col("event_id").cast("string"))), 1, 2), 16, 10)
                .cast("long") - lit(127.5)) > 250, 1L).otherwise(0L).as("b"))
        r.agg(count(lit(1)).as("n"),
            count(when(col("a") === 1 && col("b") === 1, 1)).as("n11"),
            count(when(col("a") === 0 && col("b") === 0, 1)).as("n00"),
            count(when(col("a") === 1, 1)).as("a1"),
            count(when(col("b") === 1, 1)).as("b1"))
          .select(col("n"), col("n11").as("both_pos"), col("n00").as("both_neg"),
            expr("""CAST(round((CAST(n11 + n00 AS DOUBLE)/n
                   | - (CAST(a1 AS DOUBLE)*b1 + CAST(n - a1 AS DOUBLE)*(n - b1))
                   |   /(CAST(n AS DOUBLE)*n))
                   | / (1 - (CAST(a1 AS DOUBLE)*b1 + CAST(n - a1 AS DOUBLE)*(n - b1))
                   |   /(CAST(n AS DOUBLE)*n)) * 1000000) AS BIGINT)""".stripMargin)
              .as("kappa_micro"))
      },
      Some("""WITH r AS (SELECT CASE WHEN value > 250 THEN 1 ELSE 0 END AS a,
             |    CASE WHEN value + (CAST(('0x' || substr(md5('k:' || event_id), 1, 2)) AS BIGINT)
             |         - 127.5) > 250 THEN 1 ELSE 0 END AS b
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT count(*) AS n,
             |        count(*) FILTER (WHERE a=1 AND b=1) AS n11,
             |        count(*) FILTER (WHERE a=0 AND b=0) AS n00,
             |        count(*) FILTER (WHERE a=1) AS a1,
             |        count(*) FILTER (WHERE b=1) AS b1 FROM r)
             |SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS both_pos,
             |  CAST(n00 AS BIGINT) AS both_neg,
             |  CAST(round((CAST(n11 + n00 AS DOUBLE)/n
             |    - (CAST(a1 AS DOUBLE)*b1 + CAST(n - a1 AS DOUBLE)*(n - b1))
             |      /(CAST(n AS DOUBLE)*n))
             |    / (1 - (CAST(a1 AS DOUBLE)*b1 + CAST(n - a1 AS DOUBLE)*(n - b1))
             |      /(CAST(n AS DOUBLE)*n)) * 1000000) AS BIGINT) AS kappa_micro
             |FROM c""".stripMargin)),


    // Brier score with the Murphy decomposition — q_calibration's
    // scalar companion: overall mean squared probability error, split
    // into reliability (binned miscalibration), resolution (how much
    // the bins separate outcomes), and outcome uncertainty. The Brier
    // sum and the uncertainty term are EXACT 128-bit integer
    // arithmetic; the two binned terms nano-quantize per bin before
    // summing over the bounded 10-bin grid (the q_mutual_info
    // convention). REL − RES + UNC reproduces the Brier score up to the
    // within-bin variance the binned decomposition absorbs (≤ 0.1 % on
    // the fixture) — the standard caveat, honestly carried.
    QueryDef(
      "q_brier_decomp",
      (s, d) => {
        val sc = Tables.events(s, d).where(col("value").isNotNull)
          .select(expr("CAST(round(value*2000) AS BIGINT)").as("p"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val t = sc.agg(count(lit(1)).as("n"), sum("y").as("pos"),
          sum(expr("""CAST(p - y*1000000 AS DECIMAL(38,0))
                     | * (p - y*1000000)""".stripMargin)).as("sq"))
        val b = sc.groupBy(expr("least(p div 100000, CAST(9 AS BIGINT))").as("bin"))
          .agg(count(lit(1)).as("nb"), sum("y").as("pos_b"),
            sum(expr("CAST(p AS DECIMAL(38,0))")).as("psum"))
        val terms = b.crossJoin(t)
          .select(
            expr("""CAST(round(pow(CAST(psum - pos_b*1000000 AS DOUBLE), 2)
                   | / nb / 1000) AS BIGINT)""".stripMargin).as("rel_nano"),
            expr("""CAST(round(pow(CAST(pos_b AS DOUBLE)/nb
                   | - CAST(pos AS DOUBLE)/n, 2) * nb * 1000000000)
                   | AS BIGINT)""".stripMargin).as("res_nano"))
        terms.agg(sum("rel_nano").as("rel"), sum("res_nano").as("res"))
          .crossJoin(broadcast(t))
          .select(col("n"),
            expr("CAST(sq div (n * 1000000) AS BIGINT)").as("brier_micro"),
            expr("CAST(rel div (n * 1000) AS BIGINT)").as("reliability_micro"),
            expr("CAST(res div (n * 1000) AS BIGINT)").as("resolution_micro"),
            expr("""CAST(CAST(pos AS DECIMAL(38,0)) * (n - pos) * 1000000
                   | div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""".stripMargin)
              .as("uncertainty_micro"))
      },
      Some("""WITH sc AS (SELECT CAST(round(value*2000) AS BIGINT) AS p,
             |      CAST(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS BIGINT) AS y
             |    FROM events WHERE value IS NOT NULL),
             |t AS (SELECT count(*) AS N, sum(y) AS pos,
             |        sum(CAST(p - y*1000000 AS HUGEINT) * (p - y*1000000)) AS sq FROM sc),
             |b AS (SELECT least(p // 100000, 9) AS bin, count(*) AS nb, sum(y) AS pos_b,
             |        sum(CAST(p AS HUGEINT)) AS psum FROM sc GROUP BY 1),
             |terms AS (SELECT
             |    CAST(round(pow(CAST(psum - pos_b*1000000 AS DOUBLE), 2) / nb / 1000)
             |      AS BIGINT) AS rel_nano,
             |    CAST(round(pow(CAST(pos_b AS DOUBLE)/nb - (SELECT CAST(pos AS DOUBLE)/N FROM t), 2)
             |      * nb * 1000000000) AS BIGINT) AS res_nano
             |  FROM b)
             |SELECT (SELECT CAST(N AS BIGINT) FROM t) AS n,
             |  (SELECT CAST(sq // (N * 1000000) AS BIGINT) FROM t) AS brier_micro,
             |  CAST(sum(rel_nano) // ((SELECT N FROM t) * 1000) AS BIGINT) AS reliability_micro,
             |  CAST(sum(res_nano) // ((SELECT N FROM t) * 1000) AS BIGINT) AS resolution_micro,
             |  (SELECT CAST(CAST(pos AS HUGEINT) * (N - pos) * 1000000
             |     // (CAST(N AS HUGEINT) * N) AS BIGINT) FROM t) AS uncertainty_micro
             |FROM terms""".stripMargin)),


    // exact tie-corrected ROC AUC of a deterministically md5-noised
    // score against the value>250 ground truth (the q_cohens_kappa
    // signal construction): mid-rank AUC computed on the score
    // HISTOGRAM, never raw events — 2·U = Σ_s pos_s·(2·cum_neg_below +
    // neg_s) stays exact 128-bit integer, and auc_micro is one integer
    // division. The cumulative window is partitionless but runs over
    // the score domain, which is RANGE-bounded (integer cents plus
    // ±128·200 noise ⇒ ≤ ~10⁵ distinct values at any corpus size), not
    // row-scaled — the q_pr_curve bounded-histogram argument. Gini is
    // derived from the already-quantized AUC, so no signed division.
    QueryDef(
      "q_roc_auc",
      (s, d) => {
        val sc = Tables.events(s, d).where(col("value").isNotNull)
          .select((expr("CAST(round(value*100) AS BIGINT)")
              + (conv(substring(md5(concat(lit("auc:"),
                  col("event_id").cast("string"))), 1, 2), 16, 10)
                .cast("long") - 128L) * 200L).as("score"),
            when(col("value") > 250, 1L).otherwise(0L).as("y"))
        val h = sc.groupBy("score")
          .agg(sum("y").as("p"), (count(lit(1)) - sum("y")).as("q"))
        val c = h.select(col("p"), col("q"),
          coalesce(sum("q").over(Window.orderBy("score")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("cq"))
        c.agg(sum(expr("CAST(p AS DECIMAL(38,0)) * (2*cq + q)")).as("u2"),
            sum("p").as("n1"), sum("q").as("n0"))
          .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
            // 2*n1*n0 widened through DECIMAL(38,0): the bare 64-bit
            // product wraps at ~2e9 rows per class with ANSI off, while
            // DuckDB promotes to HUGEINT — same widening convention as
            // the numerator
            expr("CAST(u2 * 1000000 div (2 * CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)")
              .as("auc_micro"),
            (expr("CAST(u2 * 1000000 div (2 * CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)")
              * lit(2L) - lit(1000000L)).as("gini_micro"))
      },
      Some("""WITH s AS (SELECT CAST(round(value*100) AS BIGINT)
             |      + (CAST(('0x' || substr(md5('auc:' || event_id), 1, 2)) AS BIGINT) - 128)*200 AS score,
             |    CASE WHEN value > 250 THEN 1 ELSE 0 END AS y
             |  FROM events WHERE value IS NOT NULL),
             |h AS (SELECT score, count(*) FILTER (WHERE y=1) AS p,
             |        count(*) FILTER (WHERE y=0) AS q FROM s GROUP BY 1),
             |c AS (SELECT p, q, coalesce(sum(q) OVER (ORDER BY score
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cq FROM h),
             |u AS (SELECT sum(CAST(p AS HUGEINT)*(2*cq + q)) AS u2,
             |        sum(p) AS n1, sum(q) AS n0 FROM c)
             |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
             |  CAST(u2 * 1000000 // (2*n1*n0) AS BIGINT) AS auc_micro,
             |  CAST(u2 * 1000000 // (2*n1*n0) AS BIGINT)*2 - 1000000 AS gini_micro
             |FROM u""".stripMargin)),


    // macro-averaged F1 between the 3-class value-band truth and a
    // deterministically jittered prediction (±16 value noise from the
    // event id) — the multi-class companion to q_cohens_kappa's binary
    // agreement and q_pr_curve's threshold sweep. ONE map-combined
    // shuffle builds the ≤9-row confusion matrix; tp/fp/fn and the
    // per-class F1 are derived from that tiny frame, and the macro
    // average windows over exactly 3 rows. Every F1 is an exact
    // integer division of exact counts.
    QueryDef(
      "q_macro_f1",
      (s, d) => {
        import s.implicits._
        val j = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("value"),
            ((conv(substring(md5(concat(lit("f1:"),
                col("event_id").cast("string"))), 1, 2), 16, 10)
              .cast("long") - lit(127.5)) / 8).as("jit"))
        val r = j.select(
          when(col("value") < 20, "low").when(col("value") < 80, "mid")
            .otherwise("high").as("truth"),
          when(col("value") + col("jit") < 20, "low")
            .when(col("value") + col("jit") < 80, "mid")
            .otherwise("high").as("pred"))
        val m = r.groupBy("truth", "pred").agg(count(lit(1)).as("n"))
        val tp = m.where(col("truth") === col("pred"))
          .select(col("truth").as("cls"), col("n").as("tp"))
        val fp = m.where(col("truth") =!= col("pred"))
          .groupBy(col("pred").as("cls")).agg(sum("n").as("fp"))
        val fn = m.where(col("truth") =!= col("pred"))
          .groupBy(col("truth").as("cls")).agg(sum("n").as("fn"))
        Seq("high", "low", "mid").toDF("cls")
          .join(tp, Seq("cls"), "left").join(fp, Seq("cls"), "left")
          .join(fn, Seq("cls"), "left")
          .select(col("cls"), coalesce(col("tp"), lit(0L)).as("tp"),
            coalesce(col("fp"), lit(0L)).as("fp"),
            coalesce(col("fn"), lit(0L)).as("fn"))
          .select(col("cls"), col("tp"), col("fp"), col("fn"),
            expr("CAST(2*tp*1000000 div (2*tp+fp+fn) AS BIGINT)").as("f1_micro"))
          .select(col("cls"), col("tp"), col("fp"), col("fn"), col("f1_micro"),
            expr("CAST(CAST(sum(f1_micro) OVER () AS BIGINT) div 3 AS BIGINT)")
              .as("macro_f1_micro"))
          .orderBy("cls")
      },
      Some("""WITH j AS (SELECT value,
             |      (CAST(('0x' || substr(md5('f1:' || event_id), 1, 2)) AS BIGINT) - 127.5)/8 AS jit
             |    FROM events WHERE value IS NOT NULL),
             |r AS (SELECT CASE WHEN value < 20 THEN 'low' WHEN value < 80 THEN 'mid'
             |          ELSE 'high' END AS truth,
             |        CASE WHEN value + jit < 20 THEN 'low' WHEN value + jit < 80 THEN 'mid'
             |          ELSE 'high' END AS pred FROM j),
             |m AS (SELECT truth, pred, count(*) AS n FROM r GROUP BY 1, 2),
             |k AS (SELECT unnest(['high','low','mid']) AS cls),
             |f AS (SELECT cls,
             |    coalesce((SELECT sum(n) FROM m WHERE truth=cls AND pred=cls), 0) AS tp,
             |    coalesce((SELECT sum(n) FROM m WHERE pred=cls AND truth<>cls), 0) AS fp,
             |    coalesce((SELECT sum(n) FROM m WHERE truth=cls AND pred<>cls), 0) AS fn
             |  FROM k)
             |SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             |  CAST(fn AS BIGINT) AS fn,
             |  CAST(2*tp*1000000 // (2*tp+fp+fn) AS BIGINT) AS f1_micro,
             |  CAST(CAST(sum(2*tp*1000000 // (2*tp+fp+fn)) OVER () AS BIGINT) // 3 AS BIGINT)
             |    AS macro_f1_micro
             |FROM f ORDER BY cls""".stripMargin)),


    // split-conformal prediction interval — the distribution-free
    // coverage guarantee, end to end: fit the (deliberately crude)
    // per-nation mean predictor on the train folds, take q̂ = the
    // ⌈(n+1)·0.9⌉-th smallest absolute residual on the calibration fold
    // (exact integer rank over the distributed GlobalOrder — the index
    // is the integer ceil (9n+18) div 10, no float quantile), and
    // report achieved coverage on the held-out fold. Conformal's point
    // is that coverage ≈ 90 % HOLDS even for a bad model — the fixture
    // shows 89.6–90.4 %. Folds are md5-deterministic quarters.
    QueryDef(
      "q_conformal",
      (s, d) => {
        // r15 optimization (guide §2.4 + the persist convention): the
        // scored frame `o` is consumed by FOUR branches (train mean,
        // calibration residuals, the calibration count, the held-out
        // coverage pass) and each re-ran the orders⋈customer join plus
        // the md5 fold hash. One narrow (k, g, y, fold) persist makes
        // the join and hash run once.
        val o = Loop.pinnedPersist(Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey").as("k"), col("c_nationkey").as("g"),
            round(col("o_totalprice") * 100).cast("long").as("y"),
            (conv(substring(md5(concat(lit("cf:"),
              col("o_orderkey").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 4).as("fold")))
        val mu = o.where(col("fold") <= 1).groupBy("g")
          .agg(expr("sum(y) div count(1)").as("yhat"))
        val cal = o.join(broadcast(mu), "g").where(col("fold") === 2)
          .select(col("k"), abs(col("y") - col("yhat")).as("r"))
        val n = cal.agg(count(lit(1)).as("n"))
        val ranked = GlobalOrder.withGlobalRowNumber(cal,
          Seq(col("r").asc, col("k").asc), "rk")
        val qi = n.select(expr("(9*n + 18) div 10").as("rk"), col("n"))
        val qr = ranked.join(qi, "rk")
          .select(col("r").as("qhat"), col("n"))
        o.join(broadcast(mu), "g").where(col("fold") === 3)
          .crossJoin(broadcast(qr))
          .agg(max("n").as("n_calib"), max("qhat").as("qhat_cents"),
            count(lit(1)).as("n_test"),
            sum(when(abs(col("y") - col("yhat")) <= col("qhat"), 1L)
              .otherwise(0L)).as("cov"))
          .select(col("n_calib"), col("qhat_cents"), col("n_test"),
            expr("CAST(cov * 1000000 div n_test AS BIGINT)").as("coverage_micro"),
            lit(900000L).as("target_micro"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS k, c_nationkey AS g,
             |      CAST(round(o_totalprice*100) AS BIGINT) AS y,
             |      CAST(('0x' || substr(md5('cf:' || o_orderkey), 1, 12)) AS BIGINT) % 4
             |        AS fold
             |    FROM orders JOIN customer ON c_custkey = o_custkey),
             |mu AS (SELECT g, sum(y) // count(*) AS yhat FROM o WHERE fold <= 1 GROUP BY 1),
             |cal AS (SELECT k, abs(y - yhat) AS r FROM o JOIN mu USING (g) WHERE fold = 2),
             |n AS (SELECT count(*) AS n FROM cal),
             |qi AS (SELECT (9*(SELECT n FROM n) + 18) // 10 AS qidx),
             |qr AS (SELECT r FROM (SELECT r, row_number() OVER (ORDER BY r, k) AS rk FROM cal)
             |       WHERE rk = (SELECT qidx FROM qi)),
             |tst AS (SELECT count(*) AS m,
             |        sum(CASE WHEN abs(y - yhat) <= (SELECT r FROM qr) THEN 1 ELSE 0 END)
             |          AS cov
             |      FROM o JOIN mu USING (g) WHERE fold = 3)
             |SELECT CAST((SELECT n FROM n) AS BIGINT) AS n_calib,
             |  CAST((SELECT r FROM qr) AS BIGINT) AS qhat_cents,
             |  CAST(m AS BIGINT) AS n_test,
             |  CAST(cov * 1000000 // m AS BIGINT) AS coverage_micro,
             |  CAST(900000 AS BIGINT) AS target_micro
             |FROM tst""".stripMargin)),


    // deterministic RANSAC line fit — robust trend through the daily
    // revenue series that outliers cannot drag: 32 md5-seeded candidate
    // day pairs (the repo's seedless-sampling convention), each scored
    // by its EXACT integer inlier count — the residual test cross-
    // multiplies through the slope denominator and the MR̄ tolerance's
    // m denominator, so no float ever decides membership. Best
    // candidate by inliers with index tiebreak. The consensus
    // complement to q_theilsen (median slope) and q_control_chart
    // (which flags the same outliers this fit ignores). The candidate ×
    // calendar score join is 32 × ≤ #days.
    QueryDef(
      "q_ransac_fit",
      (s, d) => {
        val day = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
        val idx = day.select(
          (row_number().over(Window.orderBy("dt")) - 1).as("t"), col("x"))
        val nn = idx.agg(count(lit(1)).as("n"))
        val mr = day
          .select(abs(col("x") - lag("x", 1).over(Window.orderBy("dt"))).as("r"))
          .where(col("r").isNotNull)
          .agg(count(lit(1)).as("m"), sum("r").as("rr"))
        val cand = s.range(0, 32).toDF("j").crossJoin(nn)
          .select(col("j"),
            (conv(substring(md5(concat(lit("ra:"), col("j").cast("string"),
              lit(":1"))), 1, 12), 16, 10).cast("long") % col("n")).as("i1"),
            (conv(substring(md5(concat(lit("ra:"), col("j").cast("string"),
              lit(":2"))), 1, 12), 16, 10).cast("long") % col("n")).as("i2"))
        val cl = cand
          .join(idx.select(col("t").as("i1"), col("x").as("x1")), "i1")
          .join(idx.select(col("t").as("i2"), col("x").as("x2")), "i2")
          .where(col("i1") =!= col("i2"))
          .select(col("j"), col("i1").as("t1"), col("x1"),
            col("i2").as("t2"), col("x2"))
        val fitj = cl.crossJoin(idx).crossJoin(mr)
          .where(expr("""abs(CAST(m AS DECIMAL(38,0))*((x - x1)*(t2 - t1)
                        | - (x2 - x1)*(t - t1)))
                        | <= CAST(rr AS DECIMAL(38,0)) * abs(t2 - t1)"""
            .stripMargin))
          .groupBy("j").agg(count(lit(1)).as("inliers"))
        fitj.join(cl, "j")
          .orderBy(col("inliers").desc, col("j")).limit(1)
          .crossJoin(nn)
          .select(col("n").as("n_days"), col("j").as("best_candidate"),
            col("inliers"),
            expr("CAST(inliers * 1000000 div n AS BIGINT)").as("inlier_share_micro"),
            expr("CAST(round(1000000.0*CAST(x2 - x1 AS DOUBLE)/(t2 - t1)) AS BIGINT)")
              .as("slope_micro"))
      },
      Some("""WITH day AS (SELECT o_orderdate AS dt,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS x
             |    FROM orders GROUP BY 1),
             |idx AS (SELECT row_number() OVER (ORDER BY dt) - 1 AS t, x FROM day),
             |nn AS (SELECT count(*) AS n FROM idx),
             |mr AS (SELECT count(*) AS m, sum(r) AS rr FROM
             |        (SELECT abs(x - lag(x) OVER (ORDER BY dt)) AS r FROM day)
             |      WHERE r IS NOT NULL),
             |cand AS (SELECT j,
             |      CAST(('0x' || substr(md5('ra:' || j || ':1'), 1, 12)) AS BIGINT)
             |        % (SELECT n FROM nn) AS i1,
             |      CAST(('0x' || substr(md5('ra:' || j || ':2'), 1, 12)) AS BIGINT)
             |        % (SELECT n FROM nn) AS i2
             |    FROM (SELECT unnest(range(0, 32)) AS j)),
             |cl AS (SELECT j, a.t AS t1, a.x AS x1, b.t AS t2, b.x AS x2
             |      FROM cand JOIN idx a ON a.t = i1 JOIN idx b ON b.t = i2
             |      WHERE i1 <> i2),
             |fit AS (SELECT cl.j, count(*) AS inliers FROM cl JOIN idx ON TRUE
             |      CROSS JOIN mr
             |      WHERE abs(CAST(m AS HUGEINT)*((idx.x - cl.x1)*(cl.t2 - cl.t1)
             |              - (cl.x2 - cl.x1)*(idx.t - cl.t1)))
             |        <= CAST(rr AS HUGEINT) * abs(cl.t2 - cl.t1)
             |      GROUP BY 1),
             |best AS (SELECT f.j, f.inliers, cl.t1, cl.x1, cl.t2, cl.x2 FROM fit f
             |      JOIN cl ON cl.j = f.j
             |      ORDER BY f.inliers DESC, f.j LIMIT 1)
             |SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_days,
             |  CAST(j AS BIGINT) AS best_candidate, CAST(inliers AS BIGINT) AS inliers,
             |  CAST(inliers * 1000000 // (SELECT n FROM nn) AS BIGINT)
             |    AS inlier_share_micro,
             |  CAST(round(1000000.0*CAST(x2 - x1 AS DOUBLE)/(t2 - t1)) AS BIGINT)
             |    AS slope_micro
             |FROM best""".stripMargin)),
  )
}
