package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Experimentation and statistical-inference battery: A/B assignment,
  * two-sample and k-sample tests, sequential designs (mSPRT,
  * O'Brien-Fleming), multiple-testing control, causal estimators
  * (DiD, IPW, IV, RD, propensity strata), and the robust/association
  * statistics. Split from [[Behavioral]] round 15 (mechanical move,
  * zero query changes); tests reduce to per-group sufficient statistics
  * in one map-combined pass, so group count — never row count — bounds
  * the driver-side math.
  */
object Experimentation {

  val defs: Seq[QueryDef] = Seq(


    // A/B experiment readout: users deterministically hash-assigned to
    // arms (md5 — seedless, replayable, cross-engine identical, the
    // q_split_assign convention), per-arm purchase intensity and value
    // per user in exact integer micros. The assignment-at-analysis-time
    // form is what an experimentation pipeline runs when arms were
    // assigned by the same hash at serving time. Two user-keyed
    // aggregates joined on the key; the report is |arms| rows.
    QueryDef(
      "q_ab_assign",
      (s, d) => {
        val arm = Tables.events(s, d).select("user_id").distinct()
          .withColumn("arm",
            when(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 1) < "8",
              "A").otherwise("B"))
        val m = Tables.events(s, d).groupBy("user_id")
          .agg(count(when(col("event_type") === "purchase", 1)).as("purchases"),
            coalesce(sum(when(col("event_type") === "purchase",
              round(col("value") * 1e6).cast("long"))), lit(0L)).as("value_micro"))
        arm.join(m, "user_id")
          .groupBy("arm")
          .agg(count(lit(1)).as("users"),
            sum("purchases").as("purchases"),
            expr("(sum(purchases) * CAST(1000000 AS BIGINT)) div count(1)")
              .as("purchases_per_user_micro"),
            expr("sum(value_micro) div count(1)").as("value_per_user_micro"))
          .orderBy("arm")
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |arm AS (SELECT user_id,
             |          CASE WHEN substr(md5('ab:' || user_id), 1, 1) < '8'
             |               THEN 'A' ELSE 'B' END AS arm
             |        FROM u),
             |m AS (SELECT user_id,
             |        count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
             |        CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
             |              THEN CAST(round(value * 1000000) AS BIGINT) END), 0) AS BIGINT)
             |          AS value_micro
             |      FROM events GROUP BY 1)
             |SELECT a.arm, count(*) AS users, CAST(sum(m.purchases) AS BIGINT) AS purchases,
             |  CAST((sum(m.purchases) * 1000000) // count(*) AS BIGINT)
             |    AS purchases_per_user_micro,
             |  CAST(sum(m.value_micro) // count(*) AS BIGINT) AS value_per_user_micro
             |FROM arm a JOIN m USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin)),


    // 5 %-TRIMMED mean of value per event type, beside the raw mean —
    // the robust location estimate that shrugs off tail contamination
    // (the trim bounds are rank-ceil integers, so both engines cut the
    // identical rows). Per-type ranks ride ONE GlobalOrder range shuffle
    // on (type, value): the prefix offsets come from the |types|-row
    // count table (its tiny prefix-sum window is post-agg and
    // calendar-bounded), so no per-type window ever funnels a type's
    // full stream through one task.
    QueryDef(
      "q_trimmed_mean",
      (s, d) => {
        val ev = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 1e6).cast("long").as("vm"), col("event_id"))
        val ranked = GlobalOrder.withGlobalRowNumber(
          ev, Seq(col("event_type"), col("vm"), col("event_id")), "grn")
        val sizes = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        val offs = sizes.withColumn("off",
          coalesce(sum("n").over(Window.orderBy("event_type")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val r = ranked.join(broadcast(offs), "event_type")
          .withColumn("rn", col("grn") - col("off"))
          .withColumn("lo", expr("(5 * n + 99) div 100"))
        r.groupBy("event_type")
          .agg(max("n").as("n"),
            count(when(col("rn") > col("lo") && col("rn") <= col("n") - col("lo"), 1))
              .as("kept"),
            expr("sum(CASE WHEN rn > lo AND rn <= n - lo THEN vm ELSE CAST(0 AS BIGINT) END) " +
              "div count(CASE WHEN rn > lo AND rn <= n - lo THEN 1 END)")
              .as("trimmed_mean_micro"),
            expr("sum(vm) div count(1)").as("raw_mean_micro"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vm,
             |              event_id
             |            FROM events WHERE value IS NOT NULL),
             |r AS (SELECT event_type, vm,
             |        row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id) AS rn,
             |        count(*) OVER (PARTITION BY event_type) AS n
             |      FROM ev),
             |k AS (SELECT event_type, vm, rn, n, (5 * n + 99) // 100 AS lo FROM r)
             |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             |  CAST(count(CASE WHEN rn > lo AND rn <= n - lo THEN 1 END) AS BIGINT) AS kept,
             |  CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN vm ELSE 0 END)
             |       // count(CASE WHEN rn > lo AND rn <= n - lo THEN 1 END) AS BIGINT)
             |    AS trimmed_mean_micro,
             |  CAST(sum(vm) // count(*) AS BIGINT) AS raw_mean_micro
             |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),


    // Benford first-digit audit of order totals: observed first-
    // significant-digit shares beside the ln(1+1/d)/ln 10 expectation in
    // integer micros — the classic fabricated-numbers screen. The
    // fixture prices are uniform-ish and FAIL Benford loudly (digits
    // 1–4 each near 22%), which is precisely the kind of distributional
    // anomaly this report exists to surface; on organic financial data
    // the two columns track. One scan, digit extraction on the integer
    // part's decimal string (identical on both engines), bounded output.
    QueryDef(
      "q_benford",
      (s, d) => {
        val c = Tables.orders(s, d).where(col("o_totalprice") >= 1)
          .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val t = c.agg(sum("n").as("tot"))
        c.crossJoin(t)
          .select(col("digit"), col("n"),
            expr("(n * CAST(1000000 AS BIGINT)) div tot").as("observed_micro"),
            round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)) * lit(1e6))
              .cast("long").as("benford_micro"))
          .orderBy("digit")
      },
      Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             |             AS VARCHAR), 1, 1) AS INT) AS digit
             |           FROM orders WHERE o_totalprice >= 1),
             |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
             |t AS (SELECT sum(n) AS tot FROM c)
             |SELECT c.digit, c.n,
             |  CAST((c.n * 1000000) // t.tot AS BIGINT) AS observed_micro,
             |  CAST(round(ln(1.0 + 1.0/c.digit) / ln(10.0) * 1000000) AS BIGINT)
             |    AS benford_micro
             |FROM c CROSS JOIN t ORDER BY c.digit""".stripMargin)),


    // Mann–Whitney U — the rank-based two-sample test (the A/B test
    // that survives the heavy-tailed metrics q_ab_assign's mean-diff
    // breaks on). Purchase vs click `value`, milli-quantized; tied
    // values get the average rank exactly by working in DOUBLED rank
    // units (start+end = 2·cum − cnt + 1, all integers). The rank-sum
    // rides the per-distinct-value count table through GlobalOrder's
    // range-shuffle running total — never a partitionless window over
    // raw rows. u1_x2 = 2·U₁; auc_micro = U₁/(n₁n₂) is the probability-
    // of-superiority effect size (= ROC AUC); z is tie-corrected,
    // computed as one fixed IEEE expression over the exact integers in
    // both engines. Products run in DECIMAL(38,0)/HUGEINT — rank sums
    // pass 2^63 at warehouse scale.
    QueryDef(
      "q_mannwhitney",
      (s, d) => {
        val ev = Tables.events(s, d)
          .where(col("event_type").isin("purchase", "click"))
          .select(expr("CAST(round(value * 1000) AS BIGINT)").as("v"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("g1"))
        val byv = ev.groupBy("v")
          .agg(count(lit(1)).as("cnt"), sum("g1").as("cnt1"))
        val run = GlobalOrder.withRunningTotal(byv, Seq(col("v")),
          col("cnt"), "cum")
        val acc = run.agg(
          sum(expr("CAST(cnt1 AS DECIMAL(38,0)) * (2 * cum - cnt + 1)"))
            .as("r1x2"),
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tie3"))
        val tot = ev.agg(sum("g1").as("n1"), count(lit(1)).as("n"))
        acc.crossJoin(tot).select(
          col("n1"), (col("n") - col("n1")).as("n2"),
          expr("CAST(r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT)")
            .as("u1_x2"),
          expr("""CAST((r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) * 1000000
                 | div (2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1)) AS BIGINT)"""
            .stripMargin).as("auc_micro"),
          expr("""CAST(round(
                 |  (CAST(r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS DOUBLE) / 2.0
                 |    - CAST(n1 AS DOUBLE) * (n - n1) / 2.0)
                 |  / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 12.0
                 |      * ((n + 1) - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))))
                 |  * 1000) AS BIGINT)""".stripMargin).as("z_milli"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(round(value * 1000) AS BIGINT) AS v,
             |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1
             |  FROM events WHERE event_type IN ('purchase', 'click')),
             |byv AS (SELECT v, count(*) AS cnt, sum(g1) AS cnt1 FROM ev GROUP BY 1),
             |run AS (SELECT v, cnt, cnt1,
             |          sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |        FROM byv),
             |tot AS (SELECT CAST(sum(g1) AS BIGINT) AS n1, count(*) AS n FROM ev),
             |acc AS (SELECT
             |    sum(CAST(cnt1 AS HUGEINT) * (2 * cum - cnt + 1)) AS r1x2,
             |    sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie3
             |  FROM run)
             |SELECT n1, CAST(n - n1 AS BIGINT) AS n2,
             |  CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
             |  CAST((r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000
             |       // (2 * CAST(n1 AS HUGEINT) * (n - n1)) AS BIGINT) AS auc_micro,
             |  CAST(round(
             |    (CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2.0
             |      - CAST(n1 AS DOUBLE) * (n - n1) / 2.0)
             |    / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 12.0
             |        * ((n + 1) - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))))
             |    * 1000) AS BIGINT) AS z_milli
             |FROM acc CROSS JOIN tot""".stripMargin)),


    // Poisson-bootstrap confidence interval — THE distributed bootstrap
    // (multinomial resampling needs the row count up front and a global
    // draw; independent Poisson(1) weights per (row, replicate) need
    // neither, and at corpus scale are indistinguishable). 40 replicate
    // weights come from md5-derived uniforms cut at the exact Poisson(1)
    // pmf thresholds (0.367879/0.735759/0.919699/0.981012 in integer
    // millionths), so both engines draw bit-identical resamples with no
    // RNG. The explode-by-40 feeds straight into a partial aggregate —
    // 40 groups per partition, a 40-row shuffle, nothing materializes
    // 40× the data. CI = rank-based 2.5/97.5 percentiles over the 40
    // replicate means (ceil convention: ranks 1 and 39), exact integer
    // micros throughout.
    QueryDef(
      "q_bootstrap_ci",
      (s, d) => {
        val p = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(col("event_id"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
        val reps = p.select(col("event_id"), col("v"),
            explode(sequence(lit(0), lit(39))).as("b"))
          .withColumn("u",
            conv(substring(md5(concat(lit("bs:"), col("b").cast("string"),
              lit(":"), col("event_id").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 1000000L)
          .withColumn("wt",
            when(col("u") < 367879L, 0L).when(col("u") < 735759L, 1L)
              .when(col("u") < 919699L, 2L).when(col("u") < 981012L, 3L)
              .otherwise(4L))
        // Σwt·v (wt ≤ 4, v in millis) passes 2^63 near 5e14 rows — the
        // resample sums run in DECIMAL(38,0)/HUGEINT before the division
        val bm = reps.groupBy("b")
          .agg(expr("CAST(sum(CAST(wt AS DECIMAL(38,0)) * v) * 1000 div sum(wt) AS BIGINT)")
            .as("mean_micro"))
        val r = bm.withColumn("rn",
          row_number().over(Window.orderBy(col("mean_micro"), col("b"))))
        val base = p.agg(count(lit(1)).as("n"),
          expr("CAST(CAST(sum(v) AS DECIMAL(38,0)) * 1000 div count(1) AS BIGINT)")
            .as("mean_micro"))
        base
          .crossJoin(r.where(col("rn") === 1)
            .select(col("mean_micro").as("boot_lo_micro")))
          .crossJoin(broadcast(r.where(col("rn") === 39)
            .select(col("mean_micro").as("boot_hi_micro"))))
      },
      Some("""WITH p AS (SELECT event_id, CAST(round(value * 1000) AS BIGINT) AS v
             |           FROM events WHERE event_type = 'purchase'),
             |reps AS (SELECT p.event_id, p.v, r.range AS b,
             |           CAST('0x' || substr(md5('bs:' || r.range || ':' || p.event_id), 1, 12) AS BIGINT)
             |             % 1000000 AS u
             |         FROM p CROSS JOIN range(40) r),
             |w AS (SELECT b, v,
             |        CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
             |             WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3 ELSE 4 END AS wt
             |      FROM reps),
             |bm AS (SELECT b, CAST(CAST(sum(wt * v) AS HUGEINT) * 1000 // sum(wt) AS BIGINT) AS mean_micro
             |       FROM w GROUP BY 1),
             |r AS (SELECT mean_micro, row_number() OVER (ORDER BY mean_micro, b) AS rn FROM bm),
             |base AS (SELECT count(*) AS n, CAST(CAST(sum(v) AS HUGEINT) * 1000 // count(*) AS BIGINT) AS mean_micro FROM p)
             |SELECT base.n, base.mean_micro,
             |  (SELECT mean_micro FROM r WHERE rn = 1) AS boot_lo_micro,
             |  (SELECT mean_micro FROM r WHERE rn = 39) AS boot_hi_micro
             |FROM base""".stripMargin)),


    // CUPED pre-period adjustment — the variance-reduction readout every
    // serious experimentation platform computes before an A/B launches:
    // θ = cov(pre, post)/var(pre) over per-user value sums split at the
    // calendar midpoint, and ρ² = the variance fraction the adjustment
    // removes (equivalently, how much shorter the experiment gets). One
    // user-keyed aggregate (both periods in one conditional pass — the
    // split never rescans), then five exact integer moments; 128-bit
    // products (the squared covariance bounds exactness to ~1e9 users at
    // milli quantization — the documented trade).
    QueryDef(
      "q_cuped",
      (s, d) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        val u = Tables.events(s, d).groupBy("user_id")
          .agg(
            coalesce(sum(when(col("ts") < cut,
              expr("CAST(round(value*1000) AS BIGINT)"))), lit(0L)).as("x"),
            coalesce(sum(when(col("ts") >= cut,
              expr("CAST(round(value*1000) AS BIGINT)"))), lit(0L)).as("y"))
        u.agg(count(lit(1)).as("n"),
            sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
          .select(col("n").as("n_users"),
            expr("CAST((n*sxy - sx*sy) * 1000000 div (n*sxx - sx*sx) AS BIGINT)")
              .as("theta_micro"),
            expr("""CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000
                   | div ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS BIGINT)""".stripMargin)
              .as("rho2_micro"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(coalesce(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(round(value*1000) AS BIGINT) END), 0) AS BIGINT) AS x,
             |    CAST(coalesce(sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(round(value*1000) AS BIGINT) END), 0) AS BIGINT) AS y
             |  FROM events GROUP BY 1),
             |m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             |        sum(CAST(x AS HUGEINT)*y) AS sxy, sum(CAST(x AS HUGEINT)*x) AS sxx,
             |        sum(CAST(y AS HUGEINT)*y) AS syy FROM u)
             |SELECT CAST(n AS BIGINT) AS n_users,
             |  CAST((n*sxy - sx*sy) * 1000000 // (n*sxx - sx*sx) AS BIGINT) AS theta_micro,
             |  CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000
             |    // ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS BIGINT) AS rho2_micro
             |FROM m""".stripMargin)),


    // A/B sample-size planner — "how many users per arm to detect a 5 %
    // lift at α=0.05, power 0.8": n = (z_{0.975}+z_{0.8})²·2σ²/d² with
    // the normal quantiles inlined as the fixed constants every power
    // calculator uses. σ² and the mean come from one exact integer
    // moment pass over purchase values; the closed form is one fixed
    // IEEE expression over those integers in both engines.
    QueryDef(
      "q_power_analysis",
      (s, d) => Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select(expr("CAST(round(value*1000) AS BIGINT)").as("v"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(v AS DECIMAL(38,0))")).as("s"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("s2"))
        .select(col("n").as("n_obs"),
          expr("CAST(s * 1000 div n AS BIGINT)").as("mean_micro"),
          expr("CAST((n*s2 - s*s) div (n*n) AS BIGINT)").as("var_milli2"),
          expr("""CAST(ceil(pow(1.959964 + 0.841621, 2) * 2.0
                 |  * (CAST(n*s2 - s*s AS DOUBLE) / (CAST(n AS DOUBLE)*n))
                 |  / pow(0.05 * CAST(s AS DOUBLE) / n, 2)) AS BIGINT)""".stripMargin)
            .as("n_per_arm")),
      Some("""WITH p AS (SELECT CAST(round(value*1000) AS BIGINT) AS v
             |           FROM events WHERE event_type='purchase'),
             |m AS (SELECT count(*) AS n, sum(CAST(v AS HUGEINT)) AS s,
             |        sum(CAST(v AS HUGEINT)*v) AS s2 FROM p)
             |SELECT CAST(n AS BIGINT) AS n_obs,
             |  CAST(s * 1000 // n AS BIGINT) AS mean_micro,
             |  CAST((n*s2 - s*s) // (n*n) AS BIGINT) AS var_milli2,
             |  CAST(ceil(pow(1.959964 + 0.841621, 2) * 2.0
             |        * (CAST(n*s2 - s*s AS DOUBLE) / (CAST(n AS DOUBLE)*n))
             |        / pow(0.05 * CAST(s AS DOUBLE) / n, 2)) AS BIGINT) AS n_per_arm
             |FROM m""".stripMargin)),


    // difference-in-differences — the panel-data causal estimator: a
    // hash-assigned cohort crossed with the calendar midpoint gives the
    // 2×2 mean grid, and DiD = (T_post−T_pre)−(C_post−C_pre) nets out
    // both the cohort's level difference and the common time trend. One
    // map-combined 4-cell aggregate over the fact stream; means in exact
    // integer micros (128-bit sums). On randomized synthetic data the
    // estimate is statistical noise around 0 — the placebo test a DiD
    // pipeline should pass.
    QueryDef(
      "q_did",
      (s, d) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        val e = Tables.events(s, d).select(
          expr("CAST(round(value*1000) AS BIGINT)").as("v"),
          when(substring(md5(concat(lit("did:"), col("user_id"))), 1, 1) < "8",
            1).otherwise(0).as("treated"),
          when(col("ts") >= cut, 1).otherwise(0).as("post"))
        val cell = e.groupBy("treated", "post")
          .agg(count(lit(1)).as("n"),
            expr("CAST(sum(CAST(v AS DECIMAL(38,0))) * 1000 div count(1) AS BIGINT)")
              .as("mean_micro"))
        cell.agg(
          max(when(col("treated") === 1 && col("post") === 0, col("mean_micro")))
            .as("t_pre"),
          max(when(col("treated") === 1 && col("post") === 1, col("mean_micro")))
            .as("t_post"),
          max(when(col("treated") === 0 && col("post") === 0, col("mean_micro")))
            .as("c_pre"),
          max(when(col("treated") === 0 && col("post") === 1, col("mean_micro")))
            .as("c_post"))
          .select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
            ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
              .as("did_micro"))
      },
      Some("""WITH e AS (SELECT CAST(round(value*1000) AS BIGINT) AS v,
             |    CASE WHEN substr(md5('did:' || user_id), 1, 1) < '8' THEN 1 ELSE 0 END AS treated,
             |    CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16 00:00:00'
             |      THEN 1 ELSE 0 END AS post
             |  FROM events),
             |cell AS (SELECT treated, post, count(*) AS n,
             |    CAST(sum(CAST(v AS HUGEINT)) * 1000 // count(*) AS BIGINT) AS mean_micro
             |  FROM e GROUP BY 1, 2)
             |SELECT
             |  max(CASE WHEN treated=1 AND post=0 THEN mean_micro END) AS t_pre,
             |  max(CASE WHEN treated=1 AND post=1 THEN mean_micro END) AS t_post,
             |  max(CASE WHEN treated=0 AND post=0 THEN mean_micro END) AS c_pre,
             |  max(CASE WHEN treated=0 AND post=1 THEN mean_micro END) AS c_post,
             |  (max(CASE WHEN treated=1 AND post=1 THEN mean_micro END)
             |   - max(CASE WHEN treated=1 AND post=0 THEN mean_micro END))
             |  - (max(CASE WHEN treated=0 AND post=1 THEN mean_micro END)
             |     - max(CASE WHEN treated=0 AND post=0 THEN mean_micro END)) AS did_micro
             |FROM cell""".stripMargin)),


    // propensity-score stratification — the observational-data companion
    // of q_did: treatment (high error-share users) is NOT randomized and
    // activity confounds both treatment and outcome, so the naive
    // treated-vs-control difference is biased; stratifying on activity
    // quintiles and weighting the within-stratum differences by stratum
    // size removes the confounder's between-stratum component. Quintiles
    // ride GlobalOrder's exact global ntile (the q_rfm machinery — never
    // a partitionless window over users). Rows: stratum 1..5, stratum 0
    // = the naive contrast, stratum −1 = the stratified ATE. All means
    // exact integer micros.
    QueryDef(
      "q_propensity_strat",
      (s, d) => {
        val u = Tables.events(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("activity"),
            when(count(when(col("event_type") === "error", 1)) * 1000 >
              count(lit(1)) * 200, 1).otherwise(0).as("treated"),
            coalesce(sum(when(col("event_type") === "purchase",
              expr("CAST(round(value*1000) AS BIGINT)"))), lit(0L)).as("y"))
        val st = GlobalOrder.withGlobalNtile(u,
          Seq(col("activity"), col("user_id")), 5, "stratum")
        def cellAgg(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
          count(when(col("treated") === 1, 1)).as("n_t"),
          count(when(col("treated") === 0, 1)).as("n_c"),
          expr("""CAST(coalesce(sum(CASE WHEN treated=1 THEN CAST(y AS DECIMAL(38,0)) END), 0)
                 | * 1000 div nullif(count(CASE WHEN treated=1 THEN 1 END), 0) AS BIGINT)"""
            .stripMargin).as("mean_t_micro"),
          expr("""CAST(coalesce(sum(CASE WHEN treated=0 THEN CAST(y AS DECIMAL(38,0)) END), 0)
                 | * 1000 div nullif(count(CASE WHEN treated=0 THEN 1 END), 0) AS BIGINT)"""
            .stripMargin).as("mean_c_micro"),
          count(lit(1)).as("n_s"))
        val perFull = cellAgg(st.groupBy("stratum"))
        val per = perFull
          .select(col("stratum").cast("int").as("stratum"), col("n_t"), col("n_c"),
            col("mean_t_micro"), col("mean_c_micro"),
            (col("mean_t_micro") - col("mean_c_micro")).as("diff_micro"))
        val naive = cellAgg(st.withColumn("stratum", lit(0)).groupBy("stratum"))
          .select(col("stratum"), col("n_t"), col("n_c"),
            col("mean_t_micro"), col("mean_c_micro"),
            (col("mean_t_micro") - col("mean_c_micro")).as("diff_micro"))
        val ate = perFull.where(col("n_t") > 0 && col("n_c") > 0)
          .agg(sum("n_t").as("n_t"), sum("n_c").as("n_c"),
            expr("""CAST(sum(CAST(n_s AS DECIMAL(38,0)) * (mean_t_micro - mean_c_micro))
                   | div sum(n_s) AS BIGINT)""".stripMargin).as("diff_micro"))
          .select(lit(-1).as("stratum"), col("n_t"), col("n_c"),
            lit(null).cast("long").as("mean_t_micro"),
            lit(null).cast("long").as("mean_c_micro"), col("diff_micro"))
        per.unionByName(naive).unionByName(ate).orderBy("stratum")
      },
      Some("""WITH u AS (SELECT user_id, count(*) AS activity,
             |    CASE WHEN count(CASE WHEN event_type='error' THEN 1 END) * 1000 > 200 * count(*)
             |      THEN 1 ELSE 0 END AS treated,
             |    CAST(coalesce(sum(CASE WHEN event_type='purchase'
             |      THEN CAST(round(value*1000) AS BIGINT) END), 0) AS BIGINT) AS y
             |  FROM events GROUP BY 1),
             |st AS (SELECT *, ntile(5) OVER (ORDER BY activity, user_id) AS stratum FROM u),
             |per AS (SELECT CAST(stratum AS INT) AS stratum,
             |    count(CASE WHEN treated=1 THEN 1 END) AS n_t,
             |    count(CASE WHEN treated=0 THEN 1 END) AS n_c,
             |    CAST(coalesce(sum(CASE WHEN treated=1 THEN CAST(y AS HUGEINT) END), 0)
             |      * 1000 // nullif(count(CASE WHEN treated=1 THEN 1 END), 0) AS BIGINT) AS mean_t_micro,
             |    CAST(coalesce(sum(CASE WHEN treated=0 THEN CAST(y AS HUGEINT) END), 0)
             |      * 1000 // nullif(count(CASE WHEN treated=0 THEN 1 END), 0) AS BIGINT) AS mean_c_micro,
             |    count(*) AS n_s
             |  FROM st GROUP BY 1),
             |naive AS (SELECT 0 AS stratum,
             |    count(CASE WHEN treated=1 THEN 1 END) AS n_t,
             |    count(CASE WHEN treated=0 THEN 1 END) AS n_c,
             |    CAST(coalesce(sum(CASE WHEN treated=1 THEN CAST(y AS HUGEINT) END), 0)
             |      * 1000 // nullif(count(CASE WHEN treated=1 THEN 1 END), 0) AS BIGINT) AS mean_t_micro,
             |    CAST(coalesce(sum(CASE WHEN treated=0 THEN CAST(y AS HUGEINT) END), 0)
             |      * 1000 // nullif(count(CASE WHEN treated=0 THEN 1 END), 0) AS BIGINT) AS mean_c_micro,
             |    count(*) AS n_s
             |  FROM u),
             |ate AS (SELECT -1 AS stratum, sum(n_t) AS n_t, sum(n_c) AS n_c,
             |    CAST(NULL AS BIGINT) AS mean_t_micro, CAST(NULL AS BIGINT) AS mean_c_micro,
             |    CAST(sum(CAST(n_s AS HUGEINT) * (mean_t_micro - mean_c_micro))
             |      // sum(n_s) AS BIGINT) AS diff_micro
             |  FROM per WHERE n_t > 0 AND n_c > 0)
             |SELECT stratum, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
             |  mean_t_micro, mean_c_micro, mean_t_micro - mean_c_micro AS diff_micro
             |FROM per
             |UNION ALL
             |SELECT stratum, CAST(n_t AS BIGINT), CAST(n_c AS BIGINT),
             |  mean_t_micro, mean_c_micro, mean_t_micro - mean_c_micro
             |FROM naive
             |UNION ALL
             |SELECT stratum, CAST(n_t AS BIGINT), CAST(n_c AS BIGINT),
             |  mean_t_micro, mean_c_micro, diff_micro FROM ate
             |ORDER BY stratum""".stripMargin)),


    // Welch's unequal-variance t-test on purchase value between the two
    // md5-hash arms (the q_ab_assign split — hash-based, so both engines
    // assign identical arms): t and the Welch–Satterthwaite df from ONE
    // conditional-moment aggregate — six exact 128-bit integer moments
    // shuffle, nothing else (the distributed-inference shape beside
    // q_cuped). The closed forms are identical IEEE expressions over
    // those exact integers in both engines (the libm-parity convention);
    // on the null split the fixture t sits near 0 — the honest reading.
    QueryDef(
      "q_welch_ttest",
      (s, d) => {
        val u = Tables.events(s, d).select("user_id").distinct()
          .withColumn("arm",
            when(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 1) < "8",
              "A").otherwise("B"))
        val p = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(col("user_id"), expr("CAST(round(value*1000) AS BIGINT)").as("v"))
          .join(u, "user_id")
        p.agg(
            count(when(col("arm") === "A", 1)).as("na"),
            count(when(col("arm") === "B", 1)).as("nb"),
            sum(when(col("arm") === "A", expr("CAST(v AS DECIMAL(38,0))"))).as("sa"),
            sum(when(col("arm") === "B", expr("CAST(v AS DECIMAL(38,0))"))).as("sb"),
            sum(when(col("arm") === "A", expr("CAST(v AS DECIMAL(38,0)) * v"))).as("s2a"),
            sum(when(col("arm") === "B", expr("CAST(v AS DECIMAL(38,0)) * v"))).as("s2b"))
          .select(col("na"), col("nb"),
            expr("CAST(sa * 1000 div na AS BIGINT)").as("mean_a_micro"),
            expr("CAST(sb * 1000 div nb AS BIGINT)").as("mean_b_micro"),
            expr("""CAST(round((CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb)
                   | / sqrt(CAST(na*s2a - sa*sa AS DOUBLE)/(CAST(na AS DOUBLE)*na*(na-1))
                   |      + CAST(nb*s2b - sb*sb AS DOUBLE)/(CAST(nb AS DOUBLE)*nb*(nb-1))) * 1000)
                   | AS BIGINT)""".stripMargin).as("t_milli"),
            expr("""CAST(round(pow(CAST(na*s2a - sa*sa AS DOUBLE)/(CAST(na AS DOUBLE)*na*(na-1))
                   |        + CAST(nb*s2b - sb*sb AS DOUBLE)/(CAST(nb AS DOUBLE)*nb*(nb-1)), 2)
                   | / (pow(CAST(na*s2a - sa*sa AS DOUBLE)/(CAST(na AS DOUBLE)*na*(na-1)), 2)/(na-1)
                   |  + pow(CAST(nb*s2b - sb*sb AS DOUBLE)/(CAST(nb AS DOUBLE)*nb*(nb-1)), 2)/(nb-1))
                   | * 1000) AS BIGINT)""".stripMargin).as("df_milli"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |arm AS (SELECT user_id, CASE WHEN substr(md5('ab:' || user_id),1,1) < '8'
             |          THEN 'A' ELSE 'B' END AS arm FROM u),
             |p AS (SELECT a.arm, CAST(round(e.value*1000) AS BIGINT) AS v
             |      FROM events e JOIN arm a USING (user_id) WHERE e.event_type='purchase'),
             |m AS (SELECT count(*) FILTER (WHERE arm='A') AS na,
             |        count(*) FILTER (WHERE arm='B') AS nb,
             |        sum(CAST(v AS HUGEINT)) FILTER (WHERE arm='A') AS sa,
             |        sum(CAST(v AS HUGEINT)) FILTER (WHERE arm='B') AS sb,
             |        sum(CAST(v AS HUGEINT)*v) FILTER (WHERE arm='A') AS s2a,
             |        sum(CAST(v AS HUGEINT)*v) FILTER (WHERE arm='B') AS s2b
             |      FROM p)
             |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             |  CAST(sa * 1000 // na AS BIGINT) AS mean_a_micro,
             |  CAST(sb * 1000 // nb AS BIGINT) AS mean_b_micro,
             |  CAST(round((CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb)
             |    / sqrt(CAST(na*s2a - sa*sa AS DOUBLE)/(CAST(na AS DOUBLE)*na*(na-1))
             |         + CAST(nb*s2b - sb*sb AS DOUBLE)/(CAST(nb AS DOUBLE)*nb*(nb-1))) * 1000)
             |    AS BIGINT) AS t_milli,
             |  CAST(round(pow(CAST(na*s2a - sa*sa AS DOUBLE)/(CAST(na AS DOUBLE)*na*(na-1))
             |           + CAST(nb*s2b - sb*sb AS DOUBLE)/(CAST(nb AS DOUBLE)*nb*(nb-1)), 2)
             |    / (pow(CAST(na*s2a - sa*sa AS DOUBLE)/(CAST(na AS DOUBLE)*na*(na-1)), 2)/(na-1)
             |     + pow(CAST(nb*s2b - sb*sb AS DOUBLE)/(CAST(nb AS DOUBLE)*nb*(nb-1)), 2)/(nb-1))
             |    * 1000) AS BIGINT) AS df_milli
             |FROM m""".stripMargin)),


    // Kendall tau-a rank correlation between the daily view and purchase
    // counts — the nonparametric "do busy browse days convert?" readout
    // beside q_spearman's value-rank form. Day pairs are calendar-
    // bounded (C(days,2) after one grouped count — the q_theilsen
    // argument), concordance is exact integer sign arithmetic, and tau
    // micro-rounds one IEEE division of exact integers, so both engines
    // agree bit-for-bit.
    QueryDef(
      "q_kendall_tau",
      (s, d) => {
        val dd = Tables.events(s, d)
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(when(col("event_type") === "view", 1)).as("x"),
            count(when(col("event_type") === "purchase", 1)).as("y"))
        val a = dd.select(col("day").as("d1"), col("x").as("x1"), col("y").as("y1"))
        val b = dd.select(col("day").as("d2"), col("x").as("x2"), col("y").as("y2"))
        a.join(broadcast(b), col("d1") < col("d2"))
          .select(
            when(expr("(x1 - x2) * (y1 - y2) > 0"), 1L).otherwise(0L).as("conc"),
            when(expr("(x1 - x2) * (y1 - y2) < 0"), 1L).otherwise(0L).as("disc"))
          .agg(count(lit(1)).as("n_pairs"),
            sum("conc").as("concordant"), sum("disc").as("discordant"))
          .select(col("n_pairs"), col("concordant"), col("discordant"),
            expr("CAST(round((concordant - discordant) * 1000000.0 / n_pairs) AS BIGINT)")
              .as("tau_a_micro"))
      },
      Some("""WITH dd AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    count(CASE WHEN event_type='view' THEN 1 END) AS x,
             |    count(CASE WHEN event_type='purchase' THEN 1 END) AS y
             |  FROM events GROUP BY 1),
             |pr AS (SELECT CASE WHEN (a.x-b.x)*(a.y-b.y) > 0 THEN 1 ELSE 0 END AS conc,
             |              CASE WHEN (a.x-b.x)*(a.y-b.y) < 0 THEN 1 ELSE 0 END AS disc
             |       FROM dd a JOIN dd b ON a.day < b.day)
             |SELECT count(*) AS n_pairs,
             |  CAST(sum(conc) AS BIGINT) AS concordant,
             |  CAST(sum(disc) AS BIGINT) AS discordant,
             |  CAST(round(sum(conc - disc) * 1000000.0 / count(*)) AS BIGINT) AS tau_a_micro
             |FROM pr""".stripMargin)),


    // mutual information between event type and the high-value flag —
    // the model-free dependence screen beside q_cramers_v (MI reads in
    // nats and feeds feature selection directly). One grouped count
    // builds the bounded |types|×2 contingency grid; marginals re-
    // aggregate the GRID (never the fact table), and each cell's
    // p·ln(p/(px·py)) term is nano-quantized BEFORE the sum — the
    // reduction is an exact integer sum over ≤ 2·|types| cells, immune
    // to float summation order (the cross-engine convention). Near-zero
    // on the value⊥type fixture — the honest null.
    QueryDef(
      "q_mutual_info",
      (s, d) => {
        val c = Tables.events(s, d)
          .select(col("event_type"),
            when(col("value") > 250, 1).otherwise(0).as("hv"))
          .groupBy("event_type", "hv").agg(count(lit(1)).as("n"))
        val t = c.agg(sum("n").as("tot"))
        val mx = c.groupBy("event_type").agg(sum("n").as("nx"))
        val my = c.groupBy("hv").agg(sum("n").as("ny"))
        c.join(mx, "event_type").join(my, "hv").crossJoin(t)
          .select(expr("""CAST(round(1000000000 * (CAST(n AS DOUBLE) / tot)
                 | * ln(CAST(n AS DOUBLE) * tot / (CAST(nx AS DOUBLE) * ny)))
                 | AS BIGINT)""".stripMargin).as("term_nano"))
          .agg(count(lit(1)).as("n_cells"), sum("term_nano").as("mi_nano"))
      },
      Some("""WITH c AS (SELECT event_type, CASE WHEN value > 250 THEN 1 ELSE 0 END AS hv,
             |             count(*) AS n FROM events GROUP BY 1, 2),
             |t AS (SELECT sum(n) AS tot FROM c),
             |mx AS (SELECT event_type, sum(n) AS nx FROM c GROUP BY 1),
             |my AS (SELECT hv, sum(n) AS ny FROM c GROUP BY 1),
             |terms AS (SELECT CAST(round(1000000000 * (CAST(c.n AS DOUBLE) / t.tot)
             |    * ln(CAST(c.n AS DOUBLE) * t.tot / (CAST(mx.nx AS DOUBLE) * my.ny)))
             |    AS BIGINT) AS term_nano
             |  FROM c JOIN mx USING (event_type) JOIN my USING (hv) CROSS JOIN t)
             |SELECT count(*) AS n_cells, CAST(sum(term_nano) AS BIGINT) AS mi_nano
             |FROM terms""".stripMargin)),


    // one-way ANOVA of event value across the five event types — the
    // F-test feature screen that completes the selection triad beside
    // q_chisq (categorical independence) and q_mutual_info (nonlinear):
    // between/within variance from per-group exact 128-bit integer
    // moments in one grouped pass. The per-group s²/n term quantizes to
    // an integer BEFORE the cross-group sum — unordered double addition
    // never happens, so both engines add identical integers — and F /
    // eta² are single IEEE closed forms over those exact sums. Fixture
    // value ⊥ type, so F ≈ 0.4: the honest null.
    QueryDef(
      "q_anova",
      (s, d) => {
        val g = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("event_type"),
            expr("CAST(round(value*1000) AS BIGINT)").as("v"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(v AS DECIMAL(38,0))")).as("s"),
            sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("s2"))
          .select(col("n"), col("s"), col("s2"),
            expr("CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS DECIMAL(38,0))")
              .as("t"))
        g.agg(count(lit(1)).as("k"), sum("n").as("n"), sum("s").as("s"),
            sum("s2").as("s2"), sum("t").as("sb"))
          .select(col("k"), col("n"),
            expr("""CAST(round((CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
                   | /(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
                   | * 1000000) AS BIGINT)""".stripMargin).as("eta2_micro"),
            expr("""CAST(round(((CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)/(k-1))
                   | /((CAST(s2 AS DOUBLE) - CAST(sb AS DOUBLE))/(n-k)) * 1000)
                   | AS BIGINT)""".stripMargin).as("f_milli"))
      },
      Some("""WITH v AS (SELECT event_type, CAST(round(value*1000) AS BIGINT) AS v
             |    FROM events WHERE value IS NOT NULL),
             |g AS (SELECT event_type, count(*) AS n, sum(CAST(v AS HUGEINT)) AS s,
             |        sum(CAST(v AS HUGEINT)*v) AS s2 FROM v GROUP BY 1),
             |g2 AS (SELECT n, s, s2,
             |        CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS HUGEINT) AS t FROM g),
             |a AS (SELECT count(*) AS k, sum(n) AS n, sum(s) AS s, sum(s2) AS s2,
             |        sum(t) AS sb FROM g2)
             |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
             |  CAST(round((CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
             |    /(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
             |    * 1000000) AS BIGINT) AS eta2_micro,
             |  CAST(round(((CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)/(k-1))
             |    /((CAST(s2 AS DOUBLE) - CAST(sb AS DOUBLE))/(n-k)) * 1000)
             |    AS BIGINT) AS f_milli
             |FROM a""".stripMargin)),


    // quantity-WEIGHTED median unit price per brand — the weighted
    // quantile no built-in percentile gives (a 40-unit line should pull
    // the "typical price" 40× harder than a 1-unit line): the median is
    // the first price whose running weight crosses half the brand's
    // total. Scale shape: weights aggregate to the (brand, unit_cents)
    // HISTOGRAM first (map-combined — the raw lines never reach a
    // window), and the cumulative rides the bounded PRICE DOMAIN per
    // brand (the q_roc_auc / q_ks_test convention; the first cut ran a
    // brand-partitioned window over raw lines and grew 16× at the 100×
    // probe — 25 brands ⇒ data-sized partitions, the single-task trap).
    // The crossing price is unique at histogram grain, so no tie-break
    // key is needed.
    QueryDef(
      "q_weighted_median",
      (s, d) => {
        val h = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand").as("brand"),
            expr("CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)")
              .as("unit_cents"))
          .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("q"))
        val cum = h.withColumn("cw",
            sum("q").over(Window.partitionBy("brand").orderBy("unit_cents")))
          .withColumn("tw", sum("q").over(Window.partitionBy("brand")))
        cum.where(col("cw") * 2 >= col("tw"))
          .groupBy("brand")
          .agg(min("unit_cents").as("weighted_median_cents"),
            max("tw").as("tw"))
          .select(col("brand"), col("tw").cast("long").as("total_units"),
            col("weighted_median_cents").cast("long").as("weighted_median_cents"))
          .orderBy("brand")
      },
      Some("""WITH h AS (SELECT p.p_brand AS brand,
             |    CAST(round(l.l_extendedprice / l.l_quantity * 100) AS BIGINT) AS unit_cents,
             |    sum(CAST(round(l.l_quantity) AS BIGINT)) AS q
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |  GROUP BY 1, 2),
             |cum AS (SELECT brand, unit_cents,
             |    sum(q) OVER (PARTITION BY brand ORDER BY unit_cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             |    sum(q) OVER (PARTITION BY brand) AS tw
             |  FROM h)
             |SELECT brand, CAST(max(tw) AS BIGINT) AS total_units,
             |  CAST(min(unit_cents) AS BIGINT) AS weighted_median_cents
             |FROM cum WHERE cw * 2 >= tw GROUP BY brand ORDER BY brand""".stripMargin)),


    // sample-ratio-mismatch guardrail — the FIRST check any A/B readout
    // runs: χ² goodness-of-fit of the md5-hash arm counts against the
    // declared 50/50 split, flagged at the 3.841 critical value
    // (α=0.05, df=1). For an even split the statistic collapses to
    // (2·n_A − n)²/n, which stays exact 128-bit integer until one
    // micro division; the flag compares the exact rational in IEEE
    // double identically in both engines. Pairs with q_ab_assign
    // (the split) and q_welch_ttest (the readout this gate protects).
    QueryDef(
      "q_srm_check",
      (s, d) => {
        val arm = Tables.events(s, d).select("user_id").distinct()
          .select(when(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 1) < "8",
            "A").otherwise("B").as("arm"))
        arm.agg(count(when(col("arm") === "A", 1)).as("na"),
            count(when(col("arm") === "B", 1)).as("nb"),
            count(lit(1)).as("n"))
          .select(col("na"), col("nb"),
            expr("""CAST(CAST(2*na - n AS DECIMAL(38,0))*(2*na - n) * 1000000 div n
                   | AS BIGINT)""".stripMargin).as("chi2_micro"),
            expr("""CAST(CASE WHEN CAST(CAST(2*na - n AS DECIMAL(38,0))*(2*na - n) AS DOUBLE) / n
                   | > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
              .as("srm_flag"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |arm AS (SELECT CASE WHEN substr(md5('ab:' || user_id),1,1) < '8'
             |          THEN 'A' ELSE 'B' END AS arm FROM u),
             |c AS (SELECT count(*) FILTER (WHERE arm='A') AS na,
             |        count(*) FILTER (WHERE arm='B') AS nb, count(*) AS n FROM arm)
             |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             |  CAST(CAST(2*na - n AS HUGEINT)*(2*na - n) * 1000000 // n AS BIGINT) AS chi2_micro,
             |  CAST(CASE WHEN CAST(CAST(2*na - n AS HUGEINT)*(2*na - n) AS DOUBLE) / n
             |    > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
             |FROM c""".stripMargin)),


    // Benjamini–Hochberg FDR screen — one chi-square independence test per
    // event type (type vs the rest × early/mid/late month-tercile, a 2×3
    // table ⇒ df = 2, whose survival function is the CLOSED FORM e^(-χ²/2):
    // no incomplete-gamma approximation crosses the engine boundary), then
    // the BH step-up at α = 0.05 across the m per-type p-values. Everything
    // after the ONE map-combined grouped count is margin arithmetic on the
    // ≤ |types| × 3 cell table; the rank/kmax windows run over the
    // |types|-row p frame (bounded by the type domain — q_macro_f1
    // convention). p is derived from the already-quantized χ² so both
    // engines exponentiate the same rational.
    QueryDef(
      "q_fdr_bh",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"),
            when(dayofmonth(col("ts")) <= 10, 0)
              .when(dayofmonth(col("ts")) <= 20, 1).otherwise(2).as("per"))
        val o = e.groupBy("event_type", "per").agg(count(lit(1)).as("o"))
        val tm = o.groupBy("per").agg(sum("o").as("np"))
        val ty = o.groupBy("event_type").agg(sum("o").as("nt"))
        val n = o.agg(sum("o").as("n"))
        val cells = ty.crossJoin(broadcast(tm)).crossJoin(n)
          .join(o, Seq("event_type", "per"), "left")
          .select(col("event_type"),
            coalesce(col("o"), lit(0L)).as("obs"),
            expr("CAST(nt AS DOUBLE) * np / n").as("exp_in"),
            expr("CAST(n - nt AS DOUBLE) * np / n").as("exp_out"),
            (col("np") - coalesce(col("o"), lit(0L))).as("obs_out"))
        val chi = cells.groupBy("event_type")
          .agg(expr("""CAST(round(1000000.0 * sum((obs-exp_in)*(obs-exp_in)/exp_in
                      |  + (obs_out-exp_out)*(obs_out-exp_out)/exp_out)) AS BIGINT)"""
            .stripMargin).as("chisq_micro"))
        val p = chi.select(col("event_type"), col("chisq_micro"),
          expr("CAST(round(1000000.0 * exp(-CAST(chisq_micro AS DOUBLE)/2000000.0)) AS BIGINT)")
            .as("p_micro"))
        // the global windows below run over the |types|-row p frame —
        // bounded by the type domain, whitelisted in PlanAuditSpec
        val wAll = Window.partitionBy()
        val rk = p
          .withColumn("r", row_number().over(
            Window.orderBy(col("p_micro"), col("event_type"))))
          .withColumn("m", count(lit(1)).over(wAll))
        rk.withColumn("kmax",
            max(when(col("p_micro") * col("m") <= col("r") * 50000, col("r"))
              .otherwise(lit(0L))).over(wAll))
          .select(col("event_type"), col("chisq_micro"), col("p_micro"),
            col("r").cast("long").as("rk"),
            expr("(r * 50000) div m").as("thr_micro"),
            expr("CAST(CASE WHEN r <= kmax THEN 1 ELSE 0 END AS BIGINT)").as("reject"))
          .orderBy("rk")
      },
      Some("""WITH e AS (SELECT event_type,
             |      CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 10 THEN 0
             |           WHEN day(CAST(ts AS TIMESTAMP)) <= 20 THEN 1 ELSE 2 END AS per
             |    FROM events),
             |o AS (SELECT event_type, per, count(*) AS o FROM e GROUP BY 1,2),
             |tm AS (SELECT per, sum(o) AS np FROM o GROUP BY 1),
             |ty AS (SELECT event_type, sum(o) AS nt FROM o GROUP BY 1),
             |n AS (SELECT sum(o) AS n FROM o),
             |cells AS (SELECT t.event_type,
             |    coalesce(o.o, 0) AS obs,
             |    CAST(t.nt AS DOUBLE) * p.np / n.n AS exp_in,
             |    CAST(n.n - t.nt AS DOUBLE) * p.np / n.n AS exp_out,
             |    p.np - coalesce(o.o, 0) AS obs_out
             |  FROM ty t CROSS JOIN tm p CROSS JOIN n
             |  LEFT JOIN o ON o.event_type = t.event_type AND o.per = p.per),
             |chi AS (SELECT event_type,
             |    CAST(round(1000000.0 * sum((obs-exp_in)*(obs-exp_in)/exp_in
             |      + (obs_out-exp_out)*(obs_out-exp_out)/exp_out)) AS BIGINT) AS chisq_micro
             |  FROM cells GROUP BY 1),
             |p AS (SELECT event_type, chisq_micro,
             |    CAST(round(1000000.0 * exp(-CAST(chisq_micro AS DOUBLE)/2000000.0)) AS BIGINT)
             |      AS p_micro FROM chi),
             |rk AS (SELECT *, row_number() OVER (ORDER BY p_micro, event_type) AS r,
             |        count(*) OVER () AS m FROM p),
             |bh AS (SELECT *,
             |        max(CASE WHEN p_micro * m <= r * 50000 THEN r ELSE 0 END) OVER () AS kmax
             |      FROM rk)
             |SELECT event_type, chisq_micro, p_micro, CAST(r AS BIGINT) AS rk,
             |  CAST((r * 50000) // m AS BIGINT) AS thr_micro,
             |  CAST(CASE WHEN r <= kmax THEN 1 ELSE 0 END AS BIGINT) AS reject
             |FROM bh ORDER BY rk""".stripMargin)),


    // empirical-Bayes (James–Stein/Morris) shrinkage of per-nation mean
    // order value toward the grand mean — the standard small-sample
    // stabilizer for per-group KPIs: weight = τ²/(τ² + σ²w/nᵢ) with σ²w the
    // pooled within-group variance and τ² the method-of-moments between-
    // group variance (floored at 0). TWO map-combined aggregates (group
    // moments, then the 25-row margin frame) — nothing else touches the
    // orders scan. Squares widen through exact 128-bit products before the
    // one double cast; every reported double rounds once.
    QueryDef(
      "q_eb_shrinkage",
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nk"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val g = o.groupBy("nk").agg(count(lit(1)).as("n"), sum("cents").as("s"),
          sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("ss"))
        val w = g.agg(
          expr("""sum(CAST(ss AS DOUBLE) - CAST(CAST(s AS DECIMAL(38,0))*s AS DOUBLE)/n)
                 |  / (sum(n) - count(*))""".stripMargin).as("s2w"),
          expr("avg(CAST(s AS DOUBLE)/n)").as("mbar"),
          expr("var_samp(CAST(s AS DOUBLE)/n)").as("vbar"),
          expr("avg(1.0/n)").as("invn"))
        val tau = w.select(col("s2w"), col("mbar"),
          expr("greatest(vbar - s2w * invn, 0.0)").as("tau2"))
        g.crossJoin(tau)
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("nk"), col("n_name").as("nation"))), "nk")
          .select(col("nation"), col("n").as("n_orders"),
            expr("CAST(round(CAST(s AS DOUBLE)/n) AS BIGINT)").as("raw_mean_cents"),
            expr("""CAST(round(mbar + tau2 / (tau2 + s2w/n)
                   |  * (CAST(s AS DOUBLE)/n - mbar)) AS BIGINT)""".stripMargin)
              .as("eb_mean_cents"),
            expr("CAST(round(1000000.0 * tau2 / (tau2 + s2w/n)) AS BIGINT)")
              .as("weight_micro"))
          .orderBy("nation")
      },
      Some("""WITH o AS (SELECT c.c_nationkey AS nk,
             |      CAST(round(o_totalprice*100) AS BIGINT) AS cents
             |    FROM orders JOIN customer c ON c.c_custkey = o_custkey),
             |g AS (SELECT nk, count(*) AS n, sum(cents) AS s,
             |      sum(CAST(cents AS HUGEINT)*cents) AS ss FROM o GROUP BY 1),
             |w AS (SELECT
             |    sum(CAST(ss AS DOUBLE) - CAST(CAST(s AS HUGEINT)*s AS DOUBLE)/n)
             |      / (sum(n) - count(*)) AS s2w,
             |    avg(CAST(s AS DOUBLE)/n) AS mbar,
             |    var_samp(CAST(s AS DOUBLE)/n) AS vbar,
             |    avg(1.0/n) AS invn FROM g),
             |tau AS (SELECT s2w, mbar, greatest(vbar - s2w * invn, 0.0) AS tau2 FROM w)
             |SELECT nn.n_name AS nation, CAST(g.n AS BIGINT) AS n_orders,
             |  CAST(round(CAST(g.s AS DOUBLE)/g.n) AS BIGINT) AS raw_mean_cents,
             |  CAST(round(t.mbar + t.tau2 / (t.tau2 + t.s2w/g.n)
             |    * (CAST(g.s AS DOUBLE)/g.n - t.mbar)) AS BIGINT) AS eb_mean_cents,
             |  CAST(round(1000000.0 * t.tau2 / (t.tau2 + t.s2w/g.n)) AS BIGINT)
             |    AS weight_micro
             |FROM g CROSS JOIN tau t JOIN nation nn ON nn.n_nationkey = g.nk
             |ORDER BY 1""".stripMargin)),


    // always-valid A/B monitoring — the mixture-SPRT (Johari et al.) p-value
    // sequence for the purchase-value difference between the two user_id-
    // parity arms, reported at every daily checkpoint: λₜ with normal
    // mixture τ² = pooled σ² on the cumulative two-sample z, p = 1/max λ.
    // Peeking-safe by construction (λ is a martingale under H₀ — the
    // running max can only tighten honestly). One map-combined daily-arm
    // aggregate; cumulative/forward-fill/running-max windows all ride the
    // ≤ #days calendar frame (q_changepoint convention). The fixture's arms
    // are identical by design, so p plateaus high — the honest null.
    QueryDef(
      "q_msprt",
      (s, d) => {
        val p0 = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(to_date(col("ts")).as("day"), (col("user_id") % 2).as("arm"),
            round(col("value") * 100).cast("long").as("cents"))
        val dAgg = p0.groupBy("day", "arm")
          .agg(count(lit(1)).as("n"), sum("cents").as("s"),
            sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("ss"))
        val piv = dAgg.groupBy("day").agg(
          sum(when(col("arm") === 0, col("n"))).as("dn0"),
          sum(when(col("arm") === 0, col("s"))).as("ds0"),
          sum(when(col("arm") === 0, col("ss"))).as("dss0"),
          sum(when(col("arm") === 1, col("n"))).as("dn1"),
          sum(when(col("arm") === 1, col("s"))).as("ds1"),
          sum(when(col("arm") === 1, col("ss"))).as("dss1"))
        val wc = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = piv.select(col("day"),
          sum(coalesce(col("dn0"), lit(0L))).over(wc).as("n0"),
          sum(coalesce(col("ds0"), lit(0L))).over(wc).as("s0"),
          sum(coalesce(col("dss0"), lit(0L).cast("decimal(38,0)"))).over(wc).as("ss0"),
          sum(coalesce(col("dn1"), lit(0L))).over(wc).as("n1"),
          sum(coalesce(col("ds1"), lit(0L))).over(wc).as("s1"),
          sum(coalesce(col("dss1"), lit(0L).cast("decimal(38,0)"))).over(wc).as("ss1"))
        val lam = cum.where(col("n0") >= 2 && col("n1") >= 2)
          .select(col("day"), col("n0"), col("n1"),
            expr("CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0").as("diff"),
            expr("""((CAST(ss0 AS DOUBLE) - CAST(CAST(s0 AS DECIMAL(38,0))*s0 AS DOUBLE)/n0)
                   | + (CAST(ss1 AS DOUBLE) - CAST(CAST(s1 AS DECIMAL(38,0))*s1 AS DOUBLE)/n1))
                   | / (n0 + n1 - 2)""".stripMargin).as("s2"))
          .select(col("day"), col("n0"), col("n1"),
            expr("CAST(round(100.0*diff) AS BIGINT)").as("diff_centi"),
            expr("""sqrt((s2*(1.0/n0+1.0/n1)) / (s2*(1.0/n0+1.0/n1) + s2))
                   | * exp(diff*diff / (2*(s2*(1.0/n0+1.0/n1))
                   |       * (1 + (s2*(1.0/n0+1.0/n1))/s2)))""".stripMargin).as("lam"))
        lam.select(col("day"), col("n0"), col("n1"), col("diff_centi"),
            expr("CAST(round(1000000.0 * lam) AS BIGINT)").as("lam_micro"),
            max(col("lam")).over(Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("lmax"))
          .select(col("day"), col("n0"), col("n1"), col("diff_centi"), col("lam_micro"),
            expr("CAST(round(1000000.0 * least(1.0, 1.0/lmax)) AS BIGINT)")
              .as("p_always_micro"))
          .orderBy("day")
      },
      Some("""WITH p AS (SELECT CAST(ts AS DATE) AS day, user_id % 2 AS arm,
             |      CAST(round(value*100) AS BIGINT) AS cents
             |    FROM events WHERE event_type = 'purchase'),
             |d AS (SELECT day, arm, count(*) AS n, sum(cents) AS s,
             |      sum(CAST(cents AS HUGEINT)*cents) AS ss FROM p GROUP BY 1,2),
             |piv AS (SELECT day,
             |    sum(CASE WHEN arm=0 THEN n END) AS dn0,
             |    sum(CASE WHEN arm=0 THEN s END) AS ds0,
             |    sum(CASE WHEN arm=0 THEN ss END) AS dss0,
             |    sum(CASE WHEN arm=1 THEN n END) AS dn1,
             |    sum(CASE WHEN arm=1 THEN s END) AS ds1,
             |    sum(CASE WHEN arm=1 THEN ss END) AS dss1
             |  FROM d GROUP BY 1),
             |cum AS (SELECT day,
             |    sum(coalesce(dn0, 0)) OVER (ORDER BY day) AS n0,
             |    sum(coalesce(ds0, 0)) OVER (ORDER BY day) AS s0,
             |    sum(coalesce(dss0, 0)) OVER (ORDER BY day) AS ss0,
             |    sum(coalesce(dn1, 0)) OVER (ORDER BY day) AS n1,
             |    sum(coalesce(ds1, 0)) OVER (ORDER BY day) AS s1,
             |    sum(coalesce(dss1, 0)) OVER (ORDER BY day) AS ss1
             |  FROM piv),
             |st AS (SELECT day, n0, n1,
             |    CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0 AS diff,
             |    ((CAST(ss0 AS DOUBLE) - CAST(CAST(s0 AS HUGEINT)*s0 AS DOUBLE)/n0)
             |      + (CAST(ss1 AS DOUBLE) - CAST(CAST(s1 AS HUGEINT)*s1 AS DOUBLE)/n1))
             |      / (n0 + n1 - 2) AS s2
             |  FROM cum WHERE n0 >= 2 AND n1 >= 2),
             |lam AS (SELECT day, n0, n1,
             |    CAST(round(100.0*diff) AS BIGINT) AS diff_centi,
             |    sqrt((s2*(1.0/n0+1.0/n1)) / (s2*(1.0/n0+1.0/n1) + s2))
             |      * exp(diff*diff / (2*(s2*(1.0/n0+1.0/n1))
             |            * (1 + (s2*(1.0/n0+1.0/n1))/s2))) AS lam
             |  FROM st),
             |run AS (SELECT day, n0, n1, diff_centi,
             |    CAST(round(1000000.0 * lam) AS BIGINT) AS lam_micro,
             |    max(lam) OVER (ORDER BY day) AS lmax FROM lam)
             |SELECT day, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
             |  diff_centi, lam_micro,
             |  CAST(round(1000000.0 * least(1.0, 1.0/lmax)) AS BIGINT) AS p_always_micro
             |FROM run ORDER BY day""".stripMargin)),


    // partial correlation — purchase vs error daily counts CONTROLLING for
    // view volume: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)), the
    // one-line screen for "is this correlation just traffic?". One
    // map-combined moment aggregate over the daily conditional counts;
    // the three pairwise r's and the partial come from the same exact
    // integer moment row, each rounded once to micro (q_anova convention).
    QueryDef(
      "q_partial_corr",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("y"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("z"))
        val sAgg = daily.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
          sum(expr("x*x")).as("sxx"), sum(expr("y*y")).as("syy"),
          sum(expr("z*z")).as("szz"), sum(expr("x*y")).as("sxy"),
          sum(expr("x*z")).as("sxz"), sum(expr("y*z")).as("syz"))
        sAgg.select(col("n"),
            expr("""(n*sxy - sx*sy)/(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                   | *sqrt(CAST(n*syy - sy*sy AS DOUBLE)))""".stripMargin).as("rxy"),
            expr("""(n*sxz - sx*sz)/(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                   | *sqrt(CAST(n*szz - sz*sz AS DOUBLE)))""".stripMargin).as("rxz"),
            expr("""(n*syz - sy*sz)/(sqrt(CAST(n*syy - sy*sy AS DOUBLE))
                   | *sqrt(CAST(n*szz - sz*sz AS DOUBLE)))""".stripMargin).as("ryz"))
          .select(col("n").as("n_days"),
            expr("CAST(round(1000000.0*rxy) AS BIGINT)").as("rxy_micro"),
            expr("CAST(round(1000000.0*rxz) AS BIGINT)").as("rxz_micro"),
            expr("CAST(round(1000000.0*ryz) AS BIGINT)").as("ryz_micro"),
            expr("""CAST(round(1000000.0*(rxy - rxz*ryz)
                   | /sqrt((1-rxz*rxz)*(1-ryz*ryz))) AS BIGINT)""".stripMargin)
              .as("rxy_given_z_micro"))
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             |    sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS x,
             |    sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS y,
             |    sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS z
             |  FROM events GROUP BY 1),
             |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz,
             |    sum(x*y) AS sxy, sum(x*z) AS sxz, sum(y*z) AS syz FROM daily),
             |r AS (SELECT n,
             |    (n*sxy - sx*sy)/(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
             |      *sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS rxy,
             |    (n*sxz - sx*sz)/(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
             |      *sqrt(CAST(n*szz - sz*sz AS DOUBLE))) AS rxz,
             |    (n*syz - sy*sz)/(sqrt(CAST(n*syy - sy*sy AS DOUBLE))
             |      *sqrt(CAST(n*szz - sz*sz AS DOUBLE))) AS ryz
             |  FROM s)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(round(1000000.0*rxy) AS BIGINT) AS rxy_micro,
             |  CAST(round(1000000.0*rxz) AS BIGINT) AS rxz_micro,
             |  CAST(round(1000000.0*ryz) AS BIGINT) AS ryz_micro,
             |  CAST(round(1000000.0*(rxy - rxz*ryz)
             |    /sqrt((1-rxz*rxz)*(1-ryz*ryz))) AS BIGINT) AS rxy_given_z_micro
             |FROM r""".stripMargin)),


    // TOST equivalence test — the two one-sided t-tests that PROVE two arms
    // are the same (a non-significant difference test can't): equivalence
    // margin = 10 % of the pooled mean purchase value, both one-sided
    // t's against the fixed z 1.6449 (α = 0.05). The complement of
    // q_welch_ttest / q_msprt: those hunt differences, this certifies
    // their absence. ONE conditional-moment pass; squares widen through
    // 128-bit products before the double sqrt (q_welch_ttest convention).
    // Fixture honesty: at ~100 purchases/arm the CI is wider than the
    // margin, so the arms are NOT yet certifiably equivalent — flag 0.
    QueryDef(
      "q_tost",
      (s, d) => {
        val p = Tables.events(s, d).where(col("event_type") === "purchase")
          .select((col("user_id") % 2).as("arm"),
            round(col("value") * 100).cast("long").as("cents"))
        val w = p.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s0"),
          sum(when(col("arm") === 0,
            expr("CAST(cents AS DECIMAL(38,0)) * cents"))).as("ss0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("s1"),
          sum(when(col("arm") === 1,
            expr("CAST(cents AS DECIMAL(38,0)) * cents"))).as("ss1"))
        w.select(col("n0"), col("n1"),
            expr("CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0").as("diff"),
            expr("(CAST(s0 AS DOUBLE) + s1)/(n0 + n1) * 0.10").as("margin"),
            expr("""sqrt(((CAST(ss0 AS DOUBLE) - CAST(CAST(s0 AS DECIMAL(38,0))*s0 AS DOUBLE)/n0)
                   |  + (CAST(ss1 AS DOUBLE) - CAST(CAST(s1 AS DECIMAL(38,0))*s1 AS DOUBLE)/n1))
                   |  / (n0 + n1 - 2) * (1.0/n0 + 1.0/n1))""".stripMargin).as("se"))
          .select(col("n0"), col("n1"),
            expr("CAST(round(100*diff) AS BIGINT)").as("diff_centi"),
            expr("CAST(round(100*margin) AS BIGINT)").as("margin_centi"),
            expr("CAST(round(1000000*(diff + margin)/se) AS BIGINT)").as("t_lower_micro"),
            expr("CAST(round(1000000*(diff - margin)/se) AS BIGINT)").as("t_upper_micro"),
            expr("""CAST(CASE WHEN (diff + margin)/se > 1.6449
                   |  AND (diff - margin)/se < -1.6449
                   |  THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("equivalent_flag"))
      },
      Some("""WITH p AS (SELECT user_id % 2 AS arm,
             |      CAST(round(value*100) AS BIGINT) AS cents
             |    FROM events WHERE event_type = 'purchase'),
             |w AS (SELECT
             |    sum(CASE WHEN arm=0 THEN 1 ELSE 0 END) AS n0,
             |    sum(CASE WHEN arm=0 THEN cents ELSE 0 END) AS s0,
             |    sum(CASE WHEN arm=0 THEN CAST(cents AS HUGEINT)*cents END) AS ss0,
             |    sum(CASE WHEN arm=1 THEN 1 ELSE 0 END) AS n1,
             |    sum(CASE WHEN arm=1 THEN cents ELSE 0 END) AS s1,
             |    sum(CASE WHEN arm=1 THEN CAST(cents AS HUGEINT)*cents END) AS ss1
             |  FROM p),
             |st AS (SELECT n0, n1,
             |    CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0 AS diff,
             |    (CAST(s0 AS DOUBLE) + s1)/(n0 + n1) * 0.10 AS margin,
             |    sqrt(((CAST(ss0 AS DOUBLE) - CAST(CAST(s0 AS HUGEINT)*s0 AS DOUBLE)/n0)
             |      + (CAST(ss1 AS DOUBLE) - CAST(CAST(s1 AS HUGEINT)*s1 AS DOUBLE)/n1))
             |      / (n0 + n1 - 2) * (1.0/n0 + 1.0/n1)) AS se
             |  FROM w)
             |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
             |  CAST(round(100*diff) AS BIGINT) AS diff_centi,
             |  CAST(round(100*margin) AS BIGINT) AS margin_centi,
             |  CAST(round(1000000*(diff + margin)/se) AS BIGINT) AS t_lower_micro,
             |  CAST(round(1000000*(diff - margin)/se) AS BIGINT) AS t_upper_micro,
             |  CAST(CASE WHEN (diff + margin)/se > 1.6449
             |    AND (diff - margin)/se < -1.6449
             |    THEN 1 ELSE 0 END AS BIGINT) AS equivalent_flag
             |FROM st""".stripMargin)),


    // Chapman capture–recapture — estimate the size of the purchasing
    // population from two single-day sighting occasions (Jan 3 / Jan 10):
    // N̂ = (n1+1)(n2+1)/(m+1) − 1 with its Seber standard error, the
    // wildlife-census estimator that audits "how many buyers exist that we
    // have NOT yet seen" — a question no distinct-count can answer. ONE
    // per-user conditional-max pass then a 1-row margin; estimator integer
    // div is exact (Chapman is integer-valued by construction here).
    // Occasions are single days because the fixture's users are hyperactive
    // (weekly occasions capture everyone — the degenerate case, documented);
    // at sf0.01 the estimate lands 164 vs the true 150.
    QueryDef(
      "q_capture_recapture",
      (s, d) => {
        val u = Tables.events(s, d).groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
              to_date(col("ts")) === lit("2024-01-03").cast("date"), 1L)
            .otherwise(0L)).as("c1"),
            max(when(col("event_type") === "purchase" &&
                to_date(col("ts")) === lit("2024-01-10").cast("date"), 1L)
              .otherwise(0L)).as("c2"))
        u.agg(sum("c1").as("n1"), sum("c2").as("n2"),
            sum(expr("c1*c2")).as("m"), count(lit(1)).as("total"))
          .select(col("n1").as("day1_buyers"), col("n2").as("day2_buyers"),
            col("m").as("recaptured"), col("total").as("observed_users"),
            expr("(n1+1)*(n2+1) div (m+1) - 1").as("chapman_estimate"),
            expr("""CAST(round(sqrt(CAST((n1+1)*(n2+1) AS DOUBLE)*(n1-m)*(n2-m)
                   | / ((m+1)*(m+1)*(m+2)))) AS BIGINT)""".stripMargin).as("se_est"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    max(CASE WHEN event_type='purchase'
             |        AND CAST(ts AS DATE) = DATE '2024-01-03' THEN 1 ELSE 0 END) AS c1,
             |    max(CASE WHEN event_type='purchase'
             |        AND CAST(ts AS DATE) = DATE '2024-01-10' THEN 1 ELSE 0 END) AS c2
             |  FROM events GROUP BY 1),
             |s AS (SELECT sum(c1) AS n1, sum(c2) AS n2, sum(c1*c2) AS m,
             |      count(*) AS total FROM u)
             |SELECT CAST(n1 AS BIGINT) AS day1_buyers, CAST(n2 AS BIGINT) AS day2_buyers,
             |  CAST(m AS BIGINT) AS recaptured, CAST(total AS BIGINT) AS observed_users,
             |  CAST((n1+1)*(n2+1) // (m+1) - 1 AS BIGINT) AS chapman_estimate,
             |  CAST(round(sqrt(CAST((n1+1)*(n2+1) AS DOUBLE)*(n1-m)*(n2-m)
             |    / ((m+1)*(m+1)*(m+2)))) AS BIGINT) AS se_est
             |FROM s""".stripMargin)),


    // funnel with Wilson 95 % intervals — q_funnel reports the step rates;
    // this adds the score-interval error bars that survive small
    // denominators (Wilson, closed form — never the Wald interval that
    // collapses at p near 0/1). Unit = (user, day) — the fixture's
    // hyperactive users make USER-level funnels all-1.0 (documented
    // degeneracy); at day grain the steps land ~38/35/36 % with honest
    // widening intervals down-funnel. ONE conditional-max pass, a 3-row
    // literal unroll, all doubles rounded once.
    QueryDef(
      "q_funnel_ci",
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("s1"),
            max(when(col("event_type") === "click", 1L).otherwise(0L)).as("s2"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s3"))
        val f = u.agg(count(lit(1)).as("n0"), sum("s1").as("n1"),
          sum(expr("s1*s2")).as("n2"), sum(expr("s1*s2*s3")).as("n3"))
        def step(k: Int, name: String, denom: String, num: String) =
          f.select(lit(k.toLong).as("step"), lit(name).as("name"),
            col(denom).as("denom"), col(num).as("num"))
        val wil = step(1, "view", "n0", "n1")
          .unionByName(step(2, "click|view", "n1", "n2"))
          .unionByName(step(3, "purchase|click", "n2", "n3"))
          .select(col("step"), col("name"), col("denom"), col("num"),
            expr("CAST(num AS DOUBLE)/denom").as("p"), lit(1.959964).as("z"))
        wil.select(col("step"), col("name"), col("denom"), col("num"),
            expr("CAST(round(1000000.0*p) AS BIGINT)").as("rate_micro"),
            expr("""CAST(round(1000000.0*((p + z*z/(2*denom)
                   | - z*sqrt((p*(1-p) + z*z/(4*denom))/denom)) / (1 + z*z/denom)))
                   | AS BIGINT)""".stripMargin).as("lo_micro"),
            expr("""CAST(round(1000000.0*((p + z*z/(2*denom)
                   | + z*sqrt((p*(1-p) + z*z/(4*denom))/denom)) / (1 + z*z/denom)))
                   | AS BIGINT)""".stripMargin).as("hi_micro"))
          .orderBy("step")
      },
      Some("""WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |    max(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS s1,
             |    max(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS s2,
             |    max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS s3
             |  FROM events GROUP BY 1, 2),
             |f AS (SELECT count(*) AS n0, sum(s1) AS n1, sum(s1*s2) AS n2,
             |      sum(s1*s2*s3) AS n3 FROM u),
             |steps AS (
             |  SELECT 1 AS step, 'view' AS name, n0 AS denom, n1 AS num FROM f
             |  UNION ALL SELECT 2, 'click|view', n1, n2 FROM f
             |  UNION ALL SELECT 3, 'purchase|click', n2, n3 FROM f),
             |wil AS (SELECT step, name, denom, num,
             |    CAST(num AS DOUBLE)/denom AS p, 1.959964 AS z FROM steps)
             |SELECT CAST(step AS BIGINT) AS step, name, CAST(denom AS BIGINT) AS denom,
             |  CAST(num AS BIGINT) AS num,
             |  CAST(round(1000000.0*p) AS BIGINT) AS rate_micro,
             |  CAST(round(1000000.0*((p + z*z/(2*denom)
             |    - z*sqrt((p*(1-p) + z*z/(4*denom))/denom)) / (1 + z*z/denom)))
             |    AS BIGINT) AS lo_micro,
             |  CAST(round(1000000.0*((p + z*z/(2*denom)
             |    + z*sqrt((p*(1-p) + z*z/(4*denom))/denom)) / (1 + z*z/denom)))
             |    AS BIGINT) AS hi_micro
             |FROM wil ORDER BY step""".stripMargin)),


    // minimum-detectable-effect planning curve — for 7/14/21/28-day
    // runtimes at the observed purchase traffic: n per arm, the absolute
    // MDE in cents and relative to the mean, at 80 % power / 5 % two-sided
    // (z's as fixed literals — no inverse-normal crosses the engine
    // boundary). The planning table q_power_analysis's single answer
    // expands into; one moment pass, a 4-row broadcast grid.
    QueryDef(
      "q_mde_curve",
      (s, d) => {
        val p = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(round(col("value") * 100).cast("long").as("cents"),
            to_date(col("ts")).as("day"))
        val base = p.agg(count(lit(1)).as("n"), countDistinct("day").as("days"),
            sum("cents").as("sc"),
            sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("ss"))
          .select(expr("CAST(n AS DOUBLE)/days").as("daily"),
            expr("(CAST(ss AS DOUBLE) - CAST(sc AS DOUBLE)*sc/n)/(n-1)").as("s2"),
            expr("sc/CAST(n AS DOUBLE)").as("mu"))
        val grid = s.range(1, 5).select((col("id") * 7).cast("long").as("k"))
        broadcast(grid).crossJoin(base)
          .select(col("k").as("days"),
            expr("CAST(round(daily*k/2) AS BIGINT)").as("n_per_arm"),
            expr("CAST(round((1.959964+0.841621)*sqrt(2*s2/(daily*k/2))) AS BIGINT)")
              .as("mde_cents"),
            expr("""CAST(round(1000000.0*(1.959964+0.841621)
                   | *sqrt(2*s2/(daily*k/2))/mu) AS BIGINT)""".stripMargin)
              .as("mde_rel_micro"))
          .orderBy("days")
      },
      Some("""WITH p AS (SELECT CAST(round(value*100) AS BIGINT) AS cents,
             |      CAST(ts AS DATE) AS day
             |    FROM events WHERE event_type='purchase'),
             |s AS (SELECT count(*) AS n, count(DISTINCT day) AS days,
             |    sum(cents) AS sc, sum(CAST(cents AS HUGEINT)*cents) AS ss FROM p),
             |base AS (SELECT CAST(n AS DOUBLE)/days AS daily,
             |    (CAST(ss AS DOUBLE) - CAST(sc AS DOUBLE)*sc/n)/(n-1) AS s2,
             |    sc/CAST(n AS DOUBLE) AS mu FROM s),
             |grid AS (SELECT unnest([7,14,21,28]) AS k)
             |SELECT CAST(k AS BIGINT) AS days,
             |  CAST(round(daily*k/2) AS BIGINT) AS n_per_arm,
             |  CAST(round((1.959964+0.841621)*sqrt(2*s2/(daily*k/2))) AS BIGINT)
             |    AS mde_cents,
             |  CAST(round(1000000.0*(1.959964+0.841621)*sqrt(2*s2/(daily*k/2))/mu)
             |    AS BIGINT) AS mde_rel_micro
             |FROM grid CROSS JOIN base ORDER BY days""".stripMargin)),


    // nested variance decomposition — how much of order-value variance
    // lives BETWEEN regions, between nations WITHIN regions, and within
    // nations: the hierarchy-profiling ANOVA that says which grouping is
    // worth segmenting on. Per-group (s, n) are exact integers; the total
    // SS reports from the exact 128-bit numerator n·Σx² − (Σx)² (a raw
    // double sum at ~1e17 would round differently per engine); the three
    // shares are doubles on exact inputs, each rounded once, and sum to
    // 1e6 within rounding (law pinned in AnalyticsInvariantSpec).
    QueryDef(
      "q_variance_decomp",
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_regionkey").as("rk"), col("n_nationkey").as("nk"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val g = o.agg(count(lit(1)).as("n"), sum("cents").as("s"),
          sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("ss"))
        val nn = o.groupBy("rk", "nk").agg(count(lit(1)).as("gn"), sum("cents").as("gs"))
        val rr = nn.groupBy("rk").agg(sum("gn").as("gn"), sum("gs").as("gs"))
        val betn = nn.agg(sum(expr("CAST(gs AS DOUBLE)*gs/gn")).as("gmn"))
        val betr = rr.agg(sum(expr("CAST(gs AS DOUBLE)*gs/gn")).as("gmr"))
        g.crossJoin(betn).crossJoin(betr)
          .select(
            expr("""CAST(round(CAST(CAST(n AS DECIMAL(38,0))*ss - CAST(s AS DECIMAL(38,0))*s AS DOUBLE)
                   | / n / 1000000.0) AS BIGINT)""".stripMargin).as("ss_total_mega"),
            expr("CAST(s AS DOUBLE)*s/n").as("cf"),
            expr("CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*s/n").as("sst"),
            col("gmn"), col("gmr"))
          .select(col("ss_total_mega"),
            expr("CAST(round(1000000.0*(gmr - cf)/sst) AS BIGINT)")
              .as("region_share_micro"),
            expr("CAST(round(1000000.0*(gmn - gmr)/sst) AS BIGINT)")
              .as("nation_share_micro"),
            expr("CAST(round(1000000.0*(sst - (gmn - cf))/sst) AS BIGINT)")
              .as("residual_share_micro"))
      },
      Some("""WITH o AS (SELECT n.n_regionkey AS rk, n.n_nationkey AS nk,
             |      CAST(round(o_totalprice*100) AS BIGINT) AS cents
             |    FROM orders JOIN customer c ON c.c_custkey = o_custkey
             |    JOIN nation n ON n.n_nationkey = c.c_nationkey),
             |g AS (SELECT count(*) AS n, sum(cents) AS s,
             |      sum(CAST(cents AS HUGEINT)*cents) AS ss FROM o),
             |nn AS (SELECT rk, nk, count(*) AS gn, sum(cents) AS gs FROM o GROUP BY 1, 2),
             |rr AS (SELECT rk, sum(gn) AS gn, sum(gs) AS gs FROM nn GROUP BY 1),
             |betn AS (SELECT sum(CAST(gs AS DOUBLE)*gs/gn) AS gmn FROM nn),
             |betr AS (SELECT sum(CAST(gs AS DOUBLE)*gs/gn) AS gmr FROM rr),
             |fin AS (SELECT
             |    CAST(round(CAST(CAST(g.n AS HUGEINT)*g.ss - CAST(g.s AS HUGEINT)*g.s AS DOUBLE)
             |      / g.n / 1000000.0) AS BIGINT) AS ss_total_mega,
             |    CAST(g.s AS DOUBLE)*g.s/g.n AS cf,
             |    CAST(g.ss AS DOUBLE) - CAST(g.s AS DOUBLE)*g.s/g.n AS sst,
             |    betn.gmn, betr.gmr
             |  FROM g CROSS JOIN betn CROSS JOIN betr)
             |SELECT ss_total_mega,
             |  CAST(round(1000000.0*(gmr - cf)/sst) AS BIGINT) AS region_share_micro,
             |  CAST(round(1000000.0*(gmn - gmr)/sst) AS BIGINT) AS nation_share_micro,
             |  CAST(round(1000000.0*(sst - (gmn - cf))/sst) AS BIGINT)
             |    AS residual_share_micro
             |FROM fin""".stripMargin)),


    // Kruskal-Wallis k-sample rank test — does line quantity differ by
    // return flag? The k-group generalization of q_mannwhitney, same
    // midrank machinery: ranks live on the ≤50-value quantity domain
    // (one grouped count, then a bounded-domain cumulative), group rank
    // sums stay exact via doubled midranks (2·cum − cnt + 1, all
    // integers), and the tie-corrected H meets the closed-form df=2
    // chi-square survival e^(−H/2). Null expected on TPC-H (quantity ⊥
    // returnflag) — the honest baseline.
    QueryDef(
      "q_kruskal_wallis",
      (s, d) => {
        val e = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("v"))
        val byv = e.groupBy("v").agg(count(lit(1)).as("cnt"))
        val rk = byv
          .withColumn("cum", sum("cnt").over(Window.orderBy("v")))
          .select(col("v"),
            expr("CAST(2*cum - cnt + 1 AS DECIMAL(38,0))").as("r2"))
        val gr = e.groupBy("g", "v").agg(count(lit(1)).as("c"))
          .join(broadcast(rk), "v")
          .groupBy("g")
          .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * r2")).as("r2sum"),
            sum("c").as("nj"))
        val n = gr.agg(sum("nj").as("n"))
        val tie = byv.agg(
          sum(expr("CAST(cnt AS DECIMAL(38,0))*cnt*cnt - cnt")).as("t3"))
        gr.crossJoin(n).crossJoin(tie)
          .groupBy()
          .agg(max("n").as("n"), count(lit(1)).as("k"),
            expr("""(3.0/(CAST(max(n) AS DOUBLE)*(max(n)+1)))
                   | * sum(CAST(r2sum AS DOUBLE)*CAST(r2sum AS DOUBLE)/nj)
                   | - 3.0*(max(n)+1)""".stripMargin).as("h0"),
            expr("""1.0 - CAST(max(t3) AS DOUBLE)
                   | / (CAST(max(n) AS DOUBLE)*max(n)*max(n) - max(n))""".stripMargin)
              .as("corr"))
          .select(col("n").cast("long").as("n"), col("k").as("k_groups"),
            expr("CAST(round(1000.0*h0/corr) AS BIGINT)").as("h_milli"),
            expr("CAST(round(1000000.0*exp(-h0/corr/2)) AS BIGINT)").as("p_micro"),
            expr("CAST(CASE WHEN exp(-h0/corr/2) < 0.05 THEN 1 ELSE 0 END AS BIGINT)")
              .as("reject_equal"))
      },
      Some("""WITH e AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
             |      FROM lineitem),
             |byv AS (SELECT v, count(*) AS cnt FROM e GROUP BY 1),
             |r AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM byv),
             |rk AS (SELECT v, CAST(2*cum - cnt + 1 AS HUGEINT) AS r2 FROM r),
             |gv AS (SELECT g, v, count(*) AS c FROM e GROUP BY 1, 2),
             |gr AS (SELECT g, sum(CAST(c AS HUGEINT) * rk.r2) AS r2sum, sum(c) AS nj
             |       FROM gv JOIN rk USING (v) GROUP BY 1),
             |n AS (SELECT sum(nj) AS n FROM gr),
             |tie AS (SELECT sum(CAST(cnt AS HUGEINT)*cnt*cnt - cnt) AS t3 FROM byv),
             |h AS (SELECT max(n.n) AS n, count(*) AS k,
             |    (3.0/(CAST(max(n.n) AS DOUBLE)*(max(n.n)+1)))
             |      * sum(CAST(r2sum AS DOUBLE)*CAST(r2sum AS DOUBLE)/nj)
             |      - 3.0*(max(n.n)+1) AS h0,
             |    1.0 - CAST(max(tie.t3) AS DOUBLE)
             |      / (CAST(max(n.n) AS DOUBLE)*max(n.n)*max(n.n) - max(n.n)) AS corr
             |  FROM gr CROSS JOIN n CROSS JOIN tie)
             |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
             |  CAST(round(1000.0*h0/corr) AS BIGINT) AS h_milli,
             |  CAST(round(1000000.0*exp(-h0/corr/2)) AS BIGINT) AS p_micro,
             |  CAST(CASE WHEN exp(-h0/corr/2) < 0.05 THEN 1 ELSE 0 END AS BIGINT)
             |    AS reject_equal
             |FROM h""".stripMargin)),


    // Friedman test — do the five event types keep the same volume
    // ordering day after day? Blocks = days, treatments = the pinned
    // 5-type list (df = 4, even → closed-form p), midranks within each
    // day via the doubled-rank integers (2·RANK + ties − 1), zero-filled
    // grid so absent (day, type) cells rank honestly, and Conover's
    // tie-general statistic (k−1)·Σ(R_j − n(k+1)/2)²/(A − C) computed
    // exactly until the one final division. Every window partitions by
    // day; the grid is calendar × 5.
    QueryDef(
      "q_friedman",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val dd = Tables.events(s, d)
          .where(col("event_type").isin(types: _*))
          .groupBy(to_date(col("ts")).as("day"), col("event_type").as("ty"))
          .agg(count(lit(1)).as("c"))
        val grid = dd.select("day").distinct()
          .crossJoin(
            dd.sparkSession.createDataFrame(types.map(Tuple1(_))).toDF("ty"))
          .join(dd, Seq("day", "ty"), "left")
          .na.fill(0L, Seq("c"))
        val rk2 = grid
          .withColumn("rk0", rank().over(Window.partitionBy("day").orderBy("c")))
          .withColumn("teq", count(lit(1)).over(Window.partitionBy("day", "c")))
          .select(col("day"), col("ty"),
            expr("CAST(2*rk0 + teq - 1 AS DECIMAL(38,0))").as("r2"))
        val rj = rk2.groupBy("ty").agg(sum("r2").as("r2j"))
        val nn = rk2.select("day").distinct().agg(count(lit(1)).as("n"))
        val aa = rk2.agg(sum(expr("r2*r2")).as("a4"))
        rj.crossJoin(nn).crossJoin(aa)
          .groupBy()
          .agg(max("n").as("n"), count(lit(1)).as("k"),
            sum(expr("""CAST(r2j - CAST(n AS DECIMAL(38,0))*6 AS DOUBLE)
                       | * CAST(r2j - CAST(n AS DECIMAL(38,0))*6 AS DOUBLE)"""
              .stripMargin)).as("num"),
            max("a4").as("a4"))
          .select(col("n").cast("long").as("n_days"), col("k").as("k_types"),
            expr("""CAST(round(1000.0 * (k-1)*num
                   | / (CAST(a4 AS DOUBLE) - CAST(n AS DOUBLE)*k*(k+1)*(k+1)))
                   | AS BIGINT)""".stripMargin).as("chi2_milli"),
            expr("""CAST(round(1000000.0 * exp(-((k-1)*num
                   | / (CAST(a4 AS DOUBLE) - CAST(n AS DOUBLE)*k*(k+1)*(k+1)))/2)
                   | * (1 + ((k-1)*num
                   | / (CAST(a4 AS DOUBLE) - CAST(n AS DOUBLE)*k*(k+1)*(k+1)))/2))
                   | AS BIGINT)""".stripMargin).as("p_micro"),
            expr("""CAST(CASE WHEN exp(-((k-1)*num
                   | / (CAST(a4 AS DOUBLE) - CAST(n AS DOUBLE)*k*(k+1)*(k+1)))/2)
                   | * (1 + ((k-1)*num
                   | / (CAST(a4 AS DOUBLE) - CAST(n AS DOUBLE)*k*(k+1)*(k+1)))/2) < 0.05
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_equal"))
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type AS ty, count(*) AS c
             |      FROM events
             |      WHERE event_type IN ('click','error','purchase','signup','view')
             |      GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day FROM d),
             |tys AS (SELECT unnest(['click','error','purchase','signup','view']) AS ty),
             |grid AS (SELECT days.day, tys.ty, coalesce(d.c, 0) AS c
             |         FROM days CROSS JOIN tys
             |         LEFT JOIN d ON d.day = days.day AND d.ty = tys.ty),
             |rk AS (SELECT day, ty, c,
             |        CAST(2*rank() OVER (PARTITION BY day ORDER BY c)
             |          + count(*) OVER (PARTITION BY day, c) - 1 AS HUGEINT) AS r2
             |       FROM grid),
             |rj AS (SELECT ty, sum(r2) AS r2j FROM rk GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM days),
             |aa AS (SELECT sum(r2*r2) AS a4 FROM rk),
             |st AS (SELECT count(*) AS k,
             |    sum(CAST(r2j - (SELECT n FROM nn)*6 AS DOUBLE)
             |      * CAST(r2j - (SELECT n FROM nn)*6 AS DOUBLE)) AS num
             |  FROM rj),
             |f AS (SELECT (SELECT n FROM nn) AS n, k,
             |    (k-1)*num / (CAST((SELECT a4 FROM aa) AS DOUBLE)
             |      - CAST((SELECT n FROM nn) AS DOUBLE)*k*(k+1)*(k+1)) AS chi2
             |  FROM st)
             |SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS k_types,
             |  CAST(round(1000.0*chi2) AS BIGINT) AS chi2_milli,
             |  CAST(round(1000000.0 * exp(-chi2/2)*(1 + chi2/2)) AS BIGINT) AS p_micro,
             |  CAST(CASE WHEN exp(-chi2/2)*(1 + chi2/2) < 0.05 THEN 1 ELSE 0 END AS BIGINT)
             |    AS reject_equal
             |FROM f""".stripMargin)),


    // paired sign test — within each week, is weekend daily-average
    // revenue above the weekday average? Per-week comparison by exact
    // integer cross-multiplication (s_we·n_wd vs s_wd·n_we — no division
    // ever), then the binomial normal approximation z = (2S − m)/√m over
    // the calendar-bounded week count. The distribution-free sibling of
    // q_welch_ttest for paired designs; ties (equal averages) drop, the
    // standard treatment.
    QueryDef(
      "q_sign_test",
      (s, d) => {
        val day = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
        val wk = day.select(date_trunc("week", col("dt")).as("w"),
          when(dayofweek(col("dt")).isin(1, 7), 1L).otherwise(0L).as("we"),
          col("rev"))
        val agg = wk.groupBy("w")
          .agg(sum(when(col("we") === 1, col("rev")).otherwise(0L)).as("swe"),
            sum(col("we")).as("nwe"),
            sum(when(col("we") === 0, col("rev")).otherwise(0L)).as("swd"),
            sum(lit(1L) - col("we")).as("nwd"))
          .where(col("nwe") > 0 && col("nwd") > 0)
        val sg = agg.select(
          expr("""CASE WHEN CAST(swe AS DECIMAL(38,0))*nwd > CAST(swd AS DECIMAL(38,0))*nwe THEN 1
                 | WHEN CAST(swe AS DECIMAL(38,0))*nwd < CAST(swd AS DECIMAL(38,0))*nwe THEN -1
                 | ELSE 0 END""".stripMargin).as("sg"))
        sg.agg(sum(when(col("sg") =!= 0, 1L).otherwise(0L)).as("m"),
            sum(when(col("sg") === 1, 1L).otherwise(0L)).as("pos"))
          .select(col("m").as("n_weeks"), col("pos").as("weekend_higher"),
            expr("""CAST(round(1000.0*(2.0*pos - m)/sqrt(CAST(m AS DOUBLE)))
                   | AS BIGINT)""".stripMargin).as("z_milli"),
            expr("""CAST(CASE WHEN abs((2.0*pos - m)/sqrt(CAST(m AS DOUBLE))) > 1.96
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
              .as("reject_symmetry"))
      },
      Some("""WITH day AS (SELECT o_orderdate AS dt,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev
             |    FROM orders GROUP BY 1),
             |wk AS (SELECT date_trunc('week', dt) AS w,
             |        CASE WHEN dayofweek(dt) IN (0, 6) THEN 1 ELSE 0 END AS we, rev
             |       FROM day),
             |agg AS (SELECT w,
             |        sum(CASE WHEN we = 1 THEN rev ELSE 0 END) AS swe,
             |        sum(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS nwe,
             |        sum(CASE WHEN we = 0 THEN rev ELSE 0 END) AS swd,
             |        sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS nwd
             |      FROM wk GROUP BY 1
             |      HAVING sum(CASE WHEN we = 1 THEN 1 ELSE 0 END) > 0
             |         AND sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) > 0),
             |sg AS (SELECT CASE
             |         WHEN CAST(swe AS HUGEINT)*nwd > CAST(swd AS HUGEINT)*nwe THEN 1
             |         WHEN CAST(swe AS HUGEINT)*nwd < CAST(swd AS HUGEINT)*nwe THEN -1
             |         ELSE 0 END AS s FROM agg),
             |f AS (SELECT count(*) FILTER (s <> 0) AS m,
             |        count(*) FILTER (s = 1) AS pos FROM sg)
             |SELECT CAST(m AS BIGINT) AS n_weeks, CAST(pos AS BIGINT) AS weekend_higher,
             |  CAST(round(1000.0*(2.0*pos - m)/sqrt(CAST(m AS DOUBLE))) AS BIGINT)
             |    AS z_milli,
             |  CAST(CASE WHEN abs((2.0*pos - m)/sqrt(CAST(m AS DOUBLE))) > 1.96
             |    THEN 1 ELSE 0 END AS BIGINT) AS reject_symmetry
             |FROM f""".stripMargin)),


    // Cochran-Mantel-Haenszel stratified test — q_simpson_check detects
    // the aggregation reversal; CMH is the FIX: test the exposure→
    // outcome association (late-half order date → high priority) WITHIN
    // each nation stratum and pool. Per-stratum (a, E, V) are exact
    // rationals of integer margins, the pooled χ² (df = 1, no continuity
    // correction) is judged against the literal 3.841 critical value.
    // One grouped pass over the fact join; the stratum table is
    // ≤ |nations|. Honest null on TPC-H: priority ⊥ time.
    QueryDef(
      "q_cmh_test",
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("g"),
            when(col("o_orderdate") >= lit("1998-06-01"), 1L).otherwise(0L).as("e"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("y"))
        val st = o.groupBy("g")
          .agg(count(lit(1)).as("n"), sum("e").as("n1"),
            sum(lit(1L) - col("e")).as("n0"), sum("y").as("m1"),
            sum(lit(1L) - col("y")).as("m0"),
            sum(col("e") * col("y")).as("a"))
          .where(col("n") >= 2 && col("n1") > 0 && col("n0") > 0)
        st.agg(count(lit(1)).as("k"),
            sum(expr("CAST(a AS DOUBLE)")).as("sa"),
            sum(expr("CAST(n1 AS DOUBLE)*m1/n")).as("se"),
            sum(expr("CAST(n1 AS DOUBLE)*n0*m1*m0/(CAST(n AS DOUBLE)*n*(n-1))"))
              .as("sv"))
          .select(col("k").as("n_strata"),
            expr("CAST(round(1000.0*(sa - se)) AS BIGINT)").as("excess_milli"),
            expr("CAST(round(1000.0*(sa - se)*(sa - se)/sv) AS BIGINT)")
              .as("cmh_chi2_milli"),
            expr("""CAST(CASE WHEN (sa - se)*(sa - se)/sv > 3.841
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_indep"))
      },
      Some("""WITH o AS (SELECT c_nationkey AS g,
             |      CASE WHEN o_orderdate >= DATE '1998-06-01' THEN 1 ELSE 0 END AS e,
             |      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
             |    FROM orders JOIN customer ON c_custkey = o_custkey),
             |st AS (SELECT g, count(*) AS n,
             |        sum(e) AS n1, sum(1 - e) AS n0,
             |        sum(y) AS m1, sum(1 - y) AS m0,
             |        sum(e * y) AS a
             |      FROM o GROUP BY 1
             |      HAVING count(*) >= 2 AND sum(e) > 0 AND sum(1-e) > 0),
             |acc AS (SELECT count(*) AS k,
             |    sum(CAST(a AS DOUBLE)) AS sa,
             |    sum(CAST(n1 AS DOUBLE)*m1/n) AS se,
             |    sum(CAST(n1 AS DOUBLE)*n0*m1*m0/(CAST(n AS DOUBLE)*n*(n-1))) AS sv
             |  FROM st)
             |SELECT CAST(k AS BIGINT) AS n_strata,
             |  CAST(round(1000.0*(sa - se)) AS BIGINT) AS excess_milli,
             |  CAST(round(1000.0*(sa - se)*(sa - se)/sv) AS BIGINT) AS cmh_chi2_milli,
             |  CAST(CASE WHEN (sa - se)*(sa - se)/sv > 3.841 THEN 1 ELSE 0 END AS BIGINT)
             |    AS reject_indep
             |FROM acc""".stripMargin)),


    // O'Brien-Fleming group-sequential monitor — the classical
    // fixed-schedule complement to q_msprt's always-valid inference:
    // four calendar looks at the md5-arm experiment, cumulative
    // two-proportion z per look, spending boundary c/√k with the
    // literal c = 4.333 (K = 4, α ≈ 0.05 two-sided). Early looks
    // demand near-miraculous evidence, the final look pays almost
    // full α — the reason real launch reviews use OBF. One grouped
    // pass per look over the bounded look×arm table.
    QueryDef(
      "q_obrien_fleming",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderdate").as("dt"),
            (conv(substring(md5(concat(lit("ab:"),
              col("o_orderkey").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 2).as("arm"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("y"))
        val lk = s.createDataFrame(Seq(
          (1L, "1996-09-01"), (2L, "1998-03-01"),
          (3L, "1999-09-01"), (4L, "2001-08-02")))
          .toDF("look", "cutoff")
          .select(col("look"), col("cutoff").cast("date").as("cutoff"))
        val cum = o.join(lk, col("dt") < col("cutoff"))
          .groupBy("look")
          .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("c0"),
            sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("c1"))
        cum.select(col("look"), col("n0"), col("n1"),
            expr("""(CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0)
                   | / sqrt((CAST(c0 + c1 AS DOUBLE)/(n0 + n1))
                   |   * (1 - CAST(c0 + c1 AS DOUBLE)/(n0 + n1))
                   |   * (1.0/n0 + 1.0/n1))""".stripMargin).as("zz"))
          .select(col("look"), col("n0").as("n_control"), col("n1").as("n_treat"),
            expr("CAST(round(1000.0*zz) AS BIGINT)").as("z_milli"),
            expr("CAST(round(1000.0*4.333/sqrt(CAST(look AS DOUBLE))) AS BIGINT)")
              .as("boundary_milli"),
            expr("""CAST(CASE WHEN abs(zz) > 4.333/sqrt(CAST(look AS DOUBLE))
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("crossed"))
          .orderBy("look")
      },
      Some("""WITH o AS (SELECT o_orderkey AS k, o_orderdate AS dt,
             |      CAST(('0x' || substr(md5('ab:' || o_orderkey), 1, 12)) AS BIGINT) % 2
             |        AS arm,
             |      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
             |    FROM orders),
             |lk AS (SELECT * FROM (VALUES (1, DATE '1996-09-01'), (2, DATE '1998-03-01'),
             |        (3, DATE '1999-09-01'), (4, DATE '2001-08-02')) t(look, cutoff)),
             |cum AS (SELECT lk.look,
             |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS c0,
             |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS c1
             |  FROM o JOIN lk ON o.dt < lk.cutoff GROUP BY 1),
             |z AS (SELECT look, n0, n1,
             |    (CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0)
             |      / sqrt((CAST(c0 + c1 AS DOUBLE)/(n0 + n1))
             |        * (1 - CAST(c0 + c1 AS DOUBLE)/(n0 + n1)) * (1.0/n0 + 1.0/n1)) AS zz
             |  FROM cum)
             |SELECT CAST(look AS BIGINT) AS look, CAST(n0 AS BIGINT) AS n_control,
             |  CAST(n1 AS BIGINT) AS n_treat,
             |  CAST(round(1000.0*zz) AS BIGINT) AS z_milli,
             |  CAST(round(1000.0*4.333/sqrt(CAST(look AS DOUBLE))) AS BIGINT)
             |    AS boundary_milli,
             |  CAST(CASE WHEN abs(zz) > 4.333/sqrt(CAST(look AS DOUBLE)) THEN 1 ELSE 0 END
             |    AS BIGINT) AS crossed
             |FROM z ORDER BY look""".stripMargin)),


    // Holm-Bonferroni step-down — the FWER companion to q_fdr_bh's FDR
    // step-up, on an independent screen (event type vs day-of-week
    // tercile, df = 2 closed-form survival): reject the sorted p-values
    // while p₍ᵣ₎ ≤ α/(m−r+1) and STOP at the first failure. Same
    // bounded |types|-row window machinery; the two procedures together
    // are the multiple-testing toolkit a metrics platform actually
    // ships. Honest null on the fixture: type ⊥ weekday.
    QueryDef(
      "q_holm_bonferroni",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"),
            when(dayofweek(col("ts")) <= 2, 0)
              .when(dayofweek(col("ts")) <= 5, 1).otherwise(2).as("per"))
        val o = e.groupBy("event_type", "per").agg(count(lit(1)).as("o"))
        val tm = o.groupBy("per").agg(sum("o").as("np"))
        val ty = o.groupBy("event_type").agg(sum("o").as("nt"))
        val n = o.agg(sum("o").as("n"))
        val cells = ty.crossJoin(broadcast(tm)).crossJoin(n)
          .join(o, Seq("event_type", "per"), "left")
          .select(col("event_type"),
            coalesce(col("o"), lit(0L)).as("obs"),
            expr("CAST(nt AS DOUBLE) * np / n").as("exp_in"),
            expr("CAST(n - nt AS DOUBLE) * np / n").as("exp_out"),
            (col("np") - coalesce(col("o"), lit(0L))).as("obs_out"))
        val chi = cells.groupBy("event_type")
          .agg(expr("""CAST(round(1000000.0 * sum((obs-exp_in)*(obs-exp_in)/exp_in
                      |  + (obs_out-exp_out)*(obs_out-exp_out)/exp_out)) AS BIGINT)"""
            .stripMargin).as("chisq_micro"))
        val p = chi.select(col("event_type"), col("chisq_micro"),
          expr("CAST(round(1000000.0 * exp(-CAST(chisq_micro AS DOUBLE)/2000000.0)) AS BIGINT)")
            .as("p_micro"))
        // bounded |types|-row windows (q_fdr_bh convention, whitelisted)
        val wAll = Window.partitionBy()
        p.withColumn("r", row_number().over(
            Window.orderBy(col("p_micro"), col("event_type"))))
          .withColumn("m", count(lit(1)).over(wAll))
          .withColumn("kfail",
            min(when(col("p_micro") * (col("m") - col("r") + 1) > 50000, col("r")))
              .over(wAll))
          .select(col("event_type"), col("chisq_micro"), col("p_micro"),
            col("r").cast("long").as("rk"),
            expr("CAST(50000 div (m - r + 1) AS BIGINT)").as("thr_micro"),
            expr("""CAST(CASE WHEN kfail IS NULL OR r < kfail
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject"))
          .orderBy("rk")
      },
      Some("""WITH e AS (SELECT event_type,
             |      CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) <= 1 THEN 0
             |           WHEN dayofweek(CAST(ts AS TIMESTAMP)) <= 4 THEN 1 ELSE 2 END AS per
             |    FROM events),
             |o AS (SELECT event_type, per, count(*) AS o FROM e GROUP BY 1,2),
             |tm AS (SELECT per, sum(o) AS np FROM o GROUP BY 1),
             |ty AS (SELECT event_type, sum(o) AS nt FROM o GROUP BY 1),
             |n AS (SELECT sum(o) AS n FROM o),
             |cells AS (SELECT t.event_type,
             |    coalesce(o.o, 0) AS obs,
             |    CAST(t.nt AS DOUBLE) * p.np / n.n AS exp_in,
             |    CAST(n.n - t.nt AS DOUBLE) * p.np / n.n AS exp_out,
             |    p.np - coalesce(o.o, 0) AS obs_out
             |  FROM ty t CROSS JOIN tm p CROSS JOIN n
             |  LEFT JOIN o ON o.event_type = t.event_type AND o.per = p.per),
             |chi AS (SELECT event_type,
             |    CAST(round(1000000.0 * sum((obs-exp_in)*(obs-exp_in)/exp_in
             |      + (obs_out-exp_out)*(obs_out-exp_out)/exp_out)) AS BIGINT) AS chisq_micro
             |  FROM cells GROUP BY 1),
             |p AS (SELECT event_type, chisq_micro,
             |    CAST(round(1000000.0 * exp(-CAST(chisq_micro AS DOUBLE)/2000000.0))
             |      AS BIGINT) AS p_micro FROM chi),
             |rk AS (SELECT *, row_number() OVER (ORDER BY p_micro, event_type) AS r,
             |        count(*) OVER () AS m FROM p),
             |hf AS (SELECT *,
             |        min(CASE WHEN p_micro * (m - r + 1) > 50000 THEN r ELSE NULL END)
             |          OVER () AS kfail
             |      FROM rk)
             |SELECT event_type, chisq_micro, p_micro, CAST(r AS BIGINT) AS rk,
             |  CAST(50000 // (m - r + 1) AS BIGINT) AS thr_micro,
             |  CAST(CASE WHEN kfail IS NULL OR r < kfail THEN 1 ELSE 0 END AS BIGINT)
             |    AS reject
             |FROM hf ORDER BY rk""".stripMargin)),


    // adjusted standardized residuals — q_fdr_bh and q_chisq say WHETHER
    // the type×tercile table deviates; this says WHICH CELL:
    // r = (O−E)/√(E(1−row/n)(1−col/n)), the Agresti-adjusted residual
    // that is asymptotically N(0,1) per cell, flagged at |r| > 1.96.
    // The drill-down a dashboard shows when the omnibus test fires.
    // One map-combined grouped count; everything after is margin
    // arithmetic on the |types|×3 cell table.
    QueryDef(
      "q_crosstab_residuals",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"),
            when(dayofmonth(col("ts")) <= 10, 0)
              .when(dayofmonth(col("ts")) <= 20, 1).otherwise(2).as("per"))
        val o = e.groupBy("event_type", "per").agg(count(lit(1)).as("o"))
        val tm = o.groupBy("per").agg(sum("o").as("np"))
        val ty = o.groupBy("event_type").agg(sum("o").as("nt"))
        val n = o.agg(sum("o").as("n"))
        ty.crossJoin(broadcast(tm)).crossJoin(n)
          .join(o, Seq("event_type", "per"), "left")
          .select(col("event_type"), col("per").cast("long").as("per"),
            coalesce(col("o"), lit(0L)).as("obs"),
            expr("CAST(nt AS DOUBLE) * np / n").as("exp"),
            expr("CAST(nt AS DOUBLE) / n").as("rs"),
            expr("CAST(np AS DOUBLE) / n").as("cs"))
          .select(col("event_type"), col("per"), col("obs"),
            expr("CAST(round(1000.0*exp) AS BIGINT)").as("exp_milli"),
            expr("""CAST(round(1000.0*(obs - exp)/sqrt(exp*(1 - rs)*(1 - cs)))
                   | AS BIGINT)""".stripMargin).as("std_resid_milli"),
            expr("""CAST(CASE WHEN abs((obs - exp)/sqrt(exp*(1 - rs)*(1 - cs))) > 1.96
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("flagged"))
          .orderBy("event_type", "per")
      },
      Some("""WITH e AS (SELECT event_type,
             |      CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 10 THEN 0
             |           WHEN day(CAST(ts AS TIMESTAMP)) <= 20 THEN 1 ELSE 2 END AS per
             |    FROM events),
             |o AS (SELECT event_type, per, count(*) AS o FROM e GROUP BY 1, 2),
             |tm AS (SELECT per, sum(o) AS np FROM o GROUP BY 1),
             |ty AS (SELECT event_type, sum(o) AS nt FROM o GROUP BY 1),
             |n AS (SELECT sum(o) AS n FROM o),
             |cells AS (SELECT t.event_type, p.per,
             |    coalesce(o.o, 0) AS obs,
             |    CAST(t.nt AS DOUBLE) * p.np / n.n AS exp,
             |    CAST(t.nt AS DOUBLE) / n.n AS rs,
             |    CAST(p.np AS DOUBLE) / n.n AS cs
             |  FROM ty t CROSS JOIN tm p CROSS JOIN n
             |  LEFT JOIN o ON o.event_type = t.event_type AND o.per = p.per)
             |SELECT event_type, CAST(per AS BIGINT) AS per, CAST(obs AS BIGINT) AS obs,
             |  CAST(round(1000.0*exp) AS BIGINT) AS exp_milli,
             |  CAST(round(1000.0*(obs - exp)/sqrt(exp*(1 - rs)*(1 - cs))) AS BIGINT)
             |    AS std_resid_milli,
             |  CAST(CASE WHEN abs((obs - exp)/sqrt(exp*(1 - rs)*(1 - cs))) > 1.96
             |    THEN 1 ELSE 0 END AS BIGINT) AS flagged
             |FROM cells ORDER BY event_type, per""".stripMargin)),


    // Wilson score interval (95%) for the value>250 rate per event type
    // — the binomial CI that stays inside [0,1] and behaves at k = 0
    // where the Wald interval collapses (the q_funnel_ci upgrade for
    // small-k segments). One conditional-count aggregate; both bounds
    // are single IEEE closed forms over the exact (k, n) integers with
    // z = 1.9599639845 and z² = 3.84145882069412 (= z², so the interval
    // is self-consistent) spelled as the same literals in both engines.
    QueryDef(
      "q_wilson_ci",
      (s, d) => Tables.events(s, d).where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("value") > 250, 1)).as("k"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("k").cast("long").as("k"),
          expr("""CAST(round(((CAST(k AS DOUBLE)/n + 3.84145882069412/(2*n))
                 |  / (1 + 3.84145882069412/n)
                 |  - 1.9599639845 * sqrt((CAST(k AS DOUBLE)/n)*(1 - CAST(k AS DOUBLE)/n)/n
                 |      + 3.84145882069412/(4.0*n*n)) / (1 + 3.84145882069412/n))
                 |  * 1000000) AS BIGINT)""".stripMargin).as("lo_micro"),
          expr("""CAST(round(((CAST(k AS DOUBLE)/n + 3.84145882069412/(2*n))
                 |  / (1 + 3.84145882069412/n)
                 |  + 1.9599639845 * sqrt((CAST(k AS DOUBLE)/n)*(1 - CAST(k AS DOUBLE)/n)/n
                 |      + 3.84145882069412/(4.0*n*n)) / (1 + 3.84145882069412/n))
                 |  * 1000000) AS BIGINT)""".stripMargin).as("hi_micro"))
        .orderBy("event_type"),
      Some("""WITH g AS (SELECT event_type, count(*) AS n,
             |    count(*) FILTER (WHERE value > 250) AS k
             |  FROM events WHERE value IS NOT NULL GROUP BY 1)
             |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             |  CAST(round(((CAST(k AS DOUBLE)/n + 3.84145882069412/(2*n))
             |    / (1 + 3.84145882069412/n)
             |    - 1.9599639845 * sqrt((CAST(k AS DOUBLE)/n)*(1 - CAST(k AS DOUBLE)/n)/n
             |        + 3.84145882069412/(4.0*n*n)) / (1 + 3.84145882069412/n)) * 1000000) AS BIGINT) AS lo_micro,
             |  CAST(round(((CAST(k AS DOUBLE)/n + 3.84145882069412/(2*n))
             |    / (1 + 3.84145882069412/n)
             |    + 1.9599639845 * sqrt((CAST(k AS DOUBLE)/n)*(1 - CAST(k AS DOUBLE)/n)/n
             |        + 3.84145882069412/(4.0*n*n)) / (1 + 3.84145882069412/n)) * 1000000) AS BIGINT) AS hi_micro
             |FROM g ORDER BY event_type""".stripMargin)),


    // inverse-propensity-weighted ATE of afternoon exposure (hour ≥ 12)
    // on event value, with day-of-week as the stratifying confounder —
    // the Horvitz-Thompson estimator beside q_propensity_strat's
    // stratified difference and q_cuped's variance reduction. The
    // propensity is the exact within-stratum rate t_b/n_b, so each
    // stratum's IPW term Σy·n_b/t_b is ONE micro-quantized expression
    // over exact integer cell sums (≤ 7×2 cells — no per-row weighting
    // pass exists at any scale), integer-summed across strata. The
    // day-of-week key only GROUPS rows (never output), so the engines'
    // different weekday numberings are irrelevant. Fixture exposure is
    // unconfounded, so naive ≈ IPW: the honest null.
    QueryDef(
      "q_ipw_ate",
      (s, d) => {
        val e = Tables.events(s, d).where(col("value").isNotNull)
          .select(expr("CAST(round(value*100) AS BIGINT)").as("y"),
            when(expr("hour(ts)") >= 12, 1L).otherwise(0L).as("t"),
            expr("dayofweek(ts)").as("x"))
        val cells = e.groupBy("x", "t")
          .agg(count(lit(1)).as("n"), sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"))
        val bins = cells.groupBy("x")
          .agg(sum("n").as("nb"),
            sum(when(col("t") === 1, col("n")).otherwise(0L)).as("tb"))
        val terms = cells.join(broadcast(bins), "x")
          .where((col("t") === 1 && col("tb") > 0) ||
            (col("t") === 0 && col("nb") > col("tb")))
          .select(expr("""CAST(round(CASE WHEN t = 1
                         |  THEN 10000.0 * sy * nb / tb
                         |  ELSE -10000.0 * sy * nb / (nb - tb) END) AS BIGINT)"""
            .stripMargin).as("term"))
        val tsum = terms.agg(sum("term").as("tsum"))
        e.agg(count(lit(1)).as("n"),
            sum(when(col("t") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("t") === 1, expr("CAST(y AS DECIMAL(38,0))"))
              .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("y1"),
            sum(when(col("t") === 0, expr("CAST(y AS DECIMAL(38,0))"))
              .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("y0"))
          .crossJoin(tsum)
          .select(col("n").cast("long").as("n_obs"),
            expr("""CAST(round((CAST(y1 AS DOUBLE)/n1
                   |  - CAST(y0 AS DOUBLE)/(n - n1)) * 10000) AS BIGINT)"""
              .stripMargin).as("ate_naive_cmilli"),
            expr("CAST(tsum div n AS BIGINT)").as("ate_ipw_cmilli"))
      },
      Some("""WITH e AS (SELECT CAST(round(value*100) AS BIGINT) AS y,
             |    CASE WHEN hour(CAST(ts AS TIMESTAMP)) >= 12 THEN 1 ELSE 0 END AS t,
             |    dayofweek(CAST(ts AS TIMESTAMP)) AS x
             |  FROM events WHERE value IS NOT NULL),
             |cells AS (SELECT x, t, count(*) AS n, sum(CAST(y AS HUGEINT)) AS sy FROM e GROUP BY 1, 2),
             |bins AS (SELECT x, sum(n) AS nb, sum(CASE WHEN t = 1 THEN n ELSE 0 END) AS tb FROM cells GROUP BY 1),
             |terms AS (SELECT CAST(round(CASE WHEN c.t = 1
             |      THEN 10000.0 * c.sy * b.nb / b.tb
             |      ELSE -10000.0 * c.sy * b.nb / (b.nb - b.tb) END) AS BIGINT) AS term
             |  FROM cells c JOIN bins b ON b.x = c.x
             |  WHERE (c.t = 1 AND b.tb > 0) OR (c.t = 0 AND b.nb > b.tb)),
             |tot AS (SELECT count(*) AS n,
             |    sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n1,
             |    sum(CASE WHEN t = 1 THEN CAST(y AS HUGEINT) ELSE 0 END) AS y1,
             |    sum(CASE WHEN t = 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS y0 FROM e)
             |SELECT CAST(n AS BIGINT) AS n_obs,
             |  CAST(round((CAST(y1 AS DOUBLE)/n1 - CAST(y0 AS DOUBLE)/(n - n1)) * 10000) AS BIGINT)
             |    AS ate_naive_cmilli,
             |  CAST((SELECT sum(term) FROM terms) // n AS BIGINT) AS ate_ipw_cmilli
             |FROM tot""".stripMargin)),


    // instrumental-variable Wald estimator with the first-stage
    // diagnostic — completes the causal battery (q_did, q_ipw_ate,
    // q_propensity_strat) with the estimator for UNOBSERVED
    // confounding: instrument z = weekend (epoch-day mod 7, the
    // engine-portable classification), treatment x = afternoon
    // exposure, outcome y = value cents; Wald β = (ȳ₁−ȳ₀)/(x̄₁−x̄₀).
    // The fixture assigns hour independent of weekday, so the first
    // stage is ≈ 0 — a WEAK instrument — and the honest deliverable is
    // exactly that diagnostic: the first-stage delta is reported in
    // micro and the Wald ratio is zero-sentineled when the first stage
    // vanishes (the blow-up a real pipeline must refuse to ship). One
    // conditional-moment pass; one mirrored closed form.
    QueryDef(
      "q_iv_wald",
      (s, d) => {
        Tables.events(s, d).where(col("value").isNotNull)
          .select(
            (datediff(col("ts").cast("date"),
              lit("1970-01-01").cast("date")) % 7).isin(2, 3).as("z"),
            when(expr("hour(ts)") >= 12, 1L).otherwise(0L).as("x"),
            expr("CAST(round(value*100) AS BIGINT)").as("y"))
          .agg(count(when(col("z"), 1)).as("n1"),
            count(when(!col("z"), 1)).as("n0"),
            sum(when(col("z"), col("x")).otherwise(0L)).as("x1"),
            sum(when(!col("z"), col("x")).otherwise(0L)).as("x0"),
            sum(when(col("z"), expr("CAST(y AS DECIMAL(38,0))"))
              .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("y1"),
            sum(when(!col("z"), expr("CAST(y AS DECIMAL(38,0))"))
              .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("y0"))
          .select(col("n0").cast("long").as("n_z0"),
            col("n1").cast("long").as("n_z1"),
            expr("""CAST((1000000 * x1) div n1 - (1000000 * x0) div n0
                   |AS BIGINT)""".stripMargin).as("first_stage_micro"),
            expr("""CAST((1000 * y1) div n1 - (1000 * y0) div n0
                   |AS BIGINT)""".stripMargin).as("reduced_form_milli"),
            expr("""CAST(CASE
                   |  WHEN (1000000 * x1) div n1 = (1000000 * x0) div n0 THEN 0
                   |  ELSE round((CAST(y1 AS DOUBLE)/n1 - CAST(y0 AS DOUBLE)/n0)
                   |    / (CAST(x1 AS DOUBLE)/n1 - CAST(x0 AS DOUBLE)/n0) * 1000)
                   |END AS BIGINT)""".stripMargin).as("wald_beta_milli"))
      },
      Some("""WITH e AS (SELECT
             |    ((CAST(ts AS DATE) - DATE '1970-01-01') % 7) IN (2, 3) AS z,
             |    CASE WHEN hour(CAST(ts AS TIMESTAMP)) >= 12 THEN 1 ELSE 0 END AS x,
             |    CAST(round(value*100) AS BIGINT) AS y
             |  FROM events WHERE value IS NOT NULL),
             |a AS (SELECT count(*) FILTER (WHERE z) AS n1,
             |    count(*) FILTER (WHERE NOT z) AS n0,
             |    sum(CASE WHEN z THEN x ELSE 0 END) AS x1,
             |    sum(CASE WHEN NOT z THEN x ELSE 0 END) AS x0,
             |    sum(CASE WHEN z THEN CAST(y AS HUGEINT) ELSE 0 END) AS y1,
             |    sum(CASE WHEN NOT z THEN CAST(y AS HUGEINT) ELSE 0 END) AS y0
             |  FROM e)
             |SELECT CAST(n0 AS BIGINT) AS n_z0, CAST(n1 AS BIGINT) AS n_z1,
             |  CAST((1000000 * x1) // n1 - (1000000 * x0) // n0 AS BIGINT)
             |    AS first_stage_micro,
             |  CAST((1000 * y1) // n1 - (1000 * y0) // n0 AS BIGINT)
             |    AS reduced_form_milli,
             |  CAST(CASE
             |    WHEN (1000000 * x1) // n1 = (1000000 * x0) // n0 THEN 0
             |    ELSE round((CAST(y1 AS DOUBLE)/n1 - CAST(y0 AS DOUBLE)/n0)
             |      / (CAST(x1 AS DOUBLE)/n1 - CAST(x0 AS DOUBLE)/n0) * 1000)
             |  END AS BIGINT) AS wald_beta_milli
             |FROM a""".stripMargin)),


    // sharp regression-discontinuity estimate at an account-balance
    // cutoff — the last member of the causal battery: running variable
    // c_acctbal (cents), cutoff 5000.00, outcome per-customer order
    // count, bandwidth ±2500.00, LOCAL LINEAR fit on each side (the
    // standard RD spec — a raw mean gap would conflate the
    // discontinuity with the slope). Both side-fits close over exact
    // 128-bit moments from ONE conditional pass; the effect is the gap
    // between the two fitted intercepts AT the cutoff. The fixture
    // draws balance independent of behavior ⇒ effect ≈ 0: the honest
    // null, with the machinery (and the per-side slopes) on display.
    QueryDef(
      "q_reg_discontinuity",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey"),
            (round(col("c_acctbal") * 100).cast("long") - 500000L).as("r"))
          .where(col("r") >= -250000L && col("r") < 250000L)
        val o = Tables.orders(s, d).groupBy("o_custkey")
          .agg(count(lit(1)).as("y"))
        val pts = c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .select(col("r"), coalesce(col("y"), lit(0L)).as("y"),
            (col("r") >= 0L).as("side"))
        def fitCols(side: Boolean, tag: String) = Seq(
          count(when(col("side") === side, 1)).as(s"n$tag"),
          sum(when(col("side") === side, expr("CAST(r AS DECIMAL(38,0))"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as(s"sx$tag"),
          sum(when(col("side") === side, expr("CAST(r AS DECIMAL(38,0)) * r"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as(s"sxx$tag"),
          sum(when(col("side") === side, expr("CAST(y AS DECIMAL(38,0))"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as(s"sy$tag"),
          sum(when(col("side") === side, expr("CAST(r AS DECIMAL(38,0)) * y"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as(s"sxy$tag"))
        val m = pts.agg((fitCols(false, "l") ++ fitCols(true, "r")).head,
          (fitCols(false, "l") ++ fitCols(true, "r")).tail: _*)
        def icept(t: String) =
          s"""(CAST(sy$t AS DOUBLE)*sxx$t - CAST(sx$t AS DOUBLE)*sxy$t)
             |/ (CAST(n$t AS DOUBLE)*sxx$t - CAST(sx$t AS DOUBLE)*sx$t)""".stripMargin
        m.select(col("nl").cast("long").as("n_left"),
          col("nr").cast("long").as("n_right"),
          expr(s"CAST(round(1000 * ${icept("l")}) AS BIGINT)")
            .as("left_at_cutoff_milli"),
          expr(s"CAST(round(1000 * ${icept("r")}) AS BIGINT)")
            .as("right_at_cutoff_milli"),
          expr(s"CAST(round(1000 * (${icept("r")} - ${icept("l")})) AS BIGINT)")
            .as("rd_effect_milli"))
      },
      Some("""WITH c AS (SELECT c_custkey,
             |    CAST(round(c_acctbal * 100) AS BIGINT) - 500000 AS r
             |  FROM customer
             |  WHERE CAST(round(c_acctbal * 100) AS BIGINT) - 500000 >= -250000
             |    AND CAST(round(c_acctbal * 100) AS BIGINT) - 500000 < 250000),
             |o AS (SELECT o_custkey, count(*) AS y FROM orders GROUP BY 1),
             |pts AS (SELECT c.r, coalesce(o.y, 0) AS y, c.r >= 0 AS side
             |  FROM c LEFT JOIN o ON o.o_custkey = c.c_custkey),
             |m AS (SELECT
             |    count(*) FILTER (WHERE NOT side) AS nl,
             |    sum(CASE WHEN NOT side THEN CAST(r AS HUGEINT) ELSE 0 END) AS sxl,
             |    sum(CASE WHEN NOT side THEN CAST(r AS HUGEINT) * r ELSE 0 END) AS sxxl,
             |    sum(CASE WHEN NOT side THEN CAST(y AS HUGEINT) ELSE 0 END) AS syl,
             |    sum(CASE WHEN NOT side THEN CAST(r AS HUGEINT) * y ELSE 0 END) AS sxyl,
             |    count(*) FILTER (WHERE side) AS nr,
             |    sum(CASE WHEN side THEN CAST(r AS HUGEINT) ELSE 0 END) AS sxr,
             |    sum(CASE WHEN side THEN CAST(r AS HUGEINT) * r ELSE 0 END) AS sxxr,
             |    sum(CASE WHEN side THEN CAST(y AS HUGEINT) ELSE 0 END) AS syr,
             |    sum(CASE WHEN side THEN CAST(r AS HUGEINT) * y ELSE 0 END) AS sxyr
             |  FROM pts)
             |SELECT CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
             |  CAST(round(1000 * (CAST(syl AS DOUBLE)*sxxl - CAST(sxl AS DOUBLE)*sxyl)
             |    / (CAST(nl AS DOUBLE)*sxxl - CAST(sxl AS DOUBLE)*sxl)) AS BIGINT)
             |    AS left_at_cutoff_milli,
             |  CAST(round(1000 * (CAST(syr AS DOUBLE)*sxxr - CAST(sxr AS DOUBLE)*sxyr)
             |    / (CAST(nr AS DOUBLE)*sxxr - CAST(sxr AS DOUBLE)*sxr)) AS BIGINT)
             |    AS right_at_cutoff_milli,
             |  CAST(round(1000 * ((CAST(syr AS DOUBLE)*sxxr - CAST(sxr AS DOUBLE)*sxyr)
             |    / (CAST(nr AS DOUBLE)*sxxr - CAST(sxr AS DOUBLE)*sxr)
             |    - (CAST(syl AS DOUBLE)*sxxl - CAST(sxl AS DOUBLE)*sxyl)
             |    / (CAST(nl AS DOUBLE)*sxxl - CAST(sxl AS DOUBLE)*sxl))) AS BIGINT)
             |    AS rd_effect_milli
             |FROM m""".stripMargin)),
  )
}
