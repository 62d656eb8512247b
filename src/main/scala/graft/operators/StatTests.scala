package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic distribution-diagnostic tests — the assumption checks that sit
  * UPSTREAM of the inference battery in [[Behavioral]] (q_anova assumes
  * variance homogeneity → q_levene certifies it; q_welch_ttest's normal
  * approximation → q_jarque_bera scores it; trend-model residual
  * independence → q_durbin_watson; q_mcnemar's two-condition design →
  * q_cochran_q generalizes to k conditions; z-score outlier screens →
  * q_grubbs is the test-valued form).
  *
  * House determinism rules throughout (the q_anova convention): group
  * moments are EXACT 128-bit integer sums; any per-group rational term
  * quantizes to an integer BEFORE the cross-group sum so unordered double
  * addition never happens; the final statistic is one IEEE closed form
  * over those exact sums, rounded once to milli/micro.
  */
object StatTests {

  val defs: Seq[QueryDef] = Seq(

    // Brown–Forsythe / Levene variance-homogeneity test across the five
    // event types: one-way ANOVA on |x − group median|. The group median
    // doubles as 2·median, which is ALWAYS an integer for integer cents
    // (middle value or sum of the two middles), so the deviations are
    // exact half-cent integers and the whole F pipeline reuses
    // q_anova's exact-moment machinery. Medians broadcast back over a
    // 5-row join; fixture value ⊥ type, so F ≈ 0.5: the honest null.
    QueryDef(
      "q_levene",
      (s, d) => {
        val v = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("event_type"),
            expr("CAST(round(value*100) AS BIGINT)").as("c"))
        val med = v.groupBy("event_type")
          .agg(expr("CAST(round(2 * percentile(c, 0.5)) AS BIGINT)").as("m2"))
        val z = v.join(broadcast(med), "event_type")
          .select(col("event_type"), abs(col("c") * 2 - col("m2")).as("w"))
        val g = z.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(w AS DECIMAL(38,0))")).as("s"),
            sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("s2"))
          .select(col("n"), col("s"), col("s2"),
            expr("CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS DECIMAL(38,0))")
              .as("t"))
        g.agg(count(lit(1)).as("k"), sum("n").as("n"), sum("s").as("s"),
            sum("s2").as("s2"), sum("t").as("sb"))
          .select(col("k").cast("long").as("k"), col("n").cast("long").as("n"),
            expr("""CAST(round(((CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)/(k-1))
                   | /((CAST(s2 AS DOUBLE) - CAST(sb AS DOUBLE))/(n-k)) * 1000)
                   | AS BIGINT)""".stripMargin).as("f_milli"))
      },
      Some("""WITH v AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
             |    FROM events WHERE value IS NOT NULL),
             |med AS (SELECT event_type,
             |    CAST(round(2 * quantile_cont(c, 0.5)) AS BIGINT) AS m2 FROM v GROUP BY 1),
             |z AS (SELECT v.event_type, abs(2*c - m2) AS w FROM v JOIN med USING (event_type)),
             |g AS (SELECT event_type, count(*) AS n, sum(CAST(w AS HUGEINT)) AS s,
             |        sum(CAST(w AS HUGEINT)*w) AS s2 FROM z GROUP BY 1),
             |g2 AS (SELECT n, s, s2,
             |        CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS HUGEINT) AS t FROM g),
             |a AS (SELECT count(*) AS k, sum(n) AS n, sum(s) AS s, sum(s2) AS s2,
             |        sum(t) AS sb FROM g2)
             |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
             |  CAST(round(((CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)/(k-1))
             |    /((CAST(s2 AS DOUBLE) - CAST(sb AS DOUBLE))/(n-k)) * 1000) AS BIGINT) AS f_milli
             |FROM a""".stripMargin)),

    // Jarque–Bera normality score on purchase values: skewness and
    // excess kurtosis from the first four raw moments (one map-combined
    // pass, exact 128-bit sums — cents⁴ at 10¹² rows is ~10³⁴, inside
    // DECIMAL(38,0)), then JB = n·(S²/6 + K²/24). The central-moment
    // algebra is a single mirrored IEEE expression over the exact sums.
    // Purchase values are uniform-ish ⇒ strong negative kurtosis, JB
    // far from χ²₂'s bulk: the honest rejection.
    QueryDef(
      "q_jarque_bera",
      (s, d) => Tables.events(s, d)
        .where(col("value").isNotNull && col("event_type") === "purchase")
        .select(expr("CAST(round(value*100) AS BIGINT)").as("c"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(c AS DECIMAL(38,0))")).as("s1"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c * c")).as("s3"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c * c * c")).as("s4"))
        .select(col("n"), expr("CAST(s1 AS DOUBLE)/n").as("mu"),
          expr("CAST(s2 AS DOUBLE)/n").as("r2"),
          expr("CAST(s3 AS DOUBLE)/n").as("r3"),
          expr("CAST(s4 AS DOUBLE)/n").as("r4"))
        .select(col("n"), expr("r2 - mu*mu").as("m2"),
          expr("r3 - 3*mu*r2 + 2*mu*mu*mu").as("m3"),
          expr("r4 - 4*mu*r3 + 6*mu*mu*r2 - 3*mu*mu*mu*mu").as("m4"))
        .select(col("n").cast("long").as("n_obs"),
          expr("CAST(round(m3 / pow(m2, 1.5) * 1000) AS BIGINT)").as("skew_milli"),
          expr("CAST(round((m4 / (m2*m2) - 3) * 1000) AS BIGINT)").as("kurt_milli"),
          expr("""CAST(round(n * (pow(m3 / pow(m2, 1.5), 2) / 6
                 |  + pow(m4 / (m2*m2) - 3, 2) / 24) * 1000) AS BIGINT)"""
            .stripMargin).as("jb_milli")),
      Some("""WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS c FROM events
             |    WHERE value IS NOT NULL AND event_type = 'purchase'),
             |m AS (SELECT count(*) AS n, sum(CAST(c AS HUGEINT)) AS s1,
             |    sum(CAST(c AS HUGEINT)*c) AS s2, sum(CAST(c AS HUGEINT)*c*c) AS s3,
             |    sum(CAST(c AS HUGEINT)*c*c*c) AS s4 FROM v),
             |d AS (SELECT n, CAST(s1 AS DOUBLE)/n AS mu, CAST(s2 AS DOUBLE)/n AS r2,
             |    CAST(s3 AS DOUBLE)/n AS r3, CAST(s4 AS DOUBLE)/n AS r4 FROM m),
             |c AS (SELECT n, r2 - mu*mu AS m2,
             |    r3 - 3*mu*r2 + 2*mu*mu*mu AS m3,
             |    r4 - 4*mu*r3 + 6*mu*mu*r2 - 3*mu*mu*mu*mu AS m4 FROM d)
             |SELECT CAST(n AS BIGINT) AS n_obs,
             |  CAST(round(m3 / pow(m2, 1.5) * 1000) AS BIGINT) AS skew_milli,
             |  CAST(round((m4 / (m2*m2) - 3) * 1000) AS BIGINT) AS kurt_milli,
             |  CAST(round(n * (pow(m3 / pow(m2, 1.5), 2) / 6
             |    + pow(m4 / (m2*m2) - 3, 2) / 24) * 1000) AS BIGINT) AS jb_milli
             |FROM c""".stripMargin)),

    // Durbin–Watson autocorrelation test on the residuals of the daily-
    // revenue linear trend. The OLS line is exact: scaling residuals by
    // the determinant D = n·Σi² − (Σi)² makes D·eᵢ an exact integer
    // expression of the moment sums, so the residual series needs no
    // float-fit at all; each scaled residual quantizes once (÷10³) and
    // the squared-difference / squared-level sums are exact integer
    // aggregates. DW ≈ 2 ⇒ independent residuals. The day-index
    // row_number and lag ride the ≤ #days calendar frame after one
    // map-combined daily sum (q_control_chart convention).
    QueryDef(
      "q_durbin_watson",
      (s, d) => {
        val daily = Tables.events(s, d)
          .where(col("event_type") === "purchase")
          .groupBy(date_trunc("day", col("ts")).as("d"))
          .agg(sum(expr("CAST(round(value*100) AS BIGINT)")).as("y"))
        val idx = daily.select(col("y"),
          row_number().over(Window.orderBy("d")).cast("long").as("i"))
        val f = idx.agg(count(lit(1)).as("n"),
          sum(expr("CAST(i AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(i AS DECIMAL(38,0))*i")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(i AS DECIMAL(38,0))*y")).as("sxy"))
        val r = idx.crossJoin(f)
          .select(col("i"), col("n"),
            expr("""CAST(round((CAST(n*sxx - sx*sx AS DOUBLE) * y
                   |  - (CAST(sy*sxx - sx*sxy AS DOUBLE)
                   |     + CAST(n*sxy - sx*sy AS DOUBLE) * i)) / 1000)
                   |  AS BIGINT)""".stripMargin).as("rd"))
        val l = r.select(col("n"), col("rd"),
          lag("rd", 1).over(Window.orderBy("i")).as("rp"))
        l.groupBy("n")
          .agg(sum(expr("CAST(rd AS DECIMAL(38,0))*rd")).as("se2"),
            sum(expr("""CASE WHEN rp IS NOT NULL
                       |  THEN CAST(rd - rp AS DECIMAL(38,0))*(rd - rp) END"""
              .stripMargin)).as("sd2"))
          .select(col("n").cast("long").as("n_days"),
            expr("CAST(round(1000.0 * CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE)) AS BIGINT)")
              .as("dw_milli"))
      },
      Some("""WITH daily AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             |    sum(CAST(round(value*100) AS BIGINT)) AS y
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |idx AS (SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM daily),
             |f AS (SELECT count(*) AS n, sum(CAST(i AS HUGEINT)) AS sx,
             |    sum(CAST(i AS HUGEINT)*i) AS sxx, sum(CAST(y AS HUGEINT)) AS sy,
             |    sum(CAST(i AS HUGEINT)*y) AS sxy FROM idx),
             |r AS (SELECT i, f.n,
             |    CAST(round((CAST(f.n*f.sxx - f.sx*f.sx AS DOUBLE) * y
             |      - (CAST(f.sy*f.sxx - f.sx*f.sxy AS DOUBLE)
             |         + CAST(f.n*f.sxy - f.sx*f.sy AS DOUBLE) * i)) / 1000) AS BIGINT) AS rd
             |  FROM idx CROSS JOIN f),
             |l AS (SELECT n, rd, lag(rd) OVER (ORDER BY i) AS rp FROM r),
             |q AS (SELECT n, sum(CAST(rd AS HUGEINT)*rd) AS se2,
             |    sum(CASE WHEN rp IS NOT NULL THEN CAST(rd - rp AS HUGEINT)*(rd - rp) END) AS sd2
             |  FROM l GROUP BY 1)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(round(1000.0 * CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE)) AS BIGINT) AS dw_milli
             |FROM q""".stripMargin)),

    // Cochran's Q: did each user's weekly purchase propensity stay flat
    // across the first three weeks of January? Blocks = users, binary
    // response = "converted in week j". Q = [k(k−1)ΣCⱼ² − (k−1)N²] /
    // (kN − ΣRᵢ²) is PURE integer arithmetic over the row/column totals
    // — one users × 3 broadcast grid, one distinct-conversion left
    // join, two tiny aggregations. The k-condition generalization of
    // q_mcnemar (k = 2 reduces to it).
    QueryDef(
      "q_cochran_q",
      (s, d) => {
        val wk = Tables.events(s, d)
          .where(col("event_type") === "purchase" &&
            col("ts") < lit("2024-01-22 00:00:00").cast("timestamp_ntz"))
          .select(col("user_id"),
            expr("CAST(datediff(ts, DATE '2024-01-01') div 7 AS BIGINT)").as("w"))
          .distinct()
        val users = Tables.events(s, d).select("user_id").distinct()
        val weeks = users.sparkSession.range(3).select(col("id").as("w"))
        val cell = users.crossJoin(weeks)
          .join(wk.withColumn("x", lit(1L)), Seq("user_id", "w"), "left")
          .select(col("user_id"), col("w"), coalesce(col("x"), lit(0L)).as("x"))
        val rows = cell.groupBy("user_id").agg(sum("x").as("r"))
        val ragg = rows.agg(count(lit(1)).as("b"), sum("r").as("nn"),
          sum(col("r") * col("r")).as("r2"))
        val cagg = cell.groupBy("w").agg(sum("x").as("c"))
          .agg(sum(col("c") * col("c")).as("c2"))
        ragg.crossJoin(cagg)
          .select(col("b").cast("long").as("n_users"),
            col("nn").cast("long").as("total_hits"),
            expr("""CAST(round(1000.0 * (3*2*CAST(c2 AS DOUBLE) - 2*CAST(nn AS DOUBLE)*nn)
                   |  / (3*CAST(nn AS DOUBLE) - CAST(r2 AS DOUBLE))) AS BIGINT)"""
              .stripMargin).as("q_milli"),
            lit(2L).as("df"))
      },
      Some("""WITH wk AS (SELECT DISTINCT user_id,
             |    CAST((date_diff('day', DATE '2024-01-01', CAST(ts AS TIMESTAMP)) // 7) AS BIGINT) AS w
             |  FROM events WHERE event_type = 'purchase'
             |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-22 00:00:00'),
             |users AS (SELECT DISTINCT user_id FROM events),
             |cell AS (SELECT u.user_id, g.w,
             |    CASE WHEN wk.user_id IS NOT NULL THEN 1 ELSE 0 END AS x
             |  FROM users u CROSS JOIN (SELECT unnest([0,1,2]) AS w) g
             |  LEFT JOIN wk ON wk.user_id = u.user_id AND wk.w = g.w),
             |rows_ AS (SELECT user_id, sum(x) AS r FROM cell GROUP BY 1),
             |ragg AS (SELECT count(*) AS b, sum(r) AS nn, sum(r*r) AS r2 FROM rows_),
             |cagg AS (SELECT sum(c*c) AS c2 FROM
             |    (SELECT w, sum(x) AS c FROM cell GROUP BY 1))
             |SELECT CAST(b AS BIGINT) AS n_users, CAST(nn AS BIGINT) AS total_hits,
             |  CAST(round(1000.0 * (3*2*CAST(c2 AS DOUBLE) - 2*CAST(nn AS DOUBLE)*nn)
             |    / (3*CAST(nn AS DOUBLE) - CAST(r2 AS DOUBLE))) AS BIGINT) AS q_milli,
             |  CAST(2 AS BIGINT) AS df
             |FROM ragg CROSS JOIN cagg""".stripMargin)),

    // Grubbs' extreme-outlier test on purchase values: G = max|x − x̄|/s.
    // The max deviation is exact — |c·n − S| in 128-bit integer units of
    // 1/n — so the argmax row is engine-deterministic (ties broken by
    // min cents); G itself is one IEEE closed form over (maxdev, n, S,
    // ΣX²). The test-valued companion to q_robust_outliers' MAD screen.
    QueryDef(
      "q_grubbs",
      (s, d) => {
        val v = Tables.events(s, d)
          .where(col("value").isNotNull && col("event_type") === "purchase")
          .select(expr("CAST(round(value*100) AS BIGINT)").as("c"))
        val m = v.agg(count(lit(1)).as("n"),
          sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
        val dev = v.crossJoin(m)
          .agg(max(expr("abs(CAST(c AS DECIMAL(38,0)) * n - s)")).as("maxdev"))
        val pick = v.crossJoin(m).crossJoin(dev)
          .where(expr("abs(CAST(c AS DECIMAL(38,0)) * n - s) = maxdev"))
          .agg(min("c").as("outlier"))
        m.crossJoin(dev).crossJoin(pick)
          .select(col("n").cast("long").as("n_obs"),
            col("outlier").cast("long").as("outlier_cents"),
            expr("""CAST(round(1000.0 * (CAST(maxdev AS DOUBLE) / n)
                   |  / sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
                   |    / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)"""
              .stripMargin).as("g_milli"))
      },
      Some("""WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS c FROM events
             |    WHERE value IS NOT NULL AND event_type = 'purchase'),
             |m AS (SELECT count(*) AS n, sum(CAST(c AS HUGEINT)) AS s,
             |    sum(CAST(c AS HUGEINT)*c) AS s2 FROM v),
             |dev AS (SELECT max(abs(CAST(c AS HUGEINT) * n - s)) AS maxdev
             |  FROM v CROSS JOIN m),
             |pick AS (SELECT min(c) AS outlier FROM v CROSS JOIN m CROSS JOIN dev
             |  WHERE abs(CAST(c AS HUGEINT) * n - s) = maxdev)
             |SELECT CAST(n AS BIGINT) AS n_obs, CAST(outlier AS BIGINT) AS outlier_cents,
             |  CAST(round(1000.0 * (CAST(maxdev AS DOUBLE) / n)
             |    / sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
             |      / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT) AS g_milli
             |FROM m CROSS JOIN dev CROSS JOIN pick""".stripMargin)),

    // Tukey-Kramer post-hoc q statistics for every event-type pair —
    // the step AFTER q_anova rejects: which of the C(5,2) = 10 pairwise
    // mean differences carry the signal, on the studentized-range scale
    // q = |x̄ᵢ − x̄ⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ)) that keeps the family-
    // wise error controlled where 10 naive t-tests would not. MSW
    // reuses q_anova's exact moment machinery (per-group s²/n quantized
    // before the cross-group sum); the pair frame is a ≤ k² broadcast
    // self-join of the k-row group table.
    QueryDef(
      "q_tukey_hsd",
      (s, d) => {
        val g = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("event_type"),
            expr("CAST(round(value*100) AS BIGINT)").as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
            sum(expr("CAST(c AS DECIMAL(38,0))*c")).as("s2"))
        val g2 = g.withColumn("t",
          expr("CAST(round(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) AS DECIMAL(38,0))"))
        val msw = g2.agg(sum("n").as("nn"), count(lit(1)).as("k"),
            sum("s2").as("ss2"), sum("t").as("sb"))
          .select(expr("(CAST(ss2 AS DOUBLE) - CAST(sb AS DOUBLE)) / (nn - k)")
            .as("msw"))
        val a = g.select(col("event_type").as("type_a"), col("n").as("na"),
          col("s").as("sa"))
        val b = g.select(col("event_type").as("type_b"), col("n").as("nb_"),
          col("s").as("sb_"))
        a.join(broadcast(b), col("type_a") < col("type_b"))
          .crossJoin(msw)
          .select(col("type_a"), col("type_b"),
            expr("CAST(round((CAST(sa AS DOUBLE)/na - CAST(sb_ AS DOUBLE)/nb_) * 1000) AS BIGINT)")
              .as("mean_diff_milli"),
            expr("""CAST(round(abs(CAST(sa AS DOUBLE)/na - CAST(sb_ AS DOUBLE)/nb_)
                   |  / sqrt(msw / 2 * (1.0/na + 1.0/nb_)) * 1000) AS BIGINT)"""
              .stripMargin).as("q_milli"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH v AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
             |    FROM events WHERE value IS NOT NULL),
             |g AS (SELECT event_type, count(*) AS n, sum(CAST(c AS HUGEINT)) AS s,
             |    sum(CAST(c AS HUGEINT)*c) AS s2 FROM v GROUP BY 1),
             |g2 AS (SELECT *, CAST(round(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) AS HUGEINT) AS t FROM g),
             |msw AS (SELECT (CAST(sum(s2) AS DOUBLE) - CAST(sum(t) AS DOUBLE))
             |    / (sum(n) - count(*)) AS msw FROM g2),
             |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    a.n AS na, b.n AS nb_, CAST(a.s AS DOUBLE)/a.n - CAST(b.s AS DOUBLE)/b.n AS diff
             |  FROM g a JOIN g b ON a.event_type < b.event_type)
             |SELECT type_a, type_b,
             |  CAST(round(diff * 1000) AS BIGINT) AS mean_diff_milli,
             |  CAST(round(abs(diff) / sqrt(msw / 2 * (1.0/na + 1.0/nb_)) * 1000) AS BIGINT) AS q_milli
             |FROM pairs CROSS JOIN msw ORDER BY type_a, type_b""".stripMargin)),

    // one-way intraclass correlation ICC(1,1) with user_id as the
    // grouping factor — "how much of event-value variance is BETWEEN
    // users": the reliability coefficient behind any per-user averaging
    // decision (repeated measures, rater pools, cluster sampling
    // design effects). Unequal group sizes use the k₀ = (N − Σnᵢ²/N)/
    // (b−1) correction; MSB/MSW come from q_anova's exact per-group
    // moments (s²/n quantized before the cross-group sum, Σn² exact).
    // Fixture events are i.i.d. across users, so ICC ≈ 0: the honest
    // null.
    QueryDef(
      "q_icc",
      (s, d) => {
        val g = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("user_id").as("g"),
            expr("CAST(round(value*100) AS BIGINT)").as("c"))
          .groupBy("g")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
            sum(expr("CAST(c AS DECIMAL(38,0))*c")).as("s2"))
          .select(col("n"), col("s"), col("s2"),
            expr("CAST(round(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) AS DECIMAL(38,0))")
              .as("t"),
            expr("CAST(n AS DECIMAL(38,0))*n").as("n2"))
        g.agg(count(lit(1)).as("b"), sum("n").as("nn"), sum("s").as("s"),
            sum("s2").as("s2"), sum("t").as("sb"), sum("n2").as("sn2"))
          .select(col("b"), col("nn"),
            expr("(CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/nn) / (b - 1)")
              .as("msb"),
            expr("(CAST(s2 AS DOUBLE) - CAST(sb AS DOUBLE)) / (nn - b)").as("msw"),
            expr("(CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE)/nn) / (b - 1)").as("k0"))
          .select(col("b").cast("long").as("n_groups"),
            col("nn").cast("long").as("n_obs"),
            expr("CAST(round(msb) AS BIGINT)").as("msb_cents2"),
            expr("CAST(round(msw) AS BIGINT)").as("msw_cents2"),
            expr("CAST(round((msb - msw) / (msb + (k0 - 1) * msw) * 1000000) AS BIGINT)")
              .as("icc_micro"))
      },
      Some("""WITH v AS (SELECT user_id AS g, CAST(round(value*100) AS BIGINT) AS c
             |    FROM events WHERE value IS NOT NULL),
             |g AS (SELECT g, count(*) AS n, sum(CAST(c AS HUGEINT)) AS s,
             |    sum(CAST(c AS HUGEINT)*c) AS s2 FROM v GROUP BY 1),
             |g2 AS (SELECT *, CAST(round(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) AS HUGEINT) AS t,
             |    CAST(n AS HUGEINT)*n AS n2 FROM g),
             |a AS (SELECT count(*) AS b, sum(n) AS nn, sum(s) AS s, sum(s2) AS s2,
             |    sum(t) AS sb, sum(n2) AS sn2 FROM g2),
             |f AS (SELECT b, nn,
             |    (CAST(sb AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/nn) / (b - 1) AS msb,
             |    (CAST(s2 AS DOUBLE) - CAST(sb AS DOUBLE)) / (nn - b) AS msw,
             |    (CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE)/nn) / (b - 1) AS k0
             |  FROM a)
             |SELECT CAST(b AS BIGINT) AS n_groups, CAST(nn AS BIGINT) AS n_obs,
             |  CAST(round(msb) AS BIGINT) AS msb_cents2,
             |  CAST(round(msw) AS BIGINT) AS msw_cents2,
             |  CAST(round((msb - msw) / (msb + (k0 - 1) * msw) * 1000000) AS BIGINT) AS icc_micro
             |FROM f""".stripMargin)),

    // paired t-test on day-matched purchase vs click revenue — the
    // within-pair design that removes day-level variance where
    // q_welch_ttest's independent-samples form cannot (same calendar
    // shock hits both arms). Differences are exact integer cents per
    // day; t is one IEEE closed form over the exact (n, Σd, Σd²)
    // moments. ≤ #days pairs after one map-combined conditional sum.
    QueryDef(
      "q_paired_ttest",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("d"))
          .agg(
            sum(when(col("event_type") === "purchase",
              expr("CAST(round(value*100) AS BIGINT)")).otherwise(0L)).as("yp"),
            sum(when(col("event_type") === "click",
              expr("CAST(round(value*100) AS BIGINT)")).otherwise(0L)).as("yc"))
        daily.select((col("yp") - col("yc")).as("dd"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(dd AS DECIMAL(38,0))")).as("s"),
            sum(expr("CAST(dd AS DECIMAL(38,0))*dd")).as("s2"))
          .select(col("n").cast("long").as("n_days"),
            expr("CAST(s div n AS BIGINT)").as("mean_diff_cents"),
            expr("""CAST(round(CAST(s AS DOUBLE) / n
                   |  / sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
                   |    / (CAST(n AS DOUBLE) * (n - 1)) / n) * 1000) AS BIGINT)"""
              .stripMargin).as("t_milli"))
      },
      Some("""WITH daily AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             |    sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS yp,
             |    sum(CASE WHEN event_type = 'click' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS yc
             |  FROM events GROUP BY 1),
             |diff AS (SELECT yp - yc AS dd FROM daily),
             |m AS (SELECT count(*) AS n, sum(CAST(dd AS HUGEINT)) AS s,
             |    sum(CAST(dd AS HUGEINT)*dd) AS s2 FROM diff)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(s // n AS BIGINT) AS mean_diff_cents,
             |  CAST(round(CAST(s AS DOUBLE) / n
             |    / sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
             |      / (CAST(n AS DOUBLE) * (n - 1)) / n) * 1000) AS BIGINT) AS t_milli
             |FROM m""".stripMargin)),

    // Chow structural-break F-test: did the daily-revenue trend line
    // CHANGE between the two January halves? F compares the pooled-fit
    // SSE against the sum of the per-half fits — all three SSEs close
    // over the same exact 128-bit (n, Σi, Σi², Σy, Σiy, Σy²) moments,
    // so the test needs three tiny aggregates and zero residual
    // materialization. The regression-level complement of
    // q_changepoint's mean-shift CUSUM. Day indexing rides the ≤ #days
    // calendar frame (q_durbin_watson convention).
    QueryDef(
      "q_chow_test",
      (s, d) => {
        val idx = dailyIdx(s, d)
        val half = idx.agg(max("i").as("mx"))
        def mom(df: org.apache.spark.sql.DataFrame) = df.agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(i AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(i AS DECIMAL(38,0))*i")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(i AS DECIMAL(38,0))*y")).as("sxy"),
          sum(expr("CAST(y AS DECIMAL(38,0))*y")).as("syy"))
        val sseExpr =
          """(CAST(syy AS DOUBLE)
            |  - (CAST(sy AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sxy)
            |    / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sy
            |  - (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
            |    / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sxy)""".stripMargin
        val withHalf = idx.crossJoin(half)
        val mp = mom(idx).select(expr(sseExpr).as("ssep"), col("n"))
        val m1 = mom(withHalf.where(col("i") <= col("mx") / 2))
          .select(expr(sseExpr).as("sse1"))
        val m2 = mom(withHalf.where(col("i") > col("mx") / 2))
          .select(expr(sseExpr).as("sse2"))
        mp.crossJoin(m1).crossJoin(m2)
          .select(col("n").cast("long").as("n_days"),
            expr("""CAST(round(1000.0 * ((ssep - sse1 - sse2) / 2)
                   |  / ((sse1 + sse2) / (n - 4))) AS BIGINT)""".stripMargin)
              .as("chow_f_milli"))
      },
      Some(s"""WITH $dailyIdxSql,
             |half AS (SELECT max(i) AS mx FROM idx),
             |mp AS ($momSql FROM idx),
             |m1 AS ($momSql FROM idx WHERE i <= (SELECT mx FROM half) / 2),
             |m2 AS ($momSql FROM idx WHERE i > (SELECT mx FROM half) / 2),
             |s AS (SELECT
             |  (SELECT $sseSql FROM mp) AS ssep,
             |  (SELECT $sseSql FROM m1) AS sse1,
             |  (SELECT $sseSql FROM m2) AS sse2,
             |  (SELECT n FROM mp) AS n)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(round(1000.0 * ((ssep - sse1 - sse2) / 2)
             |    / ((sse1 + sse2) / (n - 4))) AS BIGINT) AS chow_f_milli
             |FROM s""".stripMargin)),

    // Cook's distance top-5: which days, if dropped, would move the
    // revenue trend line most? Dᵢ = eᵢ²/(2s²) · h/(1−h)² with the
    // determinant-scaled exact residuals (q_durbin_watson convention)
    // and the closed-form simple-regression leverage h = 1/n +
    // (i−x̄)²/Sxx — the scale cancels between eᵢ² and s², so the
    // readout needs no float fit at all. The influence diagnostic that
    // closes the residual-analysis suite (DW: autocorrelation, BP:
    // heteroscedasticity, Cook: leverage).
    QueryDef(
      "q_cooks_distance",
      (s, d) => {
        val idx = dailyIdx(s, d)
        val m = idx.agg(count(lit(1)).as("n"),
          sum(expr("CAST(i AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(i AS DECIMAL(38,0))*i")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(i AS DECIMAL(38,0))*y")).as("sxy"))
        val r = idx.crossJoin(m)
          .select(col("i"), col("n"), col("sx"), col("sxx"),
            expr("""CAST(round((CAST(n*sxx - sx*sx AS DOUBLE) * y
                   |  - (CAST(sy*sxx - sx*sxy AS DOUBLE)
                   |     + CAST(n*sxy - sx*sy AS DOUBLE) * i)) / 1000)
                   |  AS BIGINT)""".stripMargin).as("rd"))
        val mse = r.agg(sum(expr("CAST(rd AS DECIMAL(38,0))*rd")).as("se2"),
          count(lit(1)).as("nn"))
        r.withColumn("h",
            expr("""1.0/n + pow(i - CAST(sx AS DOUBLE)/n, 2)
                   |  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n)"""
              .stripMargin))
          .crossJoin(mse)
          .select(col("i").cast("long").as("day_index"),
            expr("""CAST(round(1000000.0 * (CAST(rd AS DOUBLE)*rd
                   |  / (CAST(se2 AS DOUBLE) / (nn - 2) * 2))
                   |  * (h / pow(1 - h, 2))) AS BIGINT)""".stripMargin)
              .as("cooks_d_micro"))
          .orderBy(col("cooks_d_micro").desc, col("day_index")).limit(5)
      },
      Some(s"""WITH $dailyIdxSql,
             |m AS (SELECT count(*) AS n, sum(CAST(i AS HUGEINT)) AS sx,
             |    sum(CAST(i AS HUGEINT)*i) AS sxx, sum(CAST(y AS HUGEINT)) AS sy,
             |    sum(CAST(i AS HUGEINT)*y) AS sxy FROM idx),
             |r AS (SELECT i, m.n, m.sx, m.sxx,
             |    CAST(round((CAST(m.n*m.sxx - m.sx*m.sx AS DOUBLE) * y
             |      - (CAST(m.sy*m.sxx - m.sx*m.sxy AS DOUBLE)
             |         + CAST(m.n*m.sxy - m.sx*m.sy AS DOUBLE) * i)) / 1000) AS BIGINT) AS rd
             |  FROM idx CROSS JOIN m),
             |mse AS (SELECT sum(CAST(rd AS HUGEINT)*rd) AS se2, count(*) AS nn FROM r),
             |lev AS (SELECT i, rd,
             |    1.0/n + pow(i - CAST(sx AS DOUBLE)/n, 2)
             |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n) AS h
             |  FROM r)
             |SELECT CAST(i AS BIGINT) AS day_index,
             |  CAST(round(1000000.0 * (CAST(rd AS DOUBLE)*rd
             |    / (CAST((SELECT se2 FROM mse) AS DOUBLE) / ((SELECT nn FROM mse) - 2) * 2))
             |    * (h / pow(1 - h, 2))) AS BIGINT) AS cooks_d_micro
             |FROM lev ORDER BY cooks_d_micro DESC, i LIMIT 5""".stripMargin)),

    // Breusch–Pagan heteroscedasticity LM test: regress the squared
    // (determinant-scaled, giga-requantized) residuals on the day index
    // — LM = n·R². Residuals come exact from the q_durbin_watson
    // machinery; the squares requantize ONCE per day before the second
    // exact moment pass, so both regressions are over calendar-bounded
    // integer frames. Completes the residual triptych with the
    // variance-stability axis.
    QueryDef(
      "q_breusch_pagan",
      (s, d) => {
        val idx = dailyIdx(s, d)
        val m = idx.agg(count(lit(1)).as("n"),
          sum(expr("CAST(i AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(i AS DECIMAL(38,0))*i")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(i AS DECIMAL(38,0))*y")).as("sxy"))
        val u = idx.crossJoin(m)
          .select(col("i"),
            expr("""CAST(round((CAST(n*sxx - sx*sx AS DOUBLE) * y
                   |  - (CAST(sy*sxx - sx*sxy AS DOUBLE)
                   |     + CAST(n*sxy - sx*sy AS DOUBLE) * i)) / 1000)
                   |  AS BIGINT)""".stripMargin).as("rd"))
          .select(col("i"),
            expr("CAST(round(CAST(rd AS DOUBLE)*rd / 1000000000.0) AS BIGINT)")
              .as("e2"))
        u.agg(count(lit(1)).as("n"),
            sum(expr("CAST(i AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(i AS DECIMAL(38,0))*i")).as("sxx"),
            sum(expr("CAST(e2 AS DECIMAL(38,0))")).as("sy"),
            sum(expr("CAST(i AS DECIMAL(38,0))*e2")).as("sxy"),
            sum(expr("CAST(e2 AS DECIMAL(38,0))*e2")).as("syy"))
          .select(col("n").cast("long").as("n_days"),
            expr("""CAST(round(1000.0 * n *
                   |  pow(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy, 2)
                   |  / ((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
                   |     * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)))
                   |AS BIGINT)""".stripMargin).as("bp_lm_milli"))
      },
      Some(s"""WITH $dailyIdxSql,
             |m AS (SELECT count(*) AS n, sum(CAST(i AS HUGEINT)) AS sx,
             |    sum(CAST(i AS HUGEINT)*i) AS sxx, sum(CAST(y AS HUGEINT)) AS sy,
             |    sum(CAST(i AS HUGEINT)*y) AS sxy FROM idx),
             |r AS (SELECT i,
             |    CAST(round((CAST(m.n*m.sxx - m.sx*m.sx AS DOUBLE) * y
             |      - (CAST(m.sy*m.sxx - m.sx*m.sxy AS DOUBLE)
             |         + CAST(m.n*m.sxy - m.sx*m.sy AS DOUBLE) * i)) / 1000) AS BIGINT) AS rd
             |  FROM idx CROSS JOIN m),
             |u AS (SELECT i, CAST(round(CAST(rd AS DOUBLE)*rd / 1000000000.0) AS BIGINT) AS e2 FROM r),
             |m2 AS (SELECT count(*) AS n, sum(CAST(i AS HUGEINT)) AS sx, sum(CAST(i AS HUGEINT)*i) AS sxx,
             |    sum(CAST(e2 AS HUGEINT)) AS sy, sum(CAST(i AS HUGEINT)*e2) AS sxy,
             |    sum(CAST(e2 AS HUGEINT)*e2) AS syy FROM u)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(round(1000.0 * n *
             |    pow(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy, 2)
             |    / ((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
             |       * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy))) AS BIGINT) AS bp_lm_milli
             |FROM m2""".stripMargin))
  ) :+ gumbelDef :+ kupiecDef :+ pageHinkleyDef :+ bartlettDef :+
    rateRatioDef :+ periodogramDef :+ kendallWDef :+ huberStepDef :+
    negbinFitDef :+ bradleyTerryDef :+ kpssDef :+ saxMotifsDef :+
    rollingSlopeDef :+ turningPointsDef :+ spectralEntropyDef :+
    wilcoxonDef

  /** Wilcoxon signed-rank test on q_paired_ttest's day-paired
    * purchase-vs-click revenue differences — the nonparametric
    * complement that survives the heavy-tailed days the t-test's
    * normality leans on: rank |dᵢ| ascending (zero differences drop,
    * the standard convention; ties broken on the day index for a total
    * order — deterministic in both engines), W⁺ = Σ ranks of positive
    * differences, z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24). Ranks ride
    * the ≤ #days calendar frame; W⁺ is an exact integer. */
  private def wilcoxonDef = QueryDef(
    "q_wilcoxon",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(
          sum(when(col("event_type") === "purchase",
            expr("CAST(round(value*100) AS BIGINT)")).otherwise(0L)).as("yp"),
          sum(when(col("event_type") === "click",
            expr("CAST(round(value*100) AS BIGINT)")).otherwise(0L)).as("yc"))
      val dd = daily.select(col("d"), (col("yp") - col("yc")).as("dd"))
        .where(col("dd") =!= 0L)
      val ranked = dd.withColumn("r",
        row_number().over(Window.orderBy(abs(col("dd")), col("d"))).cast("long"))
      // n = 0 (every day's purchase and click cents tie) would make both
      // wp NULL (sum over an empty frame) and z = 0/0: Spark ANSI-off
      // yields a value while DuckDB round(NaN)::BIGINT ERRORS — the
      // crash-vs-value class; zero-sentinel the degenerate case in both
      // engines (house convention: q_negbin_fit, q_iv_wald)
      ranked.agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("dd") > 0L, col("r")).otherwise(0L)), lit(0L))
            .as("wp"))
        .select(col("n").cast("long").as("n_nonzero_days"),
          col("wp").cast("long").as("w_plus"),
          expr("""CAST(CASE WHEN n = 0 THEN 0
                 |  ELSE round(1000.0 * (wp - CAST(n AS DOUBLE)*(n+1)/4)
                 |    / sqrt(CAST(n AS DOUBLE)*(n+1)*(2*n+1)/24)) END AS BIGINT)"""
            .stripMargin).as("z_milli"))
    },
    Some("""WITH daily AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           |    sum(CASE WHEN event_type = 'purchase'
           |        THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS yp,
           |    sum(CASE WHEN event_type = 'click'
           |        THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS yc
           |  FROM events GROUP BY 1),
           |dd AS (SELECT d, yp - yc AS dd FROM daily WHERE yp <> yc),
           |rk AS (SELECT dd, CAST(row_number() OVER (ORDER BY abs(dd), d) AS BIGINT) AS r
           |  FROM dd),
           |a AS (SELECT count(*) AS n,
           |    coalesce(sum(CASE WHEN dd > 0 THEN r ELSE 0 END), 0) AS wp FROM rk)
           |SELECT CAST(n AS BIGINT) AS n_nonzero_days, CAST(wp AS BIGINT) AS w_plus,
           |  CAST(CASE WHEN n = 0 THEN 0
           |    ELSE round(1000.0 * (wp - CAST(n AS DOUBLE)*(n+1)/4)
           |      / sqrt(CAST(n AS DOUBLE)*(n+1)*(2*n+1)/24)) END AS BIGINT) AS z_milli
           |FROM a""".stripMargin))

  /** 30-day rolling OLS slope of daily revenue — the local-trend track
    * a dashboard overlays where q_theilsen gives one global robust
    * slope: each day's slope closes over the exact moment sums of its
    * trailing 30-row frame (Σi, Σi², Σy, Σiy as four frame sums — the
    * closed form needs nothing else), so the whole track is windowed
    * arithmetic on the ≤ #days calendar frame with no per-window refit.
    * Report the steepest up- and down-trend days plus the track ends. */
  private def rollingSlopeDef = QueryDef(
    "q_rolling_slope",
    (s, d) => {
      val idx = dailyIdx(s, d)
      val w = Window.orderBy("i").rowsBetween(-29, 0)
      val sl = idx
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum("i").over(w))
        .withColumn("sxx", sum(expr("CAST(i AS DECIMAL(38,0)) * i")).over(w))
        .withColumn("sy", sum(expr("CAST(y AS DECIMAL(38,0))")).over(w))
        .withColumn("sxy", sum(expr("CAST(i AS DECIMAL(38,0)) * y")).over(w))
        .where(col("n") === 30)
        .select(col("i"),
          expr("""CAST(round(1000.0 *
                 |  (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 |  / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
                 |AS BIGINT)""".stripMargin).as("slope_milli"))
      val mx = sl.orderBy(col("slope_milli").desc, col("i")).limit(1)
        .select(col("i").as("max_day"), col("slope_milli").as("max_slope_milli"))
      val mn = sl.orderBy(col("slope_milli").asc, col("i")).limit(1)
        .select(col("i").as("min_day"), col("slope_milli").as("min_slope_milli"))
      val ends = sl.agg(count(lit(1)).as("n_windows"),
        max("i").as("last_day"))
      ends.crossJoin(broadcast(mx)).crossJoin(mn)
        .select(col("n_windows").cast("long").as("n_windows"),
          col("max_day").cast("long").as("max_day"),
          col("max_slope_milli"), col("min_day").cast("long").as("min_day"),
          col("min_slope_milli"))
    },
    Some(s"""WITH $dailyIdxSql,
           |sl AS (SELECT i,
           |    CAST(round(1000.0 *
           |      (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
           |      / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
           |      AS BIGINT) AS slope_milli
           |  FROM (SELECT i,
           |      count(*) OVER w AS n, sum(i) OVER w AS sx,
           |      sum(CAST(i AS HUGEINT) * i) OVER w AS sxx,
           |      sum(CAST(y AS HUGEINT)) OVER w AS sy,
           |      sum(CAST(i AS HUGEINT) * y) OVER w AS sxy
           |    FROM idx
           |    WINDOW w AS (ORDER BY i ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
           |  WHERE n = 30),
           |mx AS (SELECT i AS max_day, slope_milli AS max_slope_milli FROM sl
           |       ORDER BY slope_milli DESC, i LIMIT 1),
           |mn AS (SELECT i AS min_day, slope_milli AS min_slope_milli FROM sl
           |       ORDER BY slope_milli, i LIMIT 1),
           |e AS (SELECT count(*) AS n_windows, max(i) AS last_day FROM sl)
           |SELECT CAST(n_windows AS BIGINT) AS n_windows,
           |  CAST(max_day AS BIGINT) AS max_day, max_slope_milli,
           |  CAST(min_day AS BIGINT) AS min_day, min_slope_milli
           |FROM e CROSS JOIN mx CROSS JOIN mn""".stripMargin))

  /** Turning-points randomness test on daily revenue — a day is a
    * turning point if it is a strict local max or min of its two
    * neighbors; under iid randomness E[T] = 2(n−2)/3 and Var[T] =
    * (16n−29)/90, so z = (T−E)/√Var is the classic quick screen beside
    * q_runs_test (which sees level shifts; this sees local wiggliness).
    * One lag + one lead over the ≤ #days calendar frame, exact integer
    * T, one mirrored closed form. */
  private def turningPointsDef = QueryDef(
    "q_turning_points",
    (s, d) => {
      val idx = dailyIdx(s, d)
      val w = Window.orderBy("i")
      val t = idx
        .withColumn("p", lag("y", 1).over(w))
        .withColumn("nx", lead("y", 1).over(w))
        .where(col("p").isNotNull && col("nx").isNotNull)
        .select(when((col("y") > col("p") && col("y") > col("nx")) ||
          (col("y") < col("p") && col("y") < col("nx")), 1L)
          .otherwise(0L).as("tp"))
      // coalesce: a < 3-day series leaves t empty and sum() NULL — the
      // zero-sentinel keeps every output column defined (z's denominator
      // is already safe at m = 0: √(3/90) > 0)
      t.agg(count(lit(1)).as("m"), coalesce(sum("tp"), lit(0L)).as("tt"))
        .select(expr("CAST(m + 2 AS BIGINT)").as("n_days"),
          col("tt").cast("long").as("turning_points"),
          expr("""CAST(round(1000.0 * (tt - 2.0*m/3)
                 |  / sqrt((16.0*(m+2) - 29) / 90)) AS BIGINT)""".stripMargin)
            .as("z_milli"))
    },
    Some(s"""WITH $dailyIdxSql,
           |t AS (SELECT CASE WHEN (y > p AND y > nx) OR (y < p AND y < nx)
           |      THEN 1 ELSE 0 END AS tp
           |  FROM (SELECT y, lag(y) OVER (ORDER BY i) AS p,
           |      lead(y) OVER (ORDER BY i) AS nx FROM idx)
           |  WHERE p IS NOT NULL AND nx IS NOT NULL),
           |a AS (SELECT count(*) AS m, coalesce(sum(tp), 0) AS tt FROM t)
           |SELECT CAST(m + 2 AS BIGINT) AS n_days,
           |  CAST(tt AS BIGINT) AS turning_points,
           |  CAST(round(1000.0 * (tt - 2.0*m/3)
           |    / sqrt((16.0*(m+2) - 29) / 90)) AS BIGINT) AS z_milli
           |FROM a""".stripMargin))

  /** Normalized spectral entropy of the daily count series over the
    * candidate periods 2..14 d — q_periodogram's scalar summary: a
    * series dominated by one cycle reads near 0, white noise reads
    * near 1. Powers re-derive from the same nano-quantized trig sums;
    * the 13-row probability normalization and the −Σp·ln p both run on
    * the period DOMAIN, with each period's p·ln p term nano-quantized
    * before the sum (house rule). */
  private def spectralEntropyDef = QueryDef(
    "q_spectral_entropy",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(datediff(col("ts").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(count(lit(1)).as("x"))
      val terms = daily
        .select(col("t"), col("x"), explode(sequence(lit(2L), lit(14L))).as("p"))
        .select(col("p"),
          expr("CAST(round(1e9 * x * cos(2 * pi() * t / p)) AS BIGINT)").as("tc"),
          expr("CAST(round(1e9 * x * sin(2 * pi() * t / p)) AS BIGINT)").as("tsn"))
      val pw = terms.groupBy("p")
        .agg(sum("tc").as("sc"), sum("tsn").as("ss"))
        .select(col("p"),
          expr("(sc/1e9)*(sc/1e9) + (ss/1e9)*(ss/1e9)").as("pw"))
      val tot = pw.agg(sum("pw").as("tp"), count(lit(1)).as("k"))
      pw.crossJoin(tot)
        .select(col("k"),
          expr("CAST(round(1e9 * (pw/tp) * ln(pw/tp)) AS BIGINT)").as("e_nano"))
        .groupBy("k").agg(sum("e_nano").as("se"))
        .select(col("k").cast("long").as("n_periods"),
          expr("CAST(round(-se/1e9 / ln(CAST(k AS DOUBLE)) * 1000000) AS BIGINT)")
            .as("spectral_entropy_micro"))
    },
    Some("""WITH daily AS (SELECT
           |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
           |    count(*) AS x FROM events GROUP BY 1),
           |terms AS (SELECT p.p,
           |    CAST(round(1e9 * x * cos(2 * pi() * t / p.p)) AS BIGINT) AS tc,
           |    CAST(round(1e9 * x * sin(2 * pi() * t / p.p)) AS BIGINT) AS tsn
           |  FROM daily CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS p) p),
           |pw AS (SELECT p, (sum(tc)/1e9)*(sum(tc)/1e9) + (sum(tsn)/1e9)*(sum(tsn)/1e9) AS pw
           |  FROM terms GROUP BY 1),
           |tot AS (SELECT sum(pw) AS tp, count(*) AS k FROM pw),
           |e AS (SELECT (SELECT k FROM tot) AS k,
           |    CAST(round(1e9 * (pw/(SELECT tp FROM tot))
           |      * ln(pw/(SELECT tp FROM tot))) AS BIGINT) AS e_nano
           |  FROM pw)
           |SELECT CAST(k AS BIGINT) AS n_periods,
           |  CAST(round(-sum(e_nano)/1e9 / ln(CAST(k AS DOUBLE)) * 1000000) AS BIGINT)
           |    AS spectral_entropy_micro
           |FROM e GROUP BY k""".stripMargin))

  /** KPSS level-stationarity statistic on the daily revenue series —
    * the COMPLEMENT of q_dickey_fuller's ADF (ADF's null is a unit
    * root; KPSS's null is stationarity — a series failing both is the
    * "neither" red flag): η = Σₜ Sₜ² / (n²·σ̂²) with Sₜ the partial
    * sums of the demeaned series and σ̂² the lag-0 long-run variance
    * (the classic short-form; the Newey–West lags are a bandwidth
    * choice, stated in-line). Demeaned terms stay exact integers (y·n −
    * Σy keeps everything integral), the partial sums ride the ≤ #days
    * calendar frame, and Σ Sₜ² widens through DECIMAL(38,0). */
  private def kpssDef = QueryDef(
    "q_kpss",
    (s, d) => {
      val idx = dailyIdx(s, d)
      val tot = idx.agg(count(lit(1)).as("n"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"))
      // scale the series by n so the demeaned value y·n − Σy is integral
      val st = idx.crossJoin(tot)
        .withColumn("dm", expr("CAST(y AS DECIMAL(38,0)) * n - sy"))
        .withColumn("s", sum("dm").over(Window.orderBy("i")
          .rowsBetween(Window.unboundedPreceding, 0)))
      st.agg(max("n").as("n"),
          sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("ss2"),
          sum(expr("CAST(dm AS DECIMAL(38,0)) * dm")).as("sd2"))
        .select(col("n").cast("long").as("n_days"),
          // η = Σ Sₜ²_true / (n · Σe²): dm = n·e and S = n·S_true, so the
          // n² scale factor cancels INSIDE ss2/sd2 (= ΣS_true²/Σe²) and
          // exactly ONE factor of n remains — ss2/(n·sd2). Dividing by n²
          // here would under-report η by a factor of n (the r12 bug).
          expr("""CAST(round(1000000 * CAST(ss2 AS DOUBLE)
                 |  / CAST(n AS DOUBLE) / CAST(sd2 AS DOUBLE))
                 |AS BIGINT)""".stripMargin).as("kpss_eta_micro"),
          // 5% critical value for level stationarity is 0.463
          expr("""CAST(CASE WHEN CAST(ss2 AS DOUBLE)
                 |  / CAST(n AS DOUBLE) / CAST(sd2 AS DOUBLE) > 0.463
                 |THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
            .as("reject_stationarity"))
    },
    Some(s"""WITH $dailyIdxSql,
           |tot AS (SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS sy FROM idx),
           |st AS (SELECT i, CAST(y AS HUGEINT) * n - sy AS dm,
           |    sum(CAST(y AS HUGEINT) * n - sy) OVER (ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           |  FROM idx CROSS JOIN tot),
           |a AS (SELECT (SELECT n FROM tot) AS n,
           |    sum(CAST(s AS HUGEINT) * s) AS ss2,
           |    sum(CAST(dm AS HUGEINT) * dm) AS sd2 FROM st)
           |SELECT CAST(n AS BIGINT) AS n_days,
           |  CAST(round(1000000 * CAST(ss2 AS DOUBLE)
           |    / CAST(n AS DOUBLE) / CAST(sd2 AS DOUBLE)) AS BIGINT)
           |    AS kpss_eta_micro,
           |  CAST(CASE WHEN CAST(ss2 AS DOUBLE)
           |    / CAST(n AS DOUBLE) / CAST(sd2 AS DOUBLE) > 0.463
           |  THEN 1 ELSE 0 END AS BIGINT) AS reject_stationarity
           |FROM a""".stripMargin))

  /** SAX motif discovery on the daily event-count series — discretize
    * each day into a 3-letter alphabet by count tertile (ties break on
    * the day index, so the letters are a deterministic function of the
    * series), slide a 5-day window via four leads, and report the
    * most frequent 5-letter words: recurring weekly SHAPES, the
    * time-series analogue of the n-gram profile. Every window rides the
    * ≤ #days calendar frame (q_changepoint convention); tertiles come
    * from the native ntile over the same bounded frame. */
  private def saxMotifsDef = QueryDef(
    "q_sax_motifs",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val lettered = daily.withColumn("t",
          ntile(3).over(Window.orderBy(col("c"), col("day"))))
        .withColumn("l", expr("CASE t WHEN 1 THEN 'a' WHEN 2 THEN 'b' ELSE 'c' END"))
      val wOrd = Window.orderBy("day")
      val words = lettered.select(col("day"),
          concat(col("l"), lead("l", 1).over(wOrd), lead("l", 2).over(wOrd),
            lead("l", 3).over(wOrd), lead("l", 4).over(wOrd)).as("word"))
        .where(col("word").isNotNull)
      words.groupBy("word").agg(count(lit(1)).as("n_windows"))
        .orderBy(col("n_windows").desc, col("word")).limit(5)
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS c
           |    FROM events GROUP BY 1),
           |lt AS (SELECT day,
           |    CASE ntile(3) OVER (ORDER BY c, day)
           |      WHEN 1 THEN 'a' WHEN 2 THEN 'b' ELSE 'c' END AS l
           |  FROM daily),
           |words AS (SELECT l
           |      || lead(l, 1) OVER (ORDER BY day)
           |      || lead(l, 2) OVER (ORDER BY day)
           |      || lead(l, 3) OVER (ORDER BY day)
           |      || lead(l, 4) OVER (ORDER BY day) AS word
           |  FROM lt)
           |SELECT word, count(*) AS n_windows FROM words
           |WHERE word IS NOT NULL
           |GROUP BY 1 ORDER BY n_windows DESC, word LIMIT 5""".stripMargin))

  /** One Bradley–Terry minorization–maximization step on pairwise
    * day-wins between event types — THE pairwise-preference model
    * (the likelihood a reward model fits over preference pairs): type a
    * "beats" b on every day it out-counts b, ties credit half a win,
    * and from the uniform initialization the MM update is the closed
    * form pᵢ ∝ Wᵢ / (Nᵢ/2) — exact integer milli wins over exact pair
    * exposures, normalized to micro strengths. The day×type grid
    * densifies with zeros (q_kendall_w convention) so every pair is
    * compared on every day; the pair fan-out is |types|² off the
    * ≤ #days calendar frame, never data-sized. */
  private def bradleyTerryDef = QueryDef(
    "q_bradley_terry",
    (s, d) => {
      val de = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val days = de.select("day").distinct()
      val types = de.select("event_type").distinct()
      val grid = days.crossJoin(broadcast(types))
        .join(de, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
      val pairs = grid.select(col("day"), col("event_type").as("a"), col("c").as("ca"))
        .join(grid.select(col("day"), col("event_type").as("b"), col("c").as("cb")),
          "day")
        .where(col("a") =!= col("b"))
        .groupBy("a")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ca") > col("cb"), 1000L)
            .when(col("ca") === col("cb"), 500L).otherwise(0L)).as("w_milli"))
      val tot = pairs.agg(
        sum(expr("(2000 * CAST(w_milli AS DECIMAL(38,0))) div n")).as("z"))
      pairs.crossJoin(tot)
        .select(col("a").as("event_type"),
          col("n").cast("long").as("n_comparisons"),
          col("w_milli").cast("long").as("wins_milli"),
          expr("""CAST((1000000 * ((2000 * CAST(w_milli AS DECIMAL(38,0))) div n))
                 |div z AS BIGINT)""".stripMargin).as("strength_micro"))
        .orderBy(col("strength_micro").desc, col("event_type"))
    },
    Some("""WITH de AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
           |    FROM events GROUP BY 1, 2),
           |days AS (SELECT DISTINCT day FROM de),
           |types AS (SELECT DISTINCT event_type FROM de),
           |grid AS (SELECT days.day, types.event_type, coalesce(de.c, 0) AS c
           |  FROM days CROSS JOIN types
           |  LEFT JOIN de ON de.day = days.day AND de.event_type = types.event_type),
           |pairs AS (SELECT ga.event_type AS a, count(*) AS n,
           |    sum(CASE WHEN ga.c > gb.c THEN 1000
           |             WHEN ga.c = gb.c THEN 500 ELSE 0 END) AS w_milli
           |  FROM grid ga JOIN grid gb
           |    ON gb.day = ga.day AND gb.event_type <> ga.event_type
           |  GROUP BY 1),
           |t AS (SELECT sum((2000 * CAST(w_milli AS HUGEINT)) // n) AS z FROM pairs)
           |SELECT a AS event_type, CAST(n AS BIGINT) AS n_comparisons,
           |  CAST(w_milli AS BIGINT) AS wins_milli,
           |  CAST((1000000 * ((2000 * CAST(w_milli AS HUGEINT)) // n)) // z AS BIGINT)
           |    AS strength_micro
           |FROM pairs CROSS JOIN t
           |ORDER BY strength_micro DESC, event_type""".stripMargin))

  /** Method-of-moments negative-binomial fit on per-user event counts —
    * the overdispersion diagnostic that decides whether per-user
    * activity is Poisson (σ² ≈ μ: one rate fits everyone) or NB
    * (σ² > μ: heterogeneous users, and r = μ²/(σ²−μ) says HOW
    * heterogeneous — the Gamma mixing shape behind BG/NBD-style CLV
    * models). One user-grouped count + one exact-moment aggregate; the
    * fit is a mirrored IEEE closed form over the exact sums, with the
    * σ² ≤ μ equidispersed case reported as r = 0 instead of a division
    * blow-up. */
  private def negbinFitDef = QueryDef(
    "q_negbin_fit",
    (s, d) => {
      Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(c AS DECIMAL(38,0))")).as("s1"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
        .select(col("n"), expr("CAST(s1 AS DOUBLE)/n").as("mu"),
          expr("""(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n)
                 |/ (n - 1)""".stripMargin).as("v"))
        .select(col("n").cast("long").as("n_users"),
          expr("CAST(round(1000 * mu) AS BIGINT)").as("mean_milli"),
          expr("CAST(round(1000 * v) AS BIGINT)").as("var_milli"),
          expr("CAST(round(1000000 * v / mu) AS BIGINT)").as("dispersion_micro"),
          expr("""CAST(CASE WHEN v <= mu THEN 0
                 |ELSE round(1000 * mu * mu / (v - mu)) END AS BIGINT)"""
            .stripMargin).as("nb_r_milli"),
          expr("""CAST(CASE WHEN v <= mu THEN 1000000
                 |ELSE round(1000000 * mu / v) END AS BIGINT)"""
            .stripMargin).as("nb_p_micro"))
    },
    Some("""WITH u AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
           |m AS (SELECT count(*) AS n, sum(CAST(c AS HUGEINT)) AS s1,
           |    sum(CAST(c AS HUGEINT) * c) AS s2 FROM u),
           |f AS (SELECT n, CAST(s1 AS DOUBLE)/n AS mu,
           |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n)
           |      / (n - 1) AS v FROM m)
           |SELECT CAST(n AS BIGINT) AS n_users,
           |  CAST(round(1000 * mu) AS BIGINT) AS mean_milli,
           |  CAST(round(1000 * v) AS BIGINT) AS var_milli,
           |  CAST(round(1000000 * v / mu) AS BIGINT) AS dispersion_micro,
           |  CAST(CASE WHEN v <= mu THEN 0
           |    ELSE round(1000 * mu * mu / (v - mu)) END AS BIGINT) AS nb_r_milli,
           |  CAST(CASE WHEN v <= mu THEN 1000000
           |    ELSE round(1000000 * mu / v) END AS BIGINT) AS nb_p_micro
           |FROM f""".stripMargin))

  /** One Huber IRLS step on the daily revenue-vs-day-index regression —
    * the robust-regression kernel beside q_ransac_fit's consensus form:
    * fit OLS, down-weight every day whose residual exceeds c·σ
    * (c = 1.345, the 95%-efficiency constant) by w = c·σ/|r|, refit
    * with the weighted moments. Weights micro-quantize per day BEFORE
    * the weighted sums (house rule; the |r| ≤ c·σ branch never divides,
    // so a perfect fit cannot 0/0); both fits close over exact 128-bit
    * moment sums of the ≤ #days calendar frame (q_durbin_watson
    * convention for the day indexing). */
  private def huberStepDef = QueryDef(
    "q_huber_step",
    (s, d) => {
      val idx = dailyIdx(s, d)
      val m = idx.agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(i AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(i AS DECIMAL(38,0))*i")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(i AS DECIMAL(38,0))*y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0))*y")).as("syy"))
        .select(col("n"),
          expr("""(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                 |/ (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)"""
            .stripMargin).as("b"),
          expr("CAST(sy AS DOUBLE)/n").as("my"),
          expr("CAST(sx AS DOUBLE)/n").as("mx"),
          expr("""sqrt((CAST(syy AS DOUBLE)
                 |  - (CAST(sy AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sxy)
                 |    / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sy
                 |  - (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                 |    / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sxy)
                 |  / (n - 2))""".stripMargin).as("sig"))
      val w = idx.crossJoin(m)
        .select(col("i"), col("y"), col("n"), col("b"), col("sig"),
          expr("abs(y - (my - b*mx) - b*i)").as("ar"))
        .select(col("i"), col("y"), col("n"), col("b"),
          expr("""CASE WHEN ar <= 1.345 * sig THEN 1000000
                 |ELSE CAST(round(1000000 * 1.345 * sig / ar) AS BIGINT) END"""
            .stripMargin).as("w"))
      w.agg(max("n").as("n"), max("b").as("b0"),
          sum(when(col("w") < 1000000L, 1L).otherwise(0L)).as("nd"),
          sum(expr("CAST(w AS DECIMAL(38,0))")).as("swn"),
          sum(expr("CAST(w AS DECIMAL(38,0))*i")).as("swx"),
          sum(expr("CAST(w AS DECIMAL(38,0))*i*i")).as("swxx"),
          sum(expr("CAST(w AS DECIMAL(38,0))*y")).as("swy"),
          sum(expr("CAST(w AS DECIMAL(38,0))*i*y")).as("swxy"))
        .select(col("n").cast("long").as("n_days"),
          col("nd").cast("long").as("n_downweighted"),
          expr("CAST(round(1000.0 * b0) AS BIGINT)").as("ols_slope_milli"),
          expr("""CAST(round(1000.0 *
                 |  (CAST(swn AS DOUBLE)*CAST(swxy AS DOUBLE)
                 |    - CAST(swx AS DOUBLE)*CAST(swy AS DOUBLE))
                 |  / (CAST(swn AS DOUBLE)*CAST(swxx AS DOUBLE)
                 |    - CAST(swx AS DOUBLE)*CAST(swx AS DOUBLE))) AS BIGINT)"""
            .stripMargin).as("huber_slope_milli"))
    },
    Some(s"""WITH $dailyIdxSql,
           |mm AS ($momSql FROM idx),
           |fit AS (SELECT n,
           |    (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
           |      / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) AS b,
           |    CAST(sy AS DOUBLE)/n AS my, CAST(sx AS DOUBLE)/n AS mx,
           |    sqrt($sseSql / (n - 2)) AS sig
           |  FROM mm),
           |w AS (SELECT i, y, fit.n, fit.b,
           |    CASE WHEN abs(y - (my - b*mx) - b*i) <= 1.345 * sig THEN 1000000
           |      ELSE CAST(round(1000000 * 1.345 * sig / abs(y - (my - b*mx) - b*i)) AS BIGINT)
           |    END AS w
           |  FROM idx CROSS JOIN fit),
           |a AS (SELECT max(n) AS n, max(b) AS b0,
           |    sum(CASE WHEN w < 1000000 THEN 1 ELSE 0 END) AS nd,
           |    sum(CAST(w AS HUGEINT)) AS swn, sum(CAST(w AS HUGEINT)*i) AS swx,
           |    sum(CAST(w AS HUGEINT)*i*i) AS swxx, sum(CAST(w AS HUGEINT)*y) AS swy,
           |    sum(CAST(w AS HUGEINT)*i*y) AS swxy
           |  FROM w)
           |SELECT CAST(n AS BIGINT) AS n_days, CAST(nd AS BIGINT) AS n_downweighted,
           |  CAST(round(1000.0 * b0) AS BIGINT) AS ols_slope_milli,
           |  CAST(round(1000.0 *
           |    (CAST(swn AS DOUBLE)*CAST(swxy AS DOUBLE)
           |      - CAST(swx AS DOUBLE)*CAST(swy AS DOUBLE))
           |    / (CAST(swn AS DOUBLE)*CAST(swxx AS DOUBLE)
           |      - CAST(swx AS DOUBLE)*CAST(swx AS DOUBLE))) AS BIGINT)
           |    AS huber_slope_milli
           |FROM a""".stripMargin))

  /** Bartlett's variance-homogeneity test across the five event types —
    * the higher-power companion to q_levene (Bartlett is exact under
    * normality where Brown–Forsythe trades power for robustness; a
    * pipeline runs both and trusts Levene when they disagree).
    * B = [(N−k)·ln s_p² − Σ(nᵢ−1)·ln sᵢ²] / C with the Bartlett
    * correction C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)). House rules:
    * group moments are exact 128-bit cents sums; each group's
    * (nᵢ−1)·ln sᵢ² and 1/(nᵢ−1) quantize to nano BEFORE the cross-group
    * sum; the statistic is one mirrored IEEE form over those exact
    * sums. Fixture value ⊥ type ⇒ B near 0: the honest null. */
  private def bartlettDef = QueryDef(
    "q_bartlett",
    (s, d) => {
      val g = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value*100) AS BIGINT)").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
        .select(col("n"),
          expr("""CAST(round(CAST(s2 AS DOUBLE)
                 |  - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) AS DECIMAL(38,0))"""
            .stripMargin).as("ssq"),
          expr("""CAST(round(1e9 * (n - 1) * ln((CAST(s2 AS DOUBLE)
                 |  - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) / (n - 1)))
                 |AS BIGINT)""".stripMargin).as("l_nano"),
          expr("CAST(round(1e9 / (n - 1)) AS BIGINT)").as("w_nano"))
      g.agg(count(lit(1)).as("k"), sum("n").as("nn"), sum("ssq").as("ss"),
          sum("l_nano").as("l"), sum("w_nano").as("w"))
        .select(col("k").cast("long").as("k"),
          col("nn").cast("long").as("n"),
          expr("""CAST(round(1000 *
                 |  ((nn - k) * ln(CAST(ss AS DOUBLE) / (CAST(nn AS DOUBLE) - k)) - l/1e9)
                 |  / (1 + (w/1e9 - 1.0/(CAST(nn AS DOUBLE) - k)) / (3.0*(k - 1))))
                 |AS BIGINT)""".stripMargin).as("b_stat_milli"))
    },
    Some("""WITH v AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c
           |    FROM events WHERE value IS NOT NULL),
           |g0 AS (SELECT event_type, count(*) AS n, sum(CAST(c AS HUGEINT)) AS s,
           |    sum(CAST(c AS HUGEINT)*c) AS s2 FROM v GROUP BY 1),
           |g AS (SELECT n,
           |    CAST(round(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) AS HUGEINT) AS ssq,
           |    CAST(round(1e9 * (n - 1) * ln((CAST(s2 AS DOUBLE)
           |      - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) / (n - 1))) AS BIGINT) AS l_nano,
           |    CAST(round(1e9 / (n - 1)) AS BIGINT) AS w_nano
           |  FROM g0),
           |a AS (SELECT count(*) AS k, sum(n) AS nn, sum(ssq) AS ss,
           |    sum(l_nano) AS l, sum(w_nano) AS w FROM g)
           |SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
           |  CAST(round(1000 *
           |    ((nn - k) * ln(CAST(ss AS DOUBLE) / (CAST(nn AS DOUBLE) - k)) - l/1e9)
           |    / (1 + (w/1e9 - 1.0/(CAST(nn AS DOUBLE) - k)) / (3.0*(k - 1)))) AS BIGINT)
           |    AS b_stat_milli
           |FROM a""".stripMargin))

  /** Two-sample Poisson rate-ratio with the standard log-scale Wald CI —
    * "are weekend event rates different from weekday rates": RR =
    * (c₁/days₁)/(c₀/days₀), CI = exp(ln RR ± z·√(1/c₁ + 1/c₀)), z =
    * 1.959964. Weekend classification uses epoch-day mod 7 (1970-01-01
    * was a Thursday ⇒ Saturday ≡ 2, Sunday ≡ 3), NOT the engines'
    * dayofweek numberings, which disagree — the arithmetic form is
    * engine-portable by construction. ONE conditional-count pass
    * (counts + distinct-day exposures); the CI is a single mirrored
    * IEEE form over the four exact integers. */
  private def rateRatioDef = QueryDef(
    "q_rate_ratio",
    (s, d) => {
      Tables.events(s, d)
        .select((datediff(col("ts").cast("date"),
          lit("1970-01-01").cast("date")) % 7).isin(2, 3).as("we"),
          col("ts").cast("date").as("day"))
        .agg(count(when(col("we"), 1)).as("c1"),
          count(when(!col("we"), 1)).as("c0"),
          countDistinct(when(col("we"), col("day"))).as("d1"),
          countDistinct(when(!col("we"), col("day"))).as("d0"))
        .select(col("c0").cast("long").as("weekday_events"),
          col("c1").cast("long").as("weekend_events"),
          col("d0").cast("long").as("weekday_days"),
          col("d1").cast("long").as("weekend_days"),
          expr("""CAST(round(1000.0 * (CAST(c1 AS DOUBLE)/d1)
                 |  / (CAST(c0 AS DOUBLE)/d0)) AS BIGINT)""".stripMargin)
            .as("rr_milli"),
          expr("""CAST(round(1000.0 * exp(ln((CAST(c1 AS DOUBLE)/d1) / (CAST(c0 AS DOUBLE)/d0))
                 |  - 1.959964 * sqrt(1.0/c1 + 1.0/c0))) AS BIGINT)""".stripMargin)
            .as("rr_lo_milli"),
          expr("""CAST(round(1000.0 * exp(ln((CAST(c1 AS DOUBLE)/d1) / (CAST(c0 AS DOUBLE)/d0))
                 |  + 1.959964 * sqrt(1.0/c1 + 1.0/c0))) AS BIGINT)""".stripMargin)
            .as("rr_hi_milli"))
    },
    Some("""WITH e AS (SELECT
           |    ((CAST(ts AS DATE) - DATE '1970-01-01') % 7) IN (2, 3) AS we,
           |    CAST(ts AS DATE) AS day FROM events),
           |a AS (SELECT count(*) FILTER (WHERE we) AS c1,
           |    count(*) FILTER (WHERE NOT we) AS c0,
           |    count(DISTINCT day) FILTER (WHERE we) AS d1,
           |    count(DISTINCT day) FILTER (WHERE NOT we) AS d0 FROM e)
           |SELECT CAST(c0 AS BIGINT) AS weekday_events,
           |  CAST(c1 AS BIGINT) AS weekend_events,
           |  CAST(d0 AS BIGINT) AS weekday_days, CAST(d1 AS BIGINT) AS weekend_days,
           |  CAST(round(1000.0 * (CAST(c1 AS DOUBLE)/d1) / (CAST(c0 AS DOUBLE)/d0)) AS BIGINT) AS rr_milli,
           |  CAST(round(1000.0 * exp(ln((CAST(c1 AS DOUBLE)/d1) / (CAST(c0 AS DOUBLE)/d0))
           |    - 1.959964 * sqrt(1.0/c1 + 1.0/c0))) AS BIGINT) AS rr_lo_milli,
           |  CAST(round(1000.0 * exp(ln((CAST(c1 AS DOUBLE)/d1) / (CAST(c0 AS DOUBLE)/d0))
           |    + 1.959964 * sqrt(1.0/c1 + 1.0/c0))) AS BIGINT) AS rr_hi_milli
           |FROM a""".stripMargin))

  /** Discrete periodogram of the daily event-count series at candidate
    * periods 2..14 days — the spectral view that NAMES the cycle length
    * where q_acf/q_seasonality_strength only score a pre-chosen one:
    * P(p) = (Σₜ xₜ·cos(2πt/p))² + (Σₜ xₜ·sin(2πt/p))² over absolute
    * epoch-day indices (a pure phase shift, which power is invariant
    * to). Per-(period, day) trig terms nano-quantize from the exact
    * integer counts BEFORE the sum (house rule — no unordered double
    * addition over the data axis); the 13-period grid rides one
    * broadcast explode over the ≤ #days calendar frame. */
  private def periodogramDef = QueryDef(
    "q_periodogram",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(datediff(col("ts").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("t"))
        .agg(count(lit(1)).as("x"))
      val terms = daily
        .select(col("t"), col("x"),
          explode(sequence(lit(2L), lit(14L))).as("p"))
        .select(col("p"),
          expr("CAST(round(1e9 * x * cos(2 * pi() * t / p)) AS BIGINT)").as("tc"),
          expr("CAST(round(1e9 * x * sin(2 * pi() * t / p)) AS BIGINT)").as("tsn"))
      terms.groupBy("p")
        .agg(sum("tc").as("sc"), sum("tsn").as("ss"))
        .select(col("p").cast("long").as("period_days"),
          expr("""CAST(round(((sc/1e9)*(sc/1e9) + (ss/1e9)*(ss/1e9)) / 1000.0)
                 |AS BIGINT)""".stripMargin).as("power_kilo"))
        .orderBy("period_days")
    },
    Some("""WITH daily AS (SELECT
           |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
           |    count(*) AS x FROM events GROUP BY 1),
           |terms AS (SELECT p.p,
           |    CAST(round(1e9 * x * cos(2 * pi() * t / p.p)) AS BIGINT) AS tc,
           |    CAST(round(1e9 * x * sin(2 * pi() * t / p.p)) AS BIGINT) AS tsn
           |  FROM daily CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS p) p),
           |agg AS (SELECT p, sum(tc) AS sc, sum(tsn) AS ss FROM terms GROUP BY 1)
           |SELECT CAST(p AS BIGINT) AS period_days,
           |  CAST(round(((sc/1e9)*(sc/1e9) + (ss/1e9)*(ss/1e9)) / 1000.0) AS BIGINT)
           |    AS power_kilo
           |FROM agg ORDER BY 1""".stripMargin))

  /** Kendall's coefficient of concordance W across the five event types
    * as judges ranking days by their daily volume — "do all event types
    * agree on which days are busy": W = 12·S / (m²·(n³−n)) with S the
    * sum of squared rank-sum deviations. The day×type grid densifies
    * with zero counts (a judge must rank EVERY item) and ranks break
    * ties deterministically on (count desc, day) so the rank table is a
    * permutation — S is then an exact integer and W one 128-bit ratio.
    * Rank windows partition by type over the ≤ #days calendar frame;
    * nothing is data-sized. Complements q_fleiss_kappa (categorical
    * agreement) and q_icc (continuous) with the RANK-agreement view. */
  private def kendallWDef = QueryDef(
    "q_kendall_w",
    (s, d) => {
      val de = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val days = de.select("day").distinct()
      val types = de.select("event_type").distinct()
      val grid = days.crossJoin(broadcast(types))
        .join(de, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          coalesce(col("c"), lit(0L)).as("c"))
      val ranked = grid.withColumn("r",
        row_number().over(Window.partitionBy("event_type")
          .orderBy(col("c").desc, col("day").asc)).cast("long"))
      val rs = ranked.groupBy("day").agg(sum("r").as("rsum"))
      val m = types.agg(count(lit(1)).as("m"))
      rs.agg(count(lit(1)).as("n"),
          sum(expr("CAST(rsum AS DECIMAL(38,0)) * rsum")).as("s2"),
          sum(expr("CAST(rsum AS DECIMAL(38,0))")).as("s1"))
        .crossJoin(m)
        .select(col("n").cast("long").as("n_days"),
          col("m").cast("long").as("m_judges"),
          expr("""CAST((12 * (s2 - s1 * s1 div n) * 1000000)
                 |  div (CAST(m AS DECIMAL(38,0)) * m * (CAST(n AS DECIMAL(38,0))*n*n - n))
                 |AS BIGINT)""".stripMargin).as("w_micro"))
    },
    Some("""WITH de AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
           |    FROM events GROUP BY 1, 2),
           |days AS (SELECT DISTINCT day FROM de),
           |types AS (SELECT DISTINCT event_type FROM de),
           |grid AS (SELECT days.day, types.event_type, coalesce(de.c, 0) AS c
           |  FROM days CROSS JOIN types
           |  LEFT JOIN de ON de.day = days.day AND de.event_type = types.event_type),
           |ranked AS (SELECT day, CAST(row_number() OVER (PARTITION BY event_type
           |    ORDER BY c DESC, day) AS BIGINT) AS r FROM grid),
           |rs AS (SELECT day, sum(r) AS rsum FROM ranked GROUP BY 1),
           |a AS (SELECT count(*) AS n, sum(CAST(rsum AS HUGEINT) * rsum) AS s2,
           |    sum(CAST(rsum AS HUGEINT)) AS s1 FROM rs),
           |m AS (SELECT count(*) AS m FROM types)
           |SELECT CAST(n AS BIGINT) AS n_days, CAST(m.m AS BIGINT) AS m_judges,
           |  CAST((12 * (s2 - s1 * s1 // n) * 1000000)
           |    // (CAST(m.m AS HUGEINT) * m.m * (CAST(n AS HUGEINT)*n*n - n)) AS BIGINT)
           |    AS w_micro
           |FROM a CROSS JOIN m""".stripMargin))

  /** Page–Hinkley drift monitor on the daily mean value: mₜ accumulates
    * (xᵢ − x̄ᵢ − δ) against the RUNNING mean (δ = 10 cents slack), and
    * PHₜ = mₜ − min_{s≤t} mₛ alarms past λ = 2 000 cents — the online
    * mean-shift detector that fires mid-stream where q_changepoint's
    * retrospective CUSUM localizes after the fact. Per-day terms
    * micro-quantize from exact (Σv, n) prefix sums before the second
    * running sum; every window rides the ≤ #days calendar frame
    * (q_changepoint convention). The stationary fixture reads at/near
    * the line: the honest null (the sf0.001 alarm is 30-sample noise,
    * which is itself the small-n lesson PH tuning teaches). */
  private def pageHinkleyDef = QueryDef(
    "q_page_hinkley",
    (s, d) => {
      val daily = Tables.events(s, d).where(col("value").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value*100) AS BIGINT)")).as("sv"),
          count(lit(1)).as("nv"))
      val idx = daily.select(
        row_number().over(Window.orderBy("d")).cast("long").as("i"),
        col("sv"), col("nv"))
      val wRun = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
      val term = idx
        .withColumn("cs", sum("sv").over(wRun))
        .withColumn("cn", sum("nv").over(wRun))
        .select(col("i"),
          expr("""CAST(round(1000000.0 * (CAST(sv AS DOUBLE)/nv
                 |  - CAST(cs AS DOUBLE)/cn - 10.0)) AS BIGINT)""".stripMargin)
            .as("t"))
      val ph = term.withColumn("mt", sum("t").over(wRun))
        .withColumn("ph", col("mt") - min("mt").over(wRun))
      val n = idx.agg(count(lit(1)).as("n_days"))
      ph.orderBy(col("ph").desc, col("i")).limit(1)
        .crossJoin(n)
        .select(col("n_days").cast("long").as("n_days"),
          col("i").cast("long").as("peak_day"),
          col("ph").cast("long").as("ph_max_micro"),
          when(col("ph") > 2000000000L, 1L).otherwise(0L).as("alarm"))
    },
    Some("""WITH daily AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           |    sum(CAST(round(value*100) AS BIGINT)) AS sv, count(*) AS nv
           |  FROM events WHERE value IS NOT NULL GROUP BY 1),
           |idx AS (SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, sv, nv FROM daily),
           |run AS (SELECT i, sv, nv,
           |    sum(sv) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
           |    sum(nv) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
           |  FROM idx),
           |term AS (SELECT i,
           |    CAST(round(1000000.0 * (CAST(sv AS DOUBLE)/nv - CAST(cs AS DOUBLE)/cn - 10.0)) AS BIGINT) AS t
           |  FROM run),
           |m AS (SELECT i, sum(t) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt FROM term),
           |ph AS (SELECT i, mt,
           |    mt - min(mt) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
           |  FROM m),
           |best AS (SELECT i AS peak_day, ph AS ph_max FROM ph ORDER BY ph DESC, i LIMIT 1)
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_days,
           |  CAST(peak_day AS BIGINT) AS peak_day,
           |  CAST(ph_max AS BIGINT) AS ph_max_micro,
           |  CAST(CASE WHEN ph_max > 2000000000 THEN 1 ELSE 0 END AS BIGINT) AS alarm
           |FROM best""".stripMargin))

  /** Kupiec proportion-of-failures VaR backtest: the P99 threshold is
    * trained on the first January half as an EXACT discrete order
    * statistic (the q_pinball_eval convention), then the second half's
    * violation count x is scored with the likelihood ratio
    * LR = −2[ln L(p₀) − ln L(x/n)] against p₀ = 1%. The x = 0 corner
    * (no violations) collapses to −2n·ln(0.99) in closed form — no
    * ln(0). The acceptance test for q_gumbel_fit's return level and any
    * production VaR/SLA threshold. */
  private def kupiecDef = QueryDef(
    "q_kupiec_pof",
    (s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(expr("CAST(round(value*100) AS BIGINT)").as("c"),
          when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
            0L).otherwise(1L).as("half"))
      val h = e.where(col("half") === 0).groupBy("c").agg(count(lit(1)).as("n"))
      val cum = h.withColumn("cm", sum("n").over(Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)))
      val tt = h.agg(sum("n").as("nt"))
      val q = cum.crossJoin(tt)
        .where(expr("cm >= (99 * nt + 99) div 100"))
        .agg(min("c").as("var99"))
      e.where(col("half") === 1).crossJoin(q)
        .agg(max("var99").as("var99"), count(lit(1)).as("n"),
          sum(when(col("c") > col("var99"), 1L).otherwise(0L)).as("x"))
        .select(col("var99").cast("long").as("var99_cents"),
          col("n").cast("long").as("n_test"),
          col("x").cast("long").as("violations"),
          expr("""CAST(round(1000.0 * (-2) * (CASE WHEN x = 0
                 |  THEN n * ln(0.99)
                 |  ELSE (n - x) * ln(0.99) + x * ln(0.01)
                 |    - ((n - x) * ln(1.0 - CAST(x AS DOUBLE)/n)
                 |       + x * ln(CAST(x AS DOUBLE)/n)) END)) AS BIGINT)"""
            .stripMargin).as("kupiec_lr_milli"))
    },
    Some("""WITH e AS (SELECT CAST(round(value*100) AS BIGINT) AS c,
           |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS half
           |  FROM events WHERE value IS NOT NULL),
           |h AS (SELECT c, count(*) AS n FROM e WHERE half = 0 GROUP BY 1),
           |cum AS (SELECT c, sum(n) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm FROM h),
           |tt AS (SELECT sum(n) AS nt FROM h),
           |q AS (SELECT min(c) AS var99 FROM cum CROSS JOIN tt WHERE cm >= (99 * nt + 99) // 100),
           |t AS (SELECT (SELECT var99 FROM q) AS var99, count(*) AS n,
           |    sum(CASE WHEN c > (SELECT var99 FROM q) THEN 1 ELSE 0 END) AS x
           |  FROM e WHERE half = 1)
           |SELECT CAST(var99 AS BIGINT) AS var99_cents,
           |  CAST(n AS BIGINT) AS n_test, CAST(x AS BIGINT) AS violations,
           |  CAST(round(1000.0 * (-2) * (CASE WHEN x = 0
           |    THEN n * ln(0.99)
           |    ELSE (n - x) * ln(0.99) + x * ln(0.01)
           |      - ((n - x) * ln(1.0 - CAST(x AS DOUBLE)/n)
           |         + x * ln(CAST(x AS DOUBLE)/n)) END)) AS BIGINT) AS kupiec_lr_milli
           |FROM t""".stripMargin))

  /** Gumbel extreme-value fit on daily maxima by the method of moments
    * (β = s·√6/π, μ = x̄ − γβ with the Euler–Mascheroni constant spelled
    * as the same literal in both engines), plus the 99% return level
    * μ − β·ln(−ln 0.99) — the EVT readout capacity planning sizes tail
    * risk on, where q_hill_tail reads the tail exponent. One daily-max
    * aggregate feeding exact 128-bit moments; the fit is one IEEE
    * closed form. */
  private def gumbelDef = QueryDef(
    "q_gumbel_fit",
    (s, d) => Tables.events(s, d).where(col("value").isNotNull)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(max(expr("CAST(round(value*100) AS BIGINT)")).as("mx"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(mx AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(mx AS DECIMAL(38,0))*mx")).as("s2"))
      .select(col("n"),
        expr("""sqrt((CAST(n AS DOUBLE)*s2 - CAST(s AS DOUBLE)*s)
               |  / (CAST(n AS DOUBLE)*(n-1))) * sqrt(6.0) / pi()"""
          .stripMargin).as("beta"),
        col("s"))
      .select(col("n"), col("beta"),
        expr("CAST(s AS DOUBLE)/n - 0.5772156649015329 * beta").as("mu"))
      .select(col("n").cast("long").as("n_days"),
        expr("CAST(round(mu) AS BIGINT)").as("mu_cents"),
        expr("CAST(round(beta) AS BIGINT)").as("beta_cents"),
        expr("CAST(round(mu - beta * ln(-ln(0.99))) AS BIGINT)")
          .as("p99_return_cents")),
    Some("""WITH dm AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           |    max(CAST(round(value*100) AS BIGINT)) AS mx
           |  FROM events WHERE value IS NOT NULL GROUP BY 1),
           |m AS (SELECT count(*) AS n, sum(CAST(mx AS HUGEINT)) AS s,
           |    sum(CAST(mx AS HUGEINT)*mx) AS s2 FROM dm),
           |b AS (SELECT n, s,
           |    sqrt((CAST(n AS DOUBLE)*s2 - CAST(s AS DOUBLE)*s)
           |      / (CAST(n AS DOUBLE)*(n-1))) * sqrt(6.0) / pi() AS beta FROM m),
           |f AS (SELECT n, beta,
           |    CAST(s AS DOUBLE)/n - 0.5772156649015329 * beta AS mu FROM b)
           |SELECT CAST(n AS BIGINT) AS n_days,
           |  CAST(round(mu) AS BIGINT) AS mu_cents,
           |  CAST(round(beta) AS BIGINT) AS beta_cents,
           |  CAST(round(mu - beta * ln(-ln(0.99))) AS BIGINT) AS p99_return_cents
           |FROM f""".stripMargin))

  /** Daily purchase revenue with a calendar-ordered day index — the
    * shared regression frame of the residual-diagnostics suite
    * (q_durbin_watson / q_chow_test / q_cooks_distance /
    * q_breusch_pagan). */
  private def dailyIdx(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).where(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(sum(expr("CAST(round(value*100) AS BIGINT)")).as("y"))
      .select(col("y"),
        row_number().over(Window.orderBy("d")).cast("long").as("i"))

  private def dailyIdxSql: String =
    """daily AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
      |    sum(CAST(round(value*100) AS BIGINT)) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |idx AS (SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM daily)"""
      .stripMargin

  private def momSql: String =
    """SELECT count(*) AS n, sum(CAST(i AS HUGEINT)) AS sx,
      |    sum(CAST(i AS HUGEINT)*i) AS sxx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(i AS HUGEINT)*y) AS sxy, sum(CAST(y AS HUGEINT)*y) AS syy"""
      .stripMargin

  private def sseSql: String =
    """(CAST(syy AS DOUBLE)
      |  - (CAST(sy AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sxy)
      |    / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sy
      |  - (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
      |    / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sxy)""".stripMargin
}
