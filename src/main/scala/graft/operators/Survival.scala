package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival analysis over time-to-first-purchase — the censoring-aware
  * companions to [[Behavioral]]'s q_survival_km (Kaplan–Meier curve):
  * the Nelson–Aalen cumulative hazard, the two-group log-rank test, and
  * the restricted mean survival time. Same observation model throughout:
  * each user contributes ONE (duration, event) pair — hours from first
  * activity to first purchase, right-censored at the last observed event
  * for users who never convert (cf. the reference's status/validity
  * derivations, `src/trv/load_sqlite.py:43-103`, which this family
  * generalizes from point-in-time state to time-to-event).
  *
  * Scale posture: the per-user reduction is ONE map-combined groupBy on
  * user_id; everything after runs on the distinct-event-time table,
  * which is hour-grain and therefore CALENDAR-bounded (≤ #hours in the
  * observation window, never row-scaled) — the q_survival_km /
  * q_cume_distinct boundedness argument. Running sums over that table
  * visit rows in the same t-order in both engines, so the doubles they
  * produce are bit-identical before the single micro/nano rounding.
  */
object Survival {

  /** Per-user (t hours, death flag) observations; hour-truncate BEFORE
    * differencing so Spark's full-elapsed-hours timestampdiff and
    * DuckDB's boundary-crossing date_diff coincide (the q_islands
    * second-truncation convention, cf. q_survival_km). */
  private def observations(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy("user_id").agg(
        min(date_trunc("hour", col("ts"))).as("first_ts"),
        max(date_trunc("hour", col("ts"))).as("last_ts"),
        min(when(col("event_type") === "purchase",
          date_trunc("hour", col("ts")))).as("first_p"))
      .select(col("user_id"),
        when(col("first_p").isNotNull,
          expr("timestampdiff(HOUR, first_ts, first_p)"))
          .otherwise(expr("timestampdiff(HOUR, first_ts, last_ts)")).as("t"),
        when(col("first_p").isNotNull, 1L).otherwise(0L).as("death"))

  private val obsSql =
    """u AS (SELECT user_id,
      |    min(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS first_ts,
      |    max(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS last_ts,
      |    min(CASE WHEN event_type='purchase'
      |        THEN date_trunc('hour', CAST(ts AS TIMESTAMP)) END) AS first_p
      |  FROM events GROUP BY 1),
      |obs AS (SELECT user_id,
      |    CASE WHEN first_p IS NOT NULL THEN date_diff('hour', first_ts, first_p)
      |         ELSE date_diff('hour', first_ts, last_ts) END AS t,
      |    CASE WHEN first_p IS NOT NULL THEN 1 ELSE 0 END AS death FROM u)"""
      .stripMargin

  /** (t, d deaths, ev events-leaving, cumbef left-before) over distinct
    * event times — the shared at-risk bookkeeping. */
  private def riskTable(obs: DataFrame): DataFrame = {
    val byt = obs.groupBy("t")
      .agg(sum("death").as("d"), count(lit(1)).as("ev"))
    byt.withColumn("cumbef",
      coalesce(sum("ev").over(Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  val defs: Seq[QueryDef] = Seq(

    // Nelson–Aalen cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with its
    // variance Σ dᵢ/nᵢ² — the estimator whose slope reads out the raw
    // conversion hazard (KM's S(t) ≈ exp(−H(t)) is the integrated view).
    // Each term comes from exact integer (d, n_at_risk) pairs; the
    // running sum visits them in t-order in both engines, so the double
    // is bit-identical before the one micro/nano rounding.
    QueryDef(
      "q_nelson_aalen",
      (s, d) => {
        val obs = observations(s, d)
        val tot = obs.agg(count(lit(1)).as("n"))
        val w = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, 0)
        riskTable(obs).crossJoin(tot)
          .withColumn("n_risk", col("n") - col("cumbef"))
          .withColumn("h_micro",
            expr("""CAST(round(sum(CAST(d AS DOUBLE) / (n - cumbef))
                   |  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   |  * 1000000) AS BIGINT)""".stripMargin))
          .withColumn("var_nano",
            expr("""CAST(round(sum(CAST(d AS DOUBLE)
                   |    / (CAST(n - cumbef AS DOUBLE) * (n - cumbef)))
                   |  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   |  * 1000000000) AS BIGINT)""".stripMargin))
          .where(col("d") > 0)
          .select(col("t").cast("long").as("hours"), col("d").as("deaths"),
            col("n_risk").cast("long").as("n_at_risk"),
            col("h_micro"), col("var_nano"))
          .orderBy("hours").limit(25)
      },
      Some(s"""WITH $obsSql,
             |tot AS (SELECT count(*) AS n FROM obs),
             |byt AS (SELECT t, sum(death) AS d, count(*) AS ev FROM obs GROUP BY 1),
             |run AS (SELECT t, d, ev,
             |    coalesce(sum(ev) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0) AS cumbef
             |  FROM byt),
             |na AS (SELECT t, d, n - cumbef AS n_risk,
             |    CAST(round(sum(CAST(d AS DOUBLE)/(n - cumbef))
             |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000) AS BIGINT) AS h_micro,
             |    CAST(round(sum(CAST(d AS DOUBLE)/(CAST(n - cumbef AS DOUBLE)*(n - cumbef)))
             |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000000) AS BIGINT) AS var_nano
             |  FROM run CROSS JOIN tot)
             |SELECT CAST(t AS BIGINT) AS hours, CAST(d AS BIGINT) AS deaths,
             |  CAST(n_risk AS BIGINT) AS n_at_risk, h_micro, var_nano
             |FROM na WHERE d > 0 ORDER BY hours LIMIT 25""".stripMargin)),

    // two-group log-rank test: does conversion time differ between the
    // even/odd user_id cohorts (the deterministic A/B split)? At each
    // pooled event time the observed group-0 deaths are compared to the
    // hypergeometric expectation d·n₁/n; the χ² statistic is
    // (O−E)²/V. Every at-risk window is PARTITIONED by group (never a
    // data-sized global window); per-time expectation/variance terms
    // round once to micro and integer-sum, so no float-summation-order
    // hazard exists in either engine. The time grid is hour-grain ⇒
    // calendar-bounded, so the grid × group cross join is tiny at any
    // corpus size.
    QueryDef(
      "q_logrank",
      (s, d) => {
        val obsg = observations(s, d)
          .select(col("t"), col("death"), (col("user_id") % 2).as("grp"))
        val gt = obsg.groupBy("grp").agg(count(lit(1)).as("ng"))
        val byt = obsg.groupBy("t", "grp")
          .agg(sum("death").as("d"), count(lit(1)).as("ev"))
        val grid = byt.select("t").distinct()
        val groups = obsg.select("grp").distinct()
        val bygrid = grid.crossJoin(broadcast(groups))
          .join(byt, Seq("t", "grp"), "left")
          .select(col("t"), col("grp"),
            coalesce(col("d"), lit(0L)).as("d"),
            coalesce(col("ev"), lit(0L)).as("ev"))
        val risk = bygrid.join(broadcast(gt), "grp")
          .withColumn("nr", col("ng") - coalesce(
            sum("ev").over(Window.partitionBy("grp").orderBy("t")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val wide = risk.groupBy("t").agg(
          sum(when(col("grp") === 0, col("d")).otherwise(0L)).as("d1"),
          sum(when(col("grp") === 1, col("d")).otherwise(0L)).as("d2"),
          sum(when(col("grp") === 0, col("nr")).otherwise(0L)).as("n1"),
          sum(when(col("grp") === 1, col("nr")).otherwise(0L)).as("n2"))
        val terms = wide
          .select(col("d1"), (col("d1") + col("d2")).as("dt"),
            col("n1"), col("n2"), (col("n1") + col("n2")).as("nt"))
          .where(col("dt") > 0 && col("nt") > 1)
        terms.agg(
            sum("d1").as("o1"),
            sum(expr("CAST(round(1000000.0 * dt * n1 / nt) AS BIGINT)"))
              .as("e1_micro"),
            sum(expr("""CAST(round(1000000.0 * dt * (CAST(n1 AS DOUBLE) / nt)
                       |  * (CAST(n2 AS DOUBLE) / nt) * (nt - dt) / (nt - 1))
                       |  AS BIGINT)""".stripMargin)).as("v_micro"))
          .select(col("o1").cast("long").as("obs_g0"),
            col("e1_micro").cast("long").as("exp_g0_micro"),
            col("v_micro").cast("long").as("var_micro"),
            expr("""CAST(round(CAST(1000000 * o1 - e1_micro AS DOUBLE)
                   |  * (1000000 * o1 - e1_micro) / (1000.0 * v_micro))
                   |  AS BIGINT)""".stripMargin).as("chi2_milli"))
      },
      Some(s"""WITH $obsSql,
             |obsg AS (SELECT t, death, user_id % 2 AS grp FROM obs),
             |gt AS (SELECT grp, count(*) AS ng FROM obsg GROUP BY 1),
             |byt AS (SELECT t, grp, sum(death) AS d, count(*) AS ev FROM obsg GROUP BY 1, 2),
             |grid AS (SELECT DISTINCT t FROM byt),
             |bygrid AS (SELECT g.t, gr.grp, coalesce(b.d, 0) AS d, coalesce(b.ev, 0) AS ev
             |  FROM grid g CROSS JOIN (SELECT DISTINCT grp FROM obsg) gr
             |  LEFT JOIN byt b ON b.t = g.t AND b.grp = gr.grp),
             |risk AS (SELECT t, grp, d,
             |    ng - coalesce(sum(ev) OVER (PARTITION BY grp ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr
             |  FROM bygrid JOIN gt USING (grp)),
             |wide AS (SELECT t,
             |    sum(CASE WHEN grp = 0 THEN d ELSE 0 END) AS d1,
             |    sum(CASE WHEN grp = 1 THEN d ELSE 0 END) AS d2,
             |    sum(CASE WHEN grp = 0 THEN nr ELSE 0 END) AS n1,
             |    sum(CASE WHEN grp = 1 THEN nr ELSE 0 END) AS n2
             |  FROM risk GROUP BY 1),
             |terms AS (SELECT d1, d1 + d2 AS dt, n1, n2, n1 + n2 AS nt FROM wide
             |  WHERE d1 + d2 > 0 AND n1 + n2 > 1),
             |q AS (SELECT sum(d1) AS o1,
             |    sum(CAST(round(1000000.0 * dt * n1 / nt) AS BIGINT)) AS e1_micro,
             |    sum(CAST(round(1000000.0 * dt * (CAST(n1 AS DOUBLE) / nt)
             |      * (CAST(n2 AS DOUBLE) / nt) * (nt - dt) / (nt - 1)) AS BIGINT)) AS v_micro
             |  FROM terms)
             |SELECT CAST(o1 AS BIGINT) AS obs_g0, CAST(e1_micro AS BIGINT) AS exp_g0_micro,
             |  CAST(v_micro AS BIGINT) AS var_micro,
             |  CAST(round(CAST(1000000 * o1 - e1_micro AS DOUBLE)
             |    * (1000000 * o1 - e1_micro) / (1000.0 * v_micro)) AS BIGINT) AS chi2_milli
             |FROM q""".stripMargin)),

    // restricted mean survival time at τ = 168 h (one week): the area
    // under the KM curve up to τ — "expected conversion-free hours in
    // the first week", the single-number summary regulators prefer to
    // hazard ratios. The KM step values are the q_survival_km integers
    // (micro-rounded once), so every interval term s_micro · gap is
    // EXACT integer arithmetic and the final sum needs no float order
    // argument at all.
    QueryDef(
      "q_rmst",
      (s, d) => {
        val tau = 168L
        val obs = observations(s, d)
        val tot = obs.agg(count(lit(1)).as("n"))
        val km = riskTable(obs).crossJoin(tot)
          .withColumn("n_risk", col("n") - col("cumbef"))
          .withColumn("s_micro",
            when(col("d") === col("n_risk"), 0L).otherwise(
              expr("""CAST(round(exp(sum(CASE WHEN d < n - cumbef
                     |  THEN ln(1.0 - CAST(d AS DOUBLE) / (n - cumbef)) ELSE 0.0 END)
                     |  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                     |  * 1000000) AS BIGINT)""".stripMargin)))
          .where(col("d") > 0)
          .select("t", "s_micro")
        val head = km.agg(min("t").as("t1"))
          .select(coalesce(least(col("t1"), lit(tau)) * 1000000L,
            lit(tau * 1000000L)).as("head"))
        val body = km
          .withColumn("tn", lead("t", 1).over(Window.orderBy("t")))
          .where(col("t") < tau)
          .agg(coalesce(sum(col("s_micro") *
            (least(coalesce(col("tn"), lit(tau)), lit(tau)) - col("t"))),
            lit(0L)).as("body"))
        val n = obs.agg(count(lit(1)).cast("long").as("n_users"))
        head.crossJoin(body).crossJoin(n)
          .select(lit(tau).cast("long").as("tau_hours"), col("n_users"),
            (col("head") + col("body")).cast("long").as("rmst_micro_hours"))
      },
      Some(s"""WITH $obsSql,
             |tot AS (SELECT count(*) AS n FROM obs),
             |byt AS (SELECT t, sum(death) AS d, count(*) AS ev FROM obs GROUP BY 1),
             |run AS (SELECT t, d, ev,
             |    coalesce(sum(ev) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0) AS cumbef
             |  FROM byt),
             |km AS (SELECT t, d, n - cumbef AS n_risk,
             |    CASE WHEN d = n - cumbef THEN 0 ELSE
             |      CAST(round(exp(sum(CASE WHEN d < n - cumbef
             |          THEN ln(1.0 - CAST(d AS DOUBLE)/(n - cumbef)) ELSE 0.0 END)
             |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000000) AS BIGINT)
             |    END AS s_micro
             |  FROM run CROSS JOIN tot WHERE d > 0),
             |seg AS (SELECT t, s_micro, lead(t) OVER (ORDER BY t) AS tn FROM km),
             |head AS (SELECT coalesce((SELECT 1000000 * least(min(t), 168) FROM km),
             |    168000000) AS head),
             |body AS (SELECT coalesce(sum(s_micro * (least(coalesce(tn, 168), 168) - t)), 0) AS body
             |  FROM seg WHERE t < 168)
             |SELECT CAST(168 AS BIGINT) AS tau_hours,
             |  (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_users,
             |  CAST(head + body AS BIGINT) AS rmst_micro_hours
             |FROM head CROSS JOIN body""".stripMargin)),

    // Kaplan–Meier curve with 95% Greenwood confidence bands on the
    // log(−log S) scale — the transform that keeps the band inside
    // [0, 1] and behaves near S → 1 where the plain Greenwood band
    // escapes. Both the ln S running sum and the Greenwood variance sum
    // Σ d/(n(n−d)) ride the same t-ordered calendar-bounded window as
    // q_survival_km, so the doubles are bit-identical before the one
    // micro rounding; the exponent sign flips with ln S < 0, so the
    // bounds are named by least/greatest rather than by formula side.
    QueryDef(
      "q_km_ci",
      (s, d) => {
        val obs = observations(s, d)
        val tot = obs.agg(count(lit(1)).as("n"))
        riskTable(obs).crossJoin(tot)
          .withColumn("n_risk", col("n") - col("cumbef"))
          .withColumn("lns",
            expr("""sum(CASE WHEN d < n - cumbef
                   |  THEN ln(1.0 - CAST(d AS DOUBLE) / (n - cumbef)) ELSE 0.0 END)
                   |  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
              .stripMargin))
          .withColumn("gw",
            expr("""sum(CASE WHEN d < n - cumbef
                   |  THEN CAST(d AS DOUBLE) / ((n - cumbef) * (CAST(n AS DOUBLE) - cumbef - d))
                   |  ELSE 0.0 END)
                   |  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
              .stripMargin))
          .where(col("d") > 0)
          .select(col("t").cast("long").as("hours"),
            when(col("d") === col("n_risk"), 0L)
              .otherwise(expr("CAST(round(exp(lns) * 1000000) AS BIGINT)"))
              .as("s_micro"),
            when(col("d") === col("n_risk"), 0L).otherwise(expr(
              """CAST(round(least(exp(lns * exp(1.959964 * sqrt(gw) / lns)),
                |  exp(lns * exp(-1.959964 * sqrt(gw) / lns))) * 1000000) AS BIGINT)"""
                .stripMargin)).as("lo_micro"),
            when(col("d") === col("n_risk"), 0L).otherwise(expr(
              """CAST(round(greatest(exp(lns * exp(1.959964 * sqrt(gw) / lns)),
                |  exp(lns * exp(-1.959964 * sqrt(gw) / lns))) * 1000000) AS BIGINT)"""
                .stripMargin)).as("hi_micro"))
          .orderBy("hours").limit(25)
      },
      Some(s"""WITH $obsSql,
             |tot AS (SELECT count(*) AS n FROM obs),
             |byt AS (SELECT t, sum(death) AS d, count(*) AS ev FROM obs GROUP BY 1),
             |run AS (SELECT t, d, ev,
             |    coalesce(sum(ev) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0) AS cumbef
             |  FROM byt),
             |km AS (SELECT t, d, n - cumbef AS n_risk,
             |    sum(CASE WHEN d < n - cumbef THEN ln(1.0 - CAST(d AS DOUBLE)/(n - cumbef)) ELSE 0.0 END)
             |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lns,
             |    sum(CASE WHEN d < n - cumbef
             |        THEN CAST(d AS DOUBLE) / ((n - cumbef) * (CAST(n AS DOUBLE) - cumbef - d)) ELSE 0.0 END)
             |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gw
             |  FROM run CROSS JOIN tot)
             |SELECT CAST(t AS BIGINT) AS hours,
             |  CASE WHEN d = n_risk THEN 0
             |    ELSE CAST(round(exp(lns) * 1000000) AS BIGINT) END AS s_micro,
             |  CASE WHEN d = n_risk THEN 0
             |    ELSE CAST(round(least(exp(lns * exp(1.959964 * sqrt(gw) / lns)),
             |      exp(lns * exp(-1.959964 * sqrt(gw) / lns))) * 1000000) AS BIGINT) END AS lo_micro,
             |  CASE WHEN d = n_risk THEN 0
             |    ELSE CAST(round(greatest(exp(lns * exp(1.959964 * sqrt(gw) / lns)),
             |      exp(lns * exp(-1.959964 * sqrt(gw) / lns))) * 1000000) AS BIGINT) END AS hi_micro
             |FROM km WHERE d > 0 ORDER BY hours LIMIT 25""".stripMargin)),

    // exponential (constant-hazard) AFT fit per A/B cohort: λ̂ = deaths /
    // person-hours, hazard ratio λ₁/λ₀ with the standard log-scale CI
    // exp(ln HR ± z√(1/d₀ + 1/d₁)) — the parametric one-number
    // companion to q_logrank's nonparametric test (same even/odd
    // split). One grouped aggregate; person-time sums are exact
    // integers; HR and its band are single mirrored IEEE expressions.
    QueryDef(
      "q_hazard_ratio",
      (s, d) => {
        val g = observations(s, d)
          .groupBy((col("user_id") % 2).as("grp"))
          .agg(sum("death").as("d"), sum("t").as("pt"))
        g.agg(
            max(when(col("grp") === 0, col("d"))).as("d0"),
            max(when(col("grp") === 0, col("pt"))).as("t0"),
            max(when(col("grp") === 1, col("d"))).as("d1"),
            max(when(col("grp") === 1, col("pt"))).as("t1"))
          .select(col("d0").cast("long").as("deaths_g0"),
            col("t0").cast("long").as("hours_g0"),
            col("d1").cast("long").as("deaths_g1"),
            col("t1").cast("long").as("hours_g1"),
            expr("CAST(round(1000.0 * (CAST(d1 AS DOUBLE) / t1) / (CAST(d0 AS DOUBLE) / t0)) AS BIGINT)")
              .as("hr_milli"),
            expr("""CAST(round(1000.0 * exp(ln((CAST(d1 AS DOUBLE) / t1) / (CAST(d0 AS DOUBLE) / t0))
                   |  - 1.959964 * sqrt(1.0/d0 + 1.0/d1))) AS BIGINT)""".stripMargin)
              .as("hr_lo_milli"),
            expr("""CAST(round(1000.0 * exp(ln((CAST(d1 AS DOUBLE) / t1) / (CAST(d0 AS DOUBLE) / t0))
                   |  + 1.959964 * sqrt(1.0/d0 + 1.0/d1))) AS BIGINT)""".stripMargin)
              .as("hr_hi_milli"))
      },
      Some(s"""WITH $obsSql,
             |g AS (SELECT user_id % 2 AS grp, sum(death) AS d, sum(t) AS pt FROM obs GROUP BY 1),
             |w AS (SELECT
             |    max(CASE WHEN grp = 0 THEN d END) AS d0, max(CASE WHEN grp = 0 THEN pt END) AS t0,
             |    max(CASE WHEN grp = 1 THEN d END) AS d1, max(CASE WHEN grp = 1 THEN pt END) AS t1
             |  FROM g)
             |SELECT CAST(d0 AS BIGINT) AS deaths_g0, CAST(t0 AS BIGINT) AS hours_g0,
             |  CAST(d1 AS BIGINT) AS deaths_g1, CAST(t1 AS BIGINT) AS hours_g1,
             |  CAST(round(1000.0 * (CAST(d1 AS DOUBLE) / t1) / (CAST(d0 AS DOUBLE) / t0)) AS BIGINT) AS hr_milli,
             |  CAST(round(1000.0 * exp(ln((CAST(d1 AS DOUBLE) / t1) / (CAST(d0 AS DOUBLE) / t0))
             |    - 1.959964 * sqrt(1.0/d0 + 1.0/d1))) AS BIGINT) AS hr_lo_milli,
             |  CAST(round(1000.0 * exp(ln((CAST(d1 AS DOUBLE) / t1) / (CAST(d0 AS DOUBLE) / t0))
             |    + 1.959964 * sqrt(1.0/d0 + 1.0/d1))) AS BIGINT) AS hr_hi_milli
             |FROM w""".stripMargin)),

    // Kaplan–Meier survival curve for time-to-first-purchase (hour
    // grain), RIGHT-CENSORED at each non-converting user's last
    // observation — the estimator that answers "how long until users
    // convert" without the bias of dropping the ones who haven't yet.
    // S(t) = Π(1 − d/n) evaluated as exp of a running Σln over DISTINCT
    // event times (calendar-bounded table; the ln terms come from exact
    // integer (d, n_at_risk) pairs and the running sum visits them in
    // the same order in both engines, so the doubles are bit-identical).
    // The terminal step where everyone remaining converts is S = 0
    // exactly (guarded — no ln(0)). One user-keyed aggregate feeds the
    // whole curve.
    QueryDef(
      "q_survival_km",
      (s, d) => {
        // hour-truncate BEFORE differencing: Spark's timestampdiff counts
        // full elapsed hours, DuckDB's date_diff counts hour-boundary
        // crossings — on truncated stamps the two definitions coincide
        // (the q_islands second-truncation convention)
        val ev = Tables.events(s, d)
        val u = ev.groupBy("user_id").agg(
          min(date_trunc("hour", col("ts"))).as("first_ts"),
          max(date_trunc("hour", col("ts"))).as("last_ts"),
          min(when(col("event_type") === "purchase",
            date_trunc("hour", col("ts")))).as("first_p"))
        val obs = u.select(
          when(col("first_p").isNotNull,
            expr("timestampdiff(HOUR, first_ts, first_p)"))
            .otherwise(expr("timestampdiff(HOUR, first_ts, last_ts)")).as("t"),
          when(col("first_p").isNotNull, 1L).otherwise(0L).as("death"))
        val tot = obs.agg(count(lit(1)).as("n"))
        val byt = obs.groupBy("t")
          .agg(sum("death").as("d"), count(lit(1)).as("ev"))
        val w = Window.orderBy("t")
        val run = byt.withColumn("cumbef",
          coalesce(sum("ev").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        run.crossJoin(tot)
          .withColumn("n_risk", col("n") - col("cumbef"))
          .withColumn("s_micro",
            when(col("d") === col("n_risk"), 0L).otherwise(
              expr("""CAST(round(exp(sum(CASE WHEN d < n - cumbef
                     |  THEN ln(1.0 - CAST(d AS DOUBLE) / (n - cumbef)) ELSE 0.0 END)
                     |  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                     |  * 1000000) AS BIGINT)""".stripMargin)))
          .where(col("d") > 0)
          .select(col("t").as("hours"), col("d").as("deaths"),
            col("n_risk").as("n_at_risk"), col("s_micro"))
          .orderBy("hours").limit(25)
      },
      Some("""WITH u AS (SELECT user_id,
             |    min(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS first_ts,
             |    max(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS last_ts,
             |    min(CASE WHEN event_type='purchase'
             |        THEN date_trunc('hour', CAST(ts AS TIMESTAMP)) END) AS first_p
             |  FROM events GROUP BY 1),
             |obs AS (SELECT user_id,
             |    CASE WHEN first_p IS NOT NULL
             |      THEN date_diff('hour', first_ts, first_p)
             |      ELSE date_diff('hour', first_ts, last_ts) END AS t,
             |    CASE WHEN first_p IS NOT NULL THEN 1 ELSE 0 END AS death
             |  FROM u),
             |tot AS (SELECT count(*) AS n FROM obs),
             |byt AS (SELECT t, sum(death) AS d, count(*) AS ev FROM obs GROUP BY 1),
             |run AS (SELECT t, d, ev,
             |    coalesce(sum(ev) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumbef
             |  FROM byt),
             |km AS (SELECT t, d, n - cumbef AS n_risk,
             |    CASE WHEN d = n - cumbef THEN 0 ELSE
             |      CAST(round(exp(sum(CASE WHEN d < n - cumbef
             |          THEN ln(1.0 - CAST(d AS DOUBLE)/(n - cumbef)) ELSE 0.0 END)
             |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000000) AS BIGINT)
             |    END AS s_micro
             |  FROM run CROSS JOIN tot WHERE d > 0)
             |SELECT t AS hours, CAST(d AS BIGINT) AS deaths,
             |  CAST(n_risk AS BIGINT) AS n_at_risk, s_micro
             |FROM km ORDER BY t LIMIT 25""".stripMargin)),


    // Weibull reliability fit — shape k and scale λ of the inter-purchase
    // gap distribution by median-rank regression: ln(−ln(1−F)) on ln t over
    // the ≤ ~42 log2 gap buckets (the q_dwell_histogram binning), closed-
    // form OLS. Shape < 1 ⇒ "infant-mortality" churn, ≈ 1 ⇒ memoryless,
    // > 1 ⇒ wear-out; the fixture fits k ≈ 0.995 — exponential, agreeing
    // with q_self_excitation's ratio ≈ 1 (two estimators, one story). The
    // ECDF cumulative runs over the bounded bucket domain (whitelisted,
    // q_ks_test argument).
    QueryDef(
      "q_weibull_fit",
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy("ms")
        val b = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(col("user_id"),
            unix_millis(col("ts").cast("timestamp")).as("ms"))
          .select((col("ms") - lag("ms", 1).over(wu)).as("gap"))
          .where(col("gap").isNotNull && col("gap") > 0)
          .select((length(bin(col("gap") + 1)) - 1).cast("long").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("k"))
        val n = b.agg(sum("k").as("n"))
        val pts = b
          .select(col("bucket"), col("k"),
            sum("k").over(Window.orderBy("bucket")).as("ck"))
          .crossJoin(n)
          .where(col("ck") < col("n"))
          .select(expr("ln(CAST(2 AS DOUBLE)) * (bucket + 1)").as("lnt"),
            expr("ln(-ln(1.0 - CAST(ck AS DOUBLE)/(n + 1)))").as("y"))
        pts.agg(count(lit(1)).as("m"), sum("lnt").as("sx"), sum("y").as("sy"),
            sum(expr("lnt*lnt")).as("sxx"), sum(expr("lnt*y")).as("sxy"))
          .select(col("m"),
            expr("(m*sxy - sx*sy)/(m*sxx - sx*sx)").as("shape"),
            expr("(sy - (m*sxy - sx*sy)/(m*sxx - sx*sx)*sx)/m").as("icept"))
          .select(col("m").as("n_points"),
            expr("CAST(round(1000000.0*shape) AS BIGINT)").as("shape_micro"),
            expr("CAST(round(exp(-icept/shape)) AS BIGINT)").as("scale_ms"))
      },
      Some("""WITH p AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
             |      FROM events WHERE event_type='purchase'),
             |g AS (SELECT ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS gap
             |      FROM p),
             |gg AS (SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0),
             |b AS (SELECT CAST(length(bin(gap + 1)) - 1 AS BIGINT) AS bucket,
             |      count(*) AS k FROM gg GROUP BY 1),
             |n AS (SELECT sum(k) AS n FROM b),
             |e AS (SELECT bucket, k, sum(k) OVER (ORDER BY bucket) AS ck FROM b),
             |pts AS (SELECT ln(CAST(2 AS DOUBLE)) * (bucket + 1) AS lnt,
             |    ln(-ln(1.0 - CAST(ck AS DOUBLE)/((SELECT n FROM n) + 1))) AS y
             |  FROM e WHERE ck < (SELECT n FROM n)),
             |s AS (SELECT count(*) AS m, sum(lnt) AS sx, sum(y) AS sy,
             |    sum(lnt*lnt) AS sxx, sum(lnt*y) AS sxy FROM pts),
             |fit AS (SELECT m, (m*sxy - sx*sy)/(m*sxx - sx*sx) AS shape,
             |    (sy - (m*sxy - sx*sy)/(m*sxx - sx*sx)*sx)/m AS icept FROM s)
             |SELECT CAST(m AS BIGINT) AS n_points,
             |  CAST(round(1000000.0*shape) AS BIGINT) AS shape_micro,
             |  CAST(round(exp(-icept/shape)) AS BIGINT) AS scale_ms
             |FROM fit""".stripMargin)),


    // exponential goodness-of-fit — KS distance of the inter-purchase gap
    // ECDF (at the log2 bucket edges) from the fitted exponential
    // 1 − e^(−λ̂t), against the asymptotic 5 % critical value 1.358/√n.
    // The THIRD estimator of the purchase process's memorylessness:
    // q_weibull_fit's k ≈ 1 and q_self_excitation's ratio ≈ 1 predict
    // "don't reject", and this test confirms it — three independent
    // methods, one story. Bucket-edge ECDF keeps the sup over the bounded
    // ~42-bucket domain (q_weibull_fit convention, whitelisted).
    QueryDef(
      "q_exp_gof",
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy("ms")
        val b = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(col("user_id"),
            unix_millis(col("ts").cast("timestamp")).as("ms"))
          .select((col("ms") - lag("ms", 1).over(wu)).as("gap"))
          .where(col("gap").isNotNull && col("gap") > 0)
        val bk = b.select((length(bin(col("gap") + 1)) - 1).cast("long").as("bucket"),
            col("gap"))
          .groupBy("bucket").agg(count(lit(1)).as("k"), sum("gap").as("sg"))
        val n = bk.agg(sum("k").as("n"), sum("sg").as("tot"))
        bk.select(col("bucket"), col("k"),
            sum("k").over(Window.orderBy("bucket")).as("ck"))
          .crossJoin(n)
          .select(expr("""abs(CAST(ck AS DOUBLE)/n
                 | - (1 - exp(-(power(2.0, bucket+1)-1) * n / tot)))""".stripMargin)
            .as("ks"), col("n"))
          .groupBy()
          .agg(max("n").as("n_gaps"),
            expr("CAST(round(1000000.0*max(ks)) AS BIGINT)").as("ks_micro"),
            expr("CAST(round(1000000.0*1.358/sqrt(max(n))) AS BIGINT)")
              .as("crit05_micro"),
            expr("""CAST(CASE WHEN max(ks) > 1.358/sqrt(max(n))
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_exp"))
      },
      Some("""WITH p AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
             |      FROM events WHERE event_type='purchase'),
             |g AS (SELECT ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS gap
             |      FROM p),
             |gg AS (SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0),
             |b AS (SELECT CAST(length(bin(gap + 1)) - 1 AS BIGINT) AS bucket,
             |      count(*) AS k, sum(gap) AS sg FROM gg GROUP BY 1),
             |n AS (SELECT sum(k) AS n, sum(sg) AS tot FROM b),
             |e AS (SELECT bucket, k, sum(k) OVER (ORDER BY bucket) AS ck FROM b),
             |d AS (SELECT bucket,
             |    abs(CAST(ck AS DOUBLE)/(SELECT n FROM n)
             |      - (1 - exp(-(power(2.0, bucket+1)-1) * (SELECT n FROM n)
             |         / (SELECT tot FROM n)))) AS ks FROM e)
             |SELECT CAST((SELECT n FROM n) AS BIGINT) AS n_gaps,
             |  CAST(round(1000000.0*max(ks)) AS BIGINT) AS ks_micro,
             |  CAST(round(1000000.0*1.358/sqrt((SELECT n FROM n))) AS BIGINT)
             |    AS crit05_micro,
             |  CAST(CASE WHEN max(ks) > 1.358/sqrt((SELECT n FROM n))
             |    THEN 1 ELSE 0 END AS BIGINT) AS reject_exp
             |FROM d""".stripMargin)),
  )
}
