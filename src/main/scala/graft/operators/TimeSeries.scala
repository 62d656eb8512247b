package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series and drift analytics over daily/hourly rollups:
  * autocorrelation (ACF/PACF/Ljung-Box), trend and stationarity tests,
  * changepoints, EWMA/STL/forecast-skill, and the distribution-drift
  * family (PSI, Wasserstein, quantile drift). Split from [[Behavioral]]
  * round 15 (mechanical move, zero query changes); every query first
  * reduces events to a CALENDAR-bounded series (days/hours), so the
  * post-aggregation math is scale-free.
  */
object TimeSeries {

  val defs: Seq[QueryDef] = Seq(


    // feature-drift monitor: Population Stability Index of the `value`
    // distribution, first calendar half vs second — the gate that flags
    // "this feature's distribution moved" before a model ever sees it.
    // Laplace-smoothed band shares (+1 count, +bands denominator) keep
    // every ln finite; per-band terms are nano-quantized BEFORE the sum
    // (the q_domain_kl convention) so the cross-engine total is an exact
    // integer. The whole thing is two tiny aggregates over one scan —
    // band domain is fixed (10 bands), every join after the count table
    // is broadcast.
    QueryDef(
      "q_feature_drift",
      (s, d) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        val tagged = Tables.events(s, d).where(col("value").isNotNull)
          .select(when(col("ts") < cut, "a").otherwise("b").as("half"),
            least(greatest(floor(col("value") / 100).cast("int"), lit(0)), lit(9))
              .as("band"))
        val cnt = tagged.groupBy("half", "band").agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy("half").agg(sum("n").as("t"))
        val ta = tot.where(col("half") === "a").select(col("t").as("ta"))
        val tb = tot.where(col("half") === "b").select(col("t").as("tb"))
        val a = cnt.where(col("half") === "a").select(col("band"), col("n").as("na"))
        val b = cnt.where(col("half") === "b").select(col("band"), col("n").as("nb"))
        val p = cnt.select("band").distinct()
          .join(a, Seq("band"), "left").join(b, Seq("band"), "left")
          .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
          .select(
            ((coalesce(col("na"), lit(0L)) + lit(1)).cast("double") /
              (col("ta") + lit(10)).cast("double")).as("pa"),
            ((coalesce(col("nb"), lit(0L)) + lit(1)).cast("double") /
              (col("tb") + lit(10)).cast("double")).as("pb"))
        p.select(round((col("pa") - col("pb")) * log(col("pa") / col("pb")) * lit(1e9))
            .cast("long").as("term_nano"))
          .agg(sum("term_nano").cast("long").as("psi_nano"),
            count(lit(1)).as("bands"))
      },
      Some("""WITH ev AS (SELECT value, CAST(ts AS TIMESTAMP) AS ts
             |            FROM events WHERE value IS NOT NULL),
             |tagged AS (SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             |                    THEN 'a' ELSE 'b' END AS half,
             |             least(greatest(CAST(floor(value / 100) AS INT), 0), 9) AS band
             |           FROM ev),
             |cnt AS (SELECT half, band, count(*) AS n FROM tagged GROUP BY 1, 2),
             |tot AS (SELECT half, sum(n) AS t FROM cnt GROUP BY 1),
             |bands AS (SELECT DISTINCT band FROM cnt),
             |p AS (SELECT b.band,
             |        CAST(coalesce(a.n, 0) + 1 AS DOUBLE) / (ta.t + 10) AS pa,
             |        CAST(coalesce(c.n, 0) + 1 AS DOUBLE) / (tb.t + 10) AS pb
             |      FROM bands b
             |      LEFT JOIN cnt a ON a.band = b.band AND a.half = 'a'
             |      LEFT JOIN cnt c ON c.band = b.band AND c.half = 'b'
             |      CROSS JOIN (SELECT t FROM tot WHERE half = 'a') ta
             |      CROSS JOIN (SELECT t FROM tot WHERE half = 'b') tb),
             |terms AS (SELECT band,
             |            CAST(round((pa - pb) * ln(pa / pb) * 1e9) AS BIGINT) AS term_nano
             |          FROM p)
             |SELECT CAST(sum(term_nano) AS BIGINT) AS psi_nano, count(*) AS bands
             |FROM terms""".stripMargin)),


    // seasonal-naive forecast BACKTEST: predict each day's event count
    // with the count seven days earlier and report the mean/max absolute
    // percentage error in integer micros — the baseline every real
    // forecasting model must beat, and the shape of a backtest harness
    // (join actuals to lagged actuals; error ∝ days, not rows). The
    // daily counts are one map-combined aggregate; the lag join is on
    // the bounded day domain.
    QueryDef(
      "q_seasonal_naive",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val j = daily.as("a")
          .join(daily.as("b"), expr("b.day = a.day - INTERVAL 7 DAYS"))
          .select(expr("(abs(a.n - b.n) * CAST(1000000 AS BIGINT)) div a.n")
            .as("ape_micro"))
        j.agg(count(lit(1)).as("days"),
          expr("sum(ape_micro) div count(1)").as("mape_micro"),
          max("ape_micro").as("max_ape_micro"))
      },
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |                 count(*) AS n
             |               FROM events GROUP BY 1),
             |j AS (SELECT a.day, a.n AS actual, b.n AS forecast,
             |        (abs(a.n - b.n) * 1000000) // a.n AS ape_micro
             |      FROM daily a JOIN daily b ON b.day = a.day - INTERVAL 7 DAY)
             |SELECT count(*) AS days,
             |  CAST(sum(ape_micro) // count(*) AS BIGINT) AS mape_micro,
             |  CAST(max(ape_micro) AS BIGINT) AS max_ape_micro
             |FROM j""".stripMargin)),


    // week-over-week growth report: per (week, event type), the count
    // and its signed delta vs the prior week in integer micros — the
    // dashboard trend table with the division done in exact integers so
    // a -24.56% never differs in the last digit across engines. One
    // map-combined aggregate; the lag join runs on the bounded
    // week × type domain.
    QueryDef(
      "q_wow_growth",
      (s, d) => {
        val w = Tables.events(s, d)
          .groupBy(to_date(date_trunc("week", col("ts"))).as("week"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val a = w.select(col("week"), col("event_type"), col("n"))
        val b = w.select(date_add(col("week"), 7).as("week"),
          col("event_type"), col("n").as("prev_n"))
        a.join(b, Seq("week", "event_type"))
          .select(col("week"), col("event_type"), col("n"), col("prev_n"),
            expr("((n - prev_n) * CAST(1000000 AS BIGINT)) div prev_n")
              .as("wow_micro"))
          .orderBy("week", "event_type")
      },
      Some("""WITH w AS (SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
             |             AS week, event_type, count(*) AS n
             |           FROM events GROUP BY 1, 2)
             |SELECT a.week, a.event_type, a.n, b.n AS prev_n,
             |  CAST(((a.n - b.n) * 1000000) // b.n AS BIGINT) AS wow_micro
             |FROM w a JOIN w b ON b.event_type = a.event_type
             |  AND b.week = a.week - INTERVAL 7 DAY
             |ORDER BY a.week, a.event_type""".stripMargin)),


    // quantile-grain drift: rank-exact p50/p90/p99 of `value` in each
    // calendar half, side by side with the signed delta — WHERE the
    // distribution moved, beside q_feature_drift's one-number PSI (a
    // clean median with a runaway tail is a different incident than a
    // wholesale shift). Per-half ranks ride ONE GlobalOrder range
    // shuffle on (half, value): the global row number minus the
    // broadcast first-half size IS the second half's local rank — no
    // per-half window ever funnels half the table through one task.
    QueryDef(
      "q_quantile_drift",
      (s, d) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        val ev = Tables.events(s, d).where(col("value").isNotNull)
          .select(when(col("ts") < cut, "a").otherwise("b").as("half"),
            round(col("value") * 1e6).cast("long").as("vm"), col("event_id"))
        val ranked = GlobalOrder.withGlobalRowNumber(
          ev, Seq(col("half"), col("vm"), col("event_id")), "grn")
        val sizes = ev.groupBy("half").agg(count(lit(1)).as("n"))
        val na = sizes.where(col("half") === "a").select(col("n").as("na"))
        // ONE pass over the ranked frame (r15 consolidation — the three
        // rank-filter branches re-scanned it once per quantile): the six
        // target ranks (3 quantiles × 2 halves) are precomputed as
        // GLOBAL row numbers in the broadcast 2-row sizes frame — the
        // per-half local rank t maps to global rank t (half a) or
        // na + t (half b), and the two per-half target ranges are
        // disjoint, so a plain grn equi-join picks the exact six rows
        // map-side with no full-frame projection at all
        val targets = sizes.crossJoin(broadcast(na))
          .select(col("half"), col("n"), col("na"),
            explode(array(lit(50), lit(90), lit(99))).as("q"))
          .select(col("q"),
            (when(col("half") === "a", lit(0L)).otherwise(col("na")) +
              expr("(q * n + 99) div 100")).as("grn"))
        val qs = ranked.join(broadcast(targets), "grn")
          .select(col("q"), col("half"), col("vm"))
        qs.where(col("half") === "a")
          .select(col("q"), col("vm").as("half_a_micro"))
          .join(qs.where(col("half") === "b")
            .select(col("q"), col("vm").as("half_b_micro")), "q")
          .select(col("q"), col("half_a_micro"), col("half_b_micro"),
            (col("half_b_micro") - col("half_a_micro")).as("delta_micro"))
          .orderBy("q")
      },
      Some("""WITH ev AS (SELECT
             |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
             |         THEN 'a' ELSE 'b' END AS half,
             |    CAST(round(value * 1000000) AS BIGINT) AS vm, event_id
             |  FROM events WHERE value IS NOT NULL),
             |r AS (SELECT half, vm,
             |        row_number() OVER (PARTITION BY half ORDER BY vm, event_id) AS rn,
             |        count(*) OVER (PARTITION BY half) AS n FROM ev),
             |qs AS (SELECT q, half, vm FROM (VALUES (50), (90), (99)) AS t(q)
             |       JOIN r ON r.rn = (t.q * r.n + 99) // 100)
             |SELECT a.q, a.vm AS half_a_micro, b.vm AS half_b_micro,
             |  CAST(b.vm - a.vm AS BIGINT) AS delta_micro
             |FROM qs a JOIN qs b ON a.q = b.q AND a.half = 'a' AND b.half = 'b'
             |ORDER BY a.q""".stripMargin)),


    // categorical MIX-SHIFT monitor: per month, the chi-square distance
    // of the order-priority mix from the all-time mix (micro-quantized
    // terms) — the drift alarm for SHARES where q_feature_drift watches
    // a numeric distribution. Expected cells come from the bounded
    // month × priority grid (two tiny broadcast aggregates); a month
    // whose chi2 spikes is the one whose mix moved.
    QueryDef(
      "q_mix_shift",
      (s, d) => {
        val o = Tables.orders(s, d).select(
          to_date(date_trunc("month", col("o_orderdate"))).as("month"),
          col("o_orderpriority").as("pri"))
        val cnt = o.groupBy("month", "pri").agg(count(lit(1)).as("n"))
        val mt = cnt.groupBy("month").agg(sum("n").as("t"))
        val pt = cnt.groupBy("pri").agg(sum("n").as("pn"))
        val g = cnt.agg(sum("n").as("gt"))
        val grid = mt.crossJoin(broadcast(pt)).crossJoin(g)
        val j = grid.join(cnt, Seq("month", "pri"), "left")
          .select(col("month"),
            coalesce(col("n"), lit(0L)).cast("double").as("obs"),
            (col("t").cast("double") * col("pn").cast("double") /
              col("gt").cast("double")).as("exp"))
          .where(col("exp") > 0)
        j.select(col("month"),
            round((col("obs") - col("exp")) * (col("obs") - col("exp")) /
              col("exp") * lit(1e6)).cast("long").as("term_micro"))
          .groupBy("month")
          .agg(sum("term_micro").cast("long").as("chi2_micro"),
            count(lit(1)).as("cells"))
          .orderBy("month")
      },
      Some("""WITH o AS (SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
             |             AS DATE) AS month, o_orderpriority AS pri FROM orders),
             |cnt AS (SELECT month, pri, count(*) AS n FROM o GROUP BY 1, 2),
             |mt AS (SELECT month, sum(n) AS t FROM cnt GROUP BY 1),
             |pt AS (SELECT pri, sum(n) AS pn FROM cnt GROUP BY 1),
             |g AS (SELECT sum(n) AS gt FROM cnt),
             |grid AS (SELECT m.month, p.pri, m.t, p.pn, g.gt
             |         FROM mt m CROSS JOIN pt p CROSS JOIN g),
             |j AS (SELECT gr.month, gr.pri,
             |        CAST(coalesce(c.n, 0) AS DOUBLE) AS obs,
             |        CAST(gr.t AS DOUBLE) * gr.pn / gr.gt AS exp
             |      FROM grid gr LEFT JOIN cnt c ON c.month = gr.month AND c.pri = gr.pri),
             |terms AS (SELECT month,
             |    CAST(round((obs - exp) * (obs - exp) / exp * 1e6) AS BIGINT) AS term_micro
             |  FROM j WHERE exp > 0)
             |SELECT month, CAST(sum(term_micro) AS BIGINT) AS chi2_micro, count(*) AS cells
             |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin)),


    // lag-1 autocorrelation of daily event volume — the one-number
    // "does yesterday predict today" check that decides whether
    // q_seasonal_naive's weekly lag is even the right baseline family.
    // Exact integer moments over the calendar-bounded daily table; the
    // closed form runs on exactly-cast sums (the q_quality_length_corr
    // convention).
    QueryDef(
      "q_autocorr",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val pairs = daily.select(col("day"), col("n").as("x"))
          .join(daily.select(date_sub(col("day"), 1).as("day"), col("n").as("y")),
            "day")
        val m = pairs.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        m.select(col("k").as("pairs"),
          round((col("k").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("k").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("k").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("autocorr_lag1"))
      },
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |                 CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |pairs AS (SELECT a.n AS x, b.n AS y
             |          FROM daily a JOIN daily b ON b.day = a.day + INTERVAL 1 DAY),
             |m AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
             |        sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM pairs)
             |SELECT CAST(k AS BIGINT) AS pairs,
             |  round((CAST(k AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
             |        sqrt((CAST(k AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
             |             (CAST(k AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
             |    AS autocorr_lag1
             |FROM m""".stripMargin)),


    // seasonality STRENGTH: η² of the weekday model on daily volume —
    // the one number (between-weekday variance share) that says whether
    // a weekly-seasonal forecast beats a flat one, complementing
    // q_weekday_profile's shape table. Exact integer arithmetic end to
    // end: each weekday's sw²/nw term is milli-scaled integer division
    // (truncation identical in both engines; bias ≤ 7 milli-units
    // against a ~1e10 numerator), the η² ratio cross-multiplies in
    // 128-bit. Day and weekday tables are calendar-bounded — everything
    // after the daily rollup is broadcast-sized.
    QueryDef(
      "q_seasonality_strength",
      (s, d) => {
        val c = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), expr("weekday(ts)").as("wd"))
          .agg(count(lit(1)).as("c"))
        val g = c.agg(count(lit(1)).as("n"), sum("c").as("s"),
          // Σc² widened like q_burstiness's: DuckDB's sum(c*c) is HUGEINT,
          // so the Spark accumulator must not be the narrower link
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
        val b = c.groupBy("wd").agg(count(lit(1)).as("nw"), sum("c").as("sw"))
          .agg(sum(expr("(CAST(sw AS DECIMAL(38,0)) * sw * 1000) div nw"))
            .as("ssb_milli"))
        g.crossJoin(b)
          .select(col("n").as("n_days"),
            expr("CAST((CAST(n AS DECIMAL(38,0)) * ssb_milli - 1000 * CAST(s AS DECIMAL(38,0)) * s) * 1000000 " +
              "div (1000 * CAST(n AS DECIMAL(38,0)) * s2 - 1000 * CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)")
              .as("eta2_micro"))
      },
      Some("""WITH c AS (SELECT CAST(ts AS DATE) AS day,
             |                  isodow(CAST(ts AS DATE)) - 1 AS wd, count(*) AS c
             |           FROM events GROUP BY 1, 2),
             |g AS (SELECT count(*) AS n, sum(c) AS s, sum(c*c) AS s2 FROM c),
             |w AS (SELECT wd, count(*) AS nw, sum(c) AS sw FROM c GROUP BY 1),
             |b AS (SELECT sum((CAST(sw AS HUGEINT) * sw * 1000) // nw) AS ssb_milli FROM w)
             |SELECT g.n AS n_days,
             |  CAST((CAST(g.n AS HUGEINT) * b.ssb_milli - 1000 * CAST(g.s AS HUGEINT) * g.s) * 1000000
             |       // (1000 * CAST(g.n AS HUGEINT) * g.s2 - 1000 * CAST(g.s AS HUGEINT) * g.s) AS BIGINT)
             |    AS eta2_micro
             |FROM g CROSS JOIN b""".stripMargin)),


    // CUSUM changepoint — where did the level of the daily event series
    // shift? S_t = Σ_{i≤t}(x_i − x̄) maximized in |·|, kept EXACT by
    // scaling through the day count: S'_t = T·cum_t − t·N (all
    // integers, no rational mean). The series is the daily count table
    // (calendar-bounded, tiny at any corpus scale), so the running sum
    // is an ordinary bounded-domain window; argmax is a 1-row TopK with
    // date tiebreak. Output: the detected change date with exact
    // before/after mean levels in micros.
    QueryDef(
      "q_changepoint",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("dt")).agg(count(lit(1)).as("x"))
        val tot = day.agg(count(lit(1)).as("t_days"), sum("x").as("n_events"))
        val w = Window.orderBy("dt")
        val run = day
          .withColumn("cumx", sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("idx", row_number().over(w))
        val best = run.crossJoin(tot)
          .select(col("dt"), col("idx"), col("cumx"), col("t_days"),
            col("n_events"),
            expr("CAST(t_days AS DECIMAL(38,0)) * cumx - CAST(idx AS DECIMAL(38,0)) * n_events")
              .as("s_scaled"))
          .orderBy(abs(col("s_scaled")).desc, col("dt")).limit(1)
        best.select(col("t_days"), col("n_events"), col("dt").as("change_date"),
          col("s_scaled").cast("long").as("cusum_scaled"),
          expr("CAST(CAST(cumx AS DECIMAL(38,0)) * 1000000 div idx AS BIGINT)")
            .as("mean_before_micro"),
          expr("""CAST(CAST(n_events - cumx AS DECIMAL(38,0)) * 1000000
                 | div (t_days - idx) AS BIGINT)""".stripMargin)
            .as("mean_after_micro"))
      },
      Some("""WITH day AS (SELECT CAST(ts AS DATE) AS dt, count(*) AS x FROM events GROUP BY 1),
             |tot AS (SELECT count(*) AS t_days, sum(x) AS n_events FROM day),
             |run AS (SELECT dt, x,
             |          sum(x) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumx,
             |          row_number() OVER (ORDER BY dt) AS idx
             |        FROM day),
             |s AS (SELECT dt, idx, cumx,
             |        CAST(t_days AS HUGEINT) * cumx - CAST(idx AS HUGEINT) * n_events AS s_scaled
             |      FROM run CROSS JOIN tot)
             |SELECT t.t_days, CAST(t.n_events AS BIGINT) AS n_events, b.dt AS change_date,
             |  CAST(b.s_scaled AS BIGINT) AS cusum_scaled,
             |  CAST(b.cumx * 1000000 // b.idx AS BIGINT) AS mean_before_micro,
             |  CAST((t.n_events - b.cumx) * 1000000 // (t.t_days - b.idx) AS BIGINT)
             |    AS mean_after_micro
             |FROM (SELECT * FROM s ORDER BY abs(s_scaled) DESC, dt LIMIT 1) b CROSS JOIN tot t""".stripMargin)),


    // exponential-smoothing forecast backtest (EWMA, α=1/2) — the
    // recency-weighted companion of q_seasonal_naive: per event type,
    // forecast the final day's volume from the 16 preceding days with
    // weights 2^(15−lag), EXACT as Σy·2^(15−j)·10⁶ div 65535 (α=1/2
    // makes every weight a power of two — no float smoothing loop, no
    // recursion; the geometric tail past 16 days is < 2⁻¹⁶ of the
    // weight mass). The day×type grid is densified first so a silent
    // empty day forecasts as 0, not as a dropped term. All frames after
    // the one daily rollup are calendar-bounded.
    QueryDef(
      "q_ewma",
      (s, d) => {
        val ev = Tables.events(s, d)
        val days = ev.select(to_date(col("ts")).as("dt")).distinct()
        val types = ev.select("event_type").distinct()
        val cnt = ev.groupBy(to_date(col("ts")).as("dt"), col("event_type"))
          .agg(count(lit(1)).as("y"))
        val g = days.crossJoin(broadcast(types))
          .join(cnt, Seq("dt", "event_type"), "left")
          .select(col("dt"), col("event_type"), coalesce(col("y"), lit(0L)).as("y"))
        val mx = g.agg(max("dt").as("t_last"))
        val withLag = g.crossJoin(mx)
        val f = withLag
          .where(col("dt") < col("t_last") &&
            datediff(col("t_last"), col("dt")) <= 16)
          .select(col("event_type"), col("y"),
            (datediff(col("t_last"), col("dt")) - 1).as("j"))
          .groupBy("event_type")
          // Σy·2^15 · 10⁶ passes 2^63 at ~3e8 events/day — the weighted
          // sum ACCUMULATES in DECIMAL(38,0) (not just the scale-up:
          // DuckDB's sum is HUGEINT, so the per-term product widens
          // before summation on this side too)
          .agg(expr("""CAST(sum(CAST(y AS DECIMAL(38,0)) * shiftleft(CAST(1 AS BIGINT), CAST(15 - j AS INT)))
                      |   * 1000000 div 65535 AS BIGINT)""".stripMargin)
            .as("forecast_micro"))
        val act = withLag.where(col("dt") === col("t_last"))
          .select(col("event_type"), col("y").as("actual"))
        f.join(act, "event_type")
          .select(col("event_type"), col("forecast_micro"), col("actual"),
            abs(col("forecast_micro") - col("actual") * 1000000L)
              .as("abs_err_micro"))
          .orderBy("event_type")
      },
      Some("""WITH grid AS (
             |  SELECT d.dt, t.event_type FROM
             |    (SELECT DISTINCT CAST(ts AS DATE) AS dt FROM events) d
             |    CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
             |cnt AS (SELECT CAST(ts AS DATE) AS dt, event_type, count(*) AS y
             |        FROM events GROUP BY 1, 2),
             |g AS (SELECT grid.dt, grid.event_type, coalesce(cnt.y, 0) AS y
             |      FROM grid LEFT JOIN cnt ON grid.dt = cnt.dt AND grid.event_type = cnt.event_type),
             |mx AS (SELECT max(dt) AS t_last FROM g),
             |hist AS (SELECT g.event_type, g.y,
             |           date_diff('day', g.dt, t_last) - 1 AS j
             |         FROM g CROSS JOIN mx
             |         WHERE g.dt < t_last AND date_diff('day', g.dt, t_last) <= 16),
             |f AS (SELECT event_type,
             |        CAST(CAST(sum(y * (CAST(1 AS BIGINT) << (15 - j))) AS HUGEINT)
             |             * 1000000 // 65535 AS BIGINT)
             |          AS forecast_micro
             |      FROM hist GROUP BY 1),
             |act AS (SELECT g.event_type, g.y AS actual FROM g CROSS JOIN mx WHERE g.dt = t_last)
             |SELECT f.event_type AS event_type, forecast_micro, CAST(actual AS BIGINT) AS actual,
             |  abs(forecast_micro - actual * 1000000) AS abs_err_micro
             |FROM f JOIN act ON f.event_type = act.event_type ORDER BY 1""".stripMargin)),


    // forecast-skill comparison — which forecaster earns the pipeline
    // slot: the α=1/2 EWMA (q_ewma) vs the seasonal naive y(T−7)
    // (q_seasonal_naive), scored per event type on the SAME final-day
    // backtest. skill_micro < 1e6 means the EWMA beats the weekly
    // repeat. All errors exact integer micros over the densified
    // day×type grid; one daily rollup feeds both arms.
    QueryDef(
      "q_forecast_skill",
      (s, d) => {
        val ev = Tables.events(s, d)
        val days = ev.select(to_date(col("ts")).as("dt")).distinct()
        val types = ev.select("event_type").distinct()
        val cnt = ev.groupBy(to_date(col("ts")).as("dt"), col("event_type"))
          .agg(count(lit(1)).as("y"))
        val g = days.crossJoin(broadcast(types))
          .join(cnt, Seq("dt", "event_type"), "left")
          .select(col("dt"), col("event_type"), coalesce(col("y"), lit(0L)).as("y"))
        val mx = g.agg(max("dt").as("t_last"))
        val wl = g.crossJoin(mx)
        val ew = wl
          .where(col("dt") < col("t_last") &&
            datediff(col("t_last"), col("dt")) <= 16)
          .select(col("event_type"), col("y"),
            (datediff(col("t_last"), col("dt")) - 1).as("j"))
          .groupBy("event_type")
          .agg(expr("""CAST(CAST(sum(y * shiftleft(CAST(1 AS BIGINT), CAST(15 - j AS INT)))
                      |   AS DECIMAL(38,0)) * 1000000 div 65535 AS BIGINT)""".stripMargin)
            .as("ewma_micro"))
        val nv = wl.where(datediff(col("t_last"), col("dt")) === 7)
          .select(col("event_type"), (col("y") * 1000000L).as("naive_micro"))
        val act = wl.where(col("dt") === col("t_last"))
          .select(col("event_type"), col("y").as("actual"))
        ew.join(nv, "event_type").join(act, "event_type")
          .select(col("event_type"),
            abs(col("ewma_micro") - col("actual") * 1000000L).as("ewma_err_micro"),
            abs(col("naive_micro") - col("actual") * 1000000L).as("naive_err_micro"))
          .select(col("event_type"), col("ewma_err_micro"), col("naive_err_micro"),
            expr("""CASE WHEN naive_err_micro = 0 THEN CAST(NULL AS BIGINT)
                   | ELSE CAST(CAST(ewma_err_micro AS DECIMAL(38,0)) * 1000000
                   |   div naive_err_micro AS BIGINT) END""".stripMargin)
              .as("skill_micro"))
          .orderBy("event_type")
      },
      Some("""WITH grid AS (
             |  SELECT d.dt, t.event_type FROM
             |    (SELECT DISTINCT CAST(ts AS DATE) AS dt FROM events) d
             |    CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
             |cnt AS (SELECT CAST(ts AS DATE) AS dt, event_type, count(*) AS y
             |        FROM events GROUP BY 1, 2),
             |g AS (SELECT grid.dt, grid.event_type, coalesce(cnt.y, 0) AS y
             |      FROM grid LEFT JOIN cnt ON grid.dt = cnt.dt AND grid.event_type = cnt.event_type),
             |mx AS (SELECT max(dt) AS t_last FROM g),
             |ew AS (SELECT event_type,
             |        CAST(CAST(sum(y * (CAST(1 AS BIGINT) << (15 - (date_diff('day', g.dt, t_last) - 1))))
             |             AS HUGEINT) * 1000000 // 65535 AS BIGINT) AS ewma_micro
             |      FROM g CROSS JOIN mx
             |      WHERE g.dt < t_last AND date_diff('day', g.dt, t_last) <= 16
             |      GROUP BY 1),
             |nv AS (SELECT event_type, y * 1000000 AS naive_micro
             |       FROM g CROSS JOIN mx WHERE date_diff('day', g.dt, t_last) = 7),
             |act AS (SELECT event_type, y AS actual FROM g CROSS JOIN mx WHERE g.dt = t_last),
             |e2 AS (SELECT ew.event_type AS event_type,
             |         abs(ewma_micro - actual * 1000000) AS ewma_err_micro,
             |         abs(naive_micro - actual * 1000000) AS naive_err_micro
             |       FROM ew JOIN nv ON nv.event_type = ew.event_type
             |       JOIN act ON act.event_type = ew.event_type)
             |SELECT event_type, CAST(ewma_err_micro AS BIGINT) AS ewma_err_micro,
             |  CAST(naive_err_micro AS BIGINT) AS naive_err_micro,
             |  CAST(CASE WHEN naive_err_micro = 0 THEN NULL
             |    ELSE CAST(ewma_err_micro AS HUGEINT) * 1000000 // naive_err_micro
             |  END AS BIGINT) AS skill_micro
             |FROM e2 ORDER BY event_type""".stripMargin)),


    // Theil–Sen robust trend of the daily purchase series: the median of
    // all pairwise day-slopes — the estimator that shrugs off a single
    // anomalous day where OLS does not. The day series is CALENDAR-
    // bounded (≤ #days rows after one map-combined aggregate), so the
    // C(days,2) pair fan-out and its rank are bounded by the calendar,
    // never by data volume — the q_changepoint boundedness convention;
    // the big-table work is exactly one grouped count. Slopes are
    // micro-rounded from identical IEEE divisions of exact small
    // integers, and the p25/50/75 picks are rank-ceil exact.
    QueryDef(
      "q_theilsen",
      (s, d) => {
        val dd = Tables.events(s, d).where(col("event_type") === "purchase")
          .groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("c"))
        val d2 = dd.withColumn("i",
          row_number().over(Window.orderBy("day")).cast("long"))
        val a = d2.select(col("i").as("i1"), col("c").as("c1"))
        val b = d2.select(col("i").as("i2"), col("c").as("c2"))
        val pr = a.join(broadcast(b), col("i2") > col("i1"))
          .select(col("i1"), col("i2"),
            expr("CAST(round((c2 - c1) * 1000000.0 / (i2 - i1)) AS BIGINT)")
              .as("slope_micro"))
        val r = pr
          .withColumn("rn", row_number().over(
            Window.orderBy("slope_micro", "i1", "i2")).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        val edges = Seq(25, 50, 75).map { qq =>
          r.where(col("rn") === expr(s"($qq * n + 99) div 100"))
            .select(lit(qq).as("q"), col("slope_micro"))
        }.reduce(_.unionByName(_))
        edges.orderBy("q")
      },
      Some("""WITH dd AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
             |            FROM events WHERE event_type='purchase' GROUP BY 1),
             |d2 AS (SELECT row_number() OVER (ORDER BY day) AS i, c FROM dd),
             |pr AS (SELECT a.i AS i1, b.i AS i2,
             |         CAST(round((b.c - a.c) * 1000000.0 / (b.i - a.i)) AS BIGINT) AS slope_micro
             |       FROM d2 a JOIN d2 b ON b.i > a.i),
             |r AS (SELECT slope_micro, i1, i2,
             |        row_number() OVER (ORDER BY slope_micro, i1, i2) AS rn,
             |        count(*) OVER () AS n FROM pr)
             |SELECT q, slope_micro FROM (
             |  SELECT 25 AS q, slope_micro FROM r WHERE rn = (25*n + 99) // 100
             |  UNION ALL SELECT 50, slope_micro FROM r WHERE rn = (50*n + 99) // 100
             |  UNION ALL SELECT 75, slope_micro FROM r WHERE rn = (75*n + 99) // 100)
             |ORDER BY q""".stripMargin)),


    // lead–lag cross-correlation: Pearson r between daily view counts
    // and purchase counts k days LATER, k = 0..5 — the "does browse
    // volume predict buying volume, and with what delay" readout that
    // sizes marketing attribution windows. The day series is calendar-
    // bounded after one grouped count; each lag's moments are exact
    // 128-bit integer sums and r micro-rounds one IEEE expression over
    // them (the q_assortativity closed form), so both engines agree bit
    // for bit at every lag.
    QueryDef(
      "q_lag_corr",
      (s, d) => {
        val dd = Tables.events(s, d)
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(when(col("event_type") === "view", 1)).as("x"),
            count(when(col("event_type") === "purchase", 1)).as("y"))
        val lags = s.range(6).select(col("id").cast("int").as("lag"))
        val a = dd.select(col("day").as("d1"), col("x"))
        val b = dd.select(col("day").as("d2"), col("y"))
        a.crossJoin(lags)
          .join(broadcast(b), expr("d2 = date_add(d1, lag)"))
          .groupBy("lag")
          .agg(count(lit(1)).as("n_days"),
            sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
          .select(col("lag"), col("n_days").as("n_days"),
            expr("""CAST(round(CAST(n_days*sxy - sx*sy AS DOUBLE)
                   | / sqrt(CAST(n_days*sxx - sx*sx AS DOUBLE)
                   |        * CAST(n_days*syy - sy*sy AS DOUBLE)) * 1000000)
                   | AS BIGINT)""".stripMargin).as("r_micro"))
          .orderBy("lag")
      },
      Some("""WITH dd AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    count(CASE WHEN event_type='view' THEN 1 END) AS x,
             |    count(CASE WHEN event_type='purchase' THEN 1 END) AS y
             |  FROM events GROUP BY 1),
             |lags AS (SELECT CAST(unnest(range(0, 6)) AS INT) AS lag),
             |p AS (SELECT l.lag, a.x, b.y FROM lags l
             |      JOIN dd a ON true
             |      JOIN dd b ON b.day = a.day + to_days(l.lag)),
             |m AS (SELECT lag, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
             |        sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(x AS HUGEINT)*y) AS sxy,
             |        sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(y AS HUGEINT)*y) AS syy
             |      FROM p GROUP BY 1)
             |SELECT lag, CAST(n AS BIGINT) AS n_days,
             |  CAST(round(CAST(n*sxy - sx*sy AS DOUBLE)
             |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
             |    * 1000000) AS BIGINT) AS r_micro
             |FROM m ORDER BY lag""".stripMargin)),


    // Wasserstein-1 (earth mover's) distance between the purchase and
    // click value distributions — the drift metric that, unlike
    // q_ks_test's sup-norm, weighs HOW FAR mass moved, not just the
    // worst crossing. Identical machinery to the KS ECDF: one grouped
    // count onto the bounded integer-cents domain, cumulative counts
    // over that domain (calendar-of-values-bounded, never data-sized),
    // and W₁ = Σ|F₁−F₂|·gap stays EXACT integer arithmetic end to end —
    // |cum₁·n₂ − cum₂·n₁|·gap summed, divided once at the end (micro
    // cents via 128-bit div).
    QueryDef(
      "q_wasserstein",
      (s, d) => {
        val v = Tables.events(s, d)
          .where(col("event_type").isin("purchase", "click"))
          .select(col("event_type"),
            expr("CAST(round(value*100) AS BIGINT)").as("c"))
        val n = v.agg(
          count(when(col("event_type") === "purchase", 1)).as("n1"),
          count(when(col("event_type") === "click", 1)).as("n2"))
        val g = v.groupBy("c").agg(
          count(when(col("event_type") === "purchase", 1)).as("c1"),
          count(when(col("event_type") === "click", 1)).as("c2"))
        val w = Window.orderBy("c")
        val e = g
          .withColumn("cum1", sum("c1").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cum2", sum("c2").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cnext", lead("c", 1).over(w))
          .where(col("cnext").isNotNull)
        e.crossJoin(n)
          .agg(sum(expr("""abs(CAST(cum1 AS DECIMAL(38,0)) * n2
                         | - CAST(cum2 AS DECIMAL(38,0)) * n1) * (cnext - c)"""
            .stripMargin)).as("num"),
            max("n1").as("n1"), max("n2").as("n2"))
          .select(col("n1").as("n_purchase"), col("n2").as("n_click"),
            // the divisor product widens through DECIMAL(38,0) like the
            // numerator: a bare n1*n2 is 64-bit and wraps silently with
            // ANSI off at ~3e9 rows per class — a scale-only divergence
            // the sf0.01 gate can't catch (DuckDB promotes to HUGEINT)
            expr("CAST(num * 10000 div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
              .as("w1_microunit"))
      },
      Some("""WITH v AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c FROM events
             |           WHERE event_type IN ('purchase','click')),
             |n AS (SELECT count(*) FILTER (WHERE event_type='purchase') AS n1,
             |             count(*) FILTER (WHERE event_type='click') AS n2 FROM v),
             |g AS (SELECT c, count(*) FILTER (WHERE event_type='purchase') AS c1,
             |             count(*) FILTER (WHERE event_type='click') AS c2
             |      FROM v GROUP BY 1),
             |e AS (SELECT c,
             |        sum(c1) OVER (ORDER BY c) AS cum1, sum(c2) OVER (ORDER BY c) AS cum2,
             |        lead(c) OVER (ORDER BY c) AS cnext
             |      FROM g),
             |w AS (SELECT sum(abs(CAST(cum1 AS HUGEINT) * n.n2 - CAST(cum2 AS HUGEINT) * n.n1)
             |               * (cnext - c)) AS num
             |      FROM e CROSS JOIN n WHERE cnext IS NOT NULL)
             |SELECT CAST(n.n1 AS BIGINT) AS n_purchase, CAST(n.n2 AS BIGINT) AS n_click,
             |  CAST(w.num * 10000 // (n.n1 * n.n2) AS BIGINT) AS w1_microunit
             |FROM w CROSS JOIN n""".stripMargin)),


    // Mann–Kendall trend test on the daily purchase series — the
    // distribution-free "is there a monotone trend" gate beside
    // q_theilsen's slope estimate (the pair: MK says WHETHER, Theil–Sen
    // says HOW MUCH). S and the tie-corrected variance are exact integer
    // arithmetic over the calendar-bounded day pairs; the continuity-
    // corrected z is one IEEE expression over those integers. |z| < 1.96
    // on the fixture — no significant trend, honestly reported.
    QueryDef(
      "q_mann_kendall",
      (s, d) => {
        val dd = Tables.events(s, d).where(col("event_type") === "purchase")
          .groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("y"))
        val a = dd.select(col("day").as("d1"), col("y").as("y1"))
        val b = dd.select(col("day").as("d2"), col("y").as("y2"))
        val sFrame = a.join(broadcast(b), col("d2") > col("d1"))
          .agg(sum(expr("CASE WHEN y2 > y1 THEN 1 WHEN y2 < y1 THEN -1 ELSE 0 END"))
            .as("s"))
        val nFrame = dd.agg(count(lit(1)).as("n"))
        val ties = dd.groupBy("y").agg(count(lit(1)).as("t"))
          .where(col("t") > 1)
          .agg(coalesce(sum(expr("t*(t-1)*(2*t+5)")), lit(0L)).as("tt"))
        sFrame.crossJoin(nFrame).crossJoin(ties)
          .select(col("s").as("s_stat"), col("n").as("n_days"),
            expr("""CAST(round((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
                   | / sqrt((CAST(n AS DOUBLE)*(n-1)*(2*n+5) - tt) / 18.0) * 1000)
                   | AS BIGINT)""".stripMargin).as("z_milli"))
      },
      Some("""WITH dd AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS y
             |            FROM events WHERE event_type='purchase' GROUP BY 1),
             |pr AS (SELECT CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
             |       FROM dd a JOIN dd b ON b.day > a.day),
             |s AS (SELECT CAST(sum(sgn) AS BIGINT) AS S, (SELECT count(*) FROM dd) AS n FROM pr),
             |ties AS (SELECT coalesce(sum(t*(t-1)*(2*t+5)), 0) AS tt FROM (
             |          SELECT count(*) AS t FROM dd GROUP BY y HAVING count(*) > 1))
             |SELECT s.S AS s_stat, CAST(s.n AS BIGINT) AS n_days,
             |  CAST(round((s.S - CASE WHEN s.S > 0 THEN 1 WHEN s.S < 0 THEN -1 ELSE 0 END)
             |    / sqrt((CAST(s.n AS DOUBLE)*(s.n-1)*(2*s.n+5) - ties.tt) / 18.0) * 1000)
             |    AS BIGINT) AS z_milli
             |FROM s CROSS JOIN ties""".stripMargin)),


    // autocorrelation function — Pearson r of the daily event count against
    // itself at lags 1..7 (the weekly-seasonality fingerprint; q_autocorr is
    // the single-lag special case, this is the curve q_seasonality_strength
    // summarizes). The calendar-bounded daily frame broadcasts against its
    // 7-lag explosion, the moment sums are one map-combined aggregate per
    // lag, and products widen through DECIMAL(38,0) before the one double
    // division (q_anova convention).
    QueryDef(
      "q_acf",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val pairs = daily
          .select(col("day"), col("n").as("x"),
            explode(sequence(lit(1), lit(7))).as("lag"))
          .withColumn("jday", expr("date_add(day, lag)"))
          .join(broadcast(daily.select(col("day").as("jday"), col("n").as("y"))),
            "jday")
        pairs.groupBy("lag")
          .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x*x")).as("sxx"), sum(expr("y*y")).as("syy"),
            sum(expr("x*y")).as("sxy"))
          .select(col("lag").cast("long").as("lag"), col("k").as("n_pairs"),
            expr("""CAST(round(1000000.0 *
                   |  CAST(CAST(k AS DECIMAL(38,0))*sxy - CAST(sx AS DECIMAL(38,0))*sy AS DOUBLE) /
                   |  (sqrt(CAST(CAST(k AS DECIMAL(38,0))*sxx - CAST(sx AS DECIMAL(38,0))*sx AS DOUBLE)) *
                   |   sqrt(CAST(CAST(k AS DECIMAL(38,0))*syy - CAST(sy AS DECIMAL(38,0))*sy AS DOUBLE)))) AS BIGINT)"""
              .stripMargin).as("r_micro"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |      FROM events GROUP BY 1),
             |l AS (SELECT unnest(range(1, 8)) AS lag),
             |pairs AS (SELECT l.lag, a.n AS x, b.n AS y
             |  FROM l JOIN daily a ON TRUE
             |  JOIN daily b ON b.day = a.day + CAST(l.lag AS BIGINT) * INTERVAL 1 DAY),
             |m AS (SELECT lag, count(*) AS k, sum(x) AS sx, sum(y) AS sy,
             |        sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
             |      FROM pairs GROUP BY 1)
             |SELECT CAST(lag AS BIGINT) AS lag, CAST(k AS BIGINT) AS n_pairs,
             |  CAST(round(1000000.0 *
             |    CAST(CAST(k AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) /
             |    (sqrt(CAST(CAST(k AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE)) *
             |     sqrt(CAST(CAST(k AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy AS DOUBLE)))) AS BIGINT)
             |    AS r_micro
             |FROM m ORDER BY lag""".stripMargin)),


    // STL-lite seasonal decomposition — daily count = trend (centered 7-day
    // moving average, full windows only) + weekday seasonal (mean detrended
    // per weekday, re-centered to sum ≈ 0) + residual. The additive
    // decomposition behind q_seasonality_strength's single summary number,
    // materialized as the full per-day table. Every window rides the
    // ≤ #days calendar frame after ONE map-combined grouped count
    // (q_changepoint convention); the only division is the /7 trend mean
    // and two bounded avgs, each rounded once to micro.
    QueryDef(
      "q_stl_lite",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val w7 = Window.orderBy("day").rowsBetween(-3, 3)
        val mid = daily
          .select(col("day"), col("n"),
            sum("n").over(w7).as("s7"), count(lit(1)).over(w7).as("k7"),
            (dayofweek(col("day")) - 1).as("dow"))
          .where(col("k7") === 7)
          .select(col("day"), col("n"), col("dow"),
            expr("CAST(round(CAST(s7 AS DOUBLE) * 1000000 / 7) AS BIGINT)").as("trend_micro"))
          .withColumn("det_micro", expr("n*1000000 - trend_micro"))
        val sw = mid.groupBy("dow")
          .agg(expr("CAST(round(avg(CAST(det_micro AS DOUBLE))) AS BIGINT)").as("seas_micro"))
        val off = sw.agg(
          expr("CAST(round(avg(CAST(seas_micro AS DOUBLE))) AS BIGINT)").as("off"))
        mid.join(broadcast(sw), "dow").crossJoin(off)
          .select(col("day"), col("n"), col("trend_micro"),
            (col("seas_micro") - col("off")).as("seasonal_micro"),
            (col("det_micro") - (col("seas_micro") - col("off"))).as("resid_micro"))
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |      FROM events GROUP BY 1),
             |tr AS (SELECT day, n,
             |    sum(n) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
             |    count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS k7,
             |    dayofweek(day) AS dow
             |  FROM daily),
             |mid AS (SELECT day, n, dow,
             |    CAST(round(CAST(s7 AS DOUBLE) * 1000000 / 7) AS BIGINT) AS trend_micro,
             |    n*1000000 - CAST(round(CAST(s7 AS DOUBLE) * 1000000 / 7) AS BIGINT) AS det_micro
             |  FROM tr WHERE k7 = 7),
             |sw AS (SELECT dow,
             |    CAST(round(avg(CAST(det_micro AS DOUBLE))) AS BIGINT) AS seas_micro
             |  FROM mid GROUP BY 1),
             |adj AS (SELECT CAST(round(avg(CAST(seas_micro AS DOUBLE))) AS BIGINT) AS off FROM sw)
             |SELECT m.day, CAST(m.n AS BIGINT) AS n, m.trend_micro,
             |  (s.seas_micro - (SELECT off FROM adj)) AS seasonal_micro,
             |  (m.det_micro - (s.seas_micro - (SELECT off FROM adj))) AS resid_micro
             |FROM mid m JOIN sw s ON s.dow = m.dow ORDER BY m.day""".stripMargin)),


    // lag-1 Granger test — does yesterday's error count predict today's
    // purchase count beyond purchases' own autoregression? Restricted
    // AR(1) vs full (AR(1) + lagged x) OLS on the demeaned daily series,
    // solved in closed form (2×2 normal equations — no iterative fit),
    // F = (RSS_r − RSS_f)/(RSS_f/(n−3)), flagged at the fixed F(1,26)
    // 5 % critical value 4.2. Everything after ONE map-combined daily
    // conditional-count aggregate runs on the ≤ #days calendar frame
    // (q_changepoint convention); sums of demeaned products are doubles
    // on exact-count rationals, each reported value rounded once.
    QueryDef(
      "q_granger",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("x"))
        val wd = Window.orderBy("day")
        val f = daily
          .select(col("day"), col("y"),
            lag("y", 1).over(wd).as("y1"), lag("x", 1).over(wd).as("x1"))
          .where(col("y1").isNotNull)
        val m = f.agg(count(lit(1)).as("n"),
          expr("avg(CAST(y AS DOUBLE))").as("my"),
          expr("avg(CAST(y1 AS DOUBLE))").as("my1"),
          expr("avg(CAST(x1 AS DOUBLE))").as("mx1"))
        val sums = f.crossJoin(m)
          .select(expr("y - my").as("dy"), expr("y1 - my1").as("dy1"),
            expr("x1 - mx1").as("dx1"))
          .agg(count(lit(1)).as("n"), sum(expr("dy1*dy1")).as("a11"),
            sum(expr("dy1*dx1")).as("a12"), sum(expr("dx1*dx1")).as("a22"),
            sum(expr("dy1*dy")).as("b1"), sum(expr("dx1*dy")).as("b2"),
            sum(expr("dy*dy")).as("syy"))
        sums.select(col("n"), col("syy"), col("b1"), col("b2"),
            expr("syy - b1*b1/a11").as("rss_r"),
            expr("(b1*a22 - b2*a12)/(a11*a22 - a12*a12)").as("beta1"),
            expr("(b2*a11 - b1*a12)/(a11*a22 - a12*a12)").as("beta2"))
          .select(col("n"), col("rss_r"), col("beta2"),
            expr("syy - beta1*b1 - beta2*b2").as("rss_f"))
          .select(col("n").as("n_days"),
            expr("CAST(round(1000.0*rss_r) AS BIGINT)").as("rss_r_milli"),
            expr("CAST(round(1000.0*rss_f) AS BIGINT)").as("rss_f_milli"),
            expr("CAST(round(1000000.0*beta2) AS BIGINT)").as("beta_x_micro"),
            expr("CAST(round(1000000.0*((rss_r - rss_f)/(rss_f/(n-3)))) AS BIGINT)")
              .as("f_micro"),
            expr("""CAST(CASE WHEN (rss_r - rss_f)/(rss_f/(n-3)) > 4.2
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("granger_flag"))
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             |    sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS y,
             |    sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS x
             |  FROM events GROUP BY 1),
             |l AS (SELECT day, y,
             |    lag(y) OVER (ORDER BY day) AS y1, lag(x) OVER (ORDER BY day) AS x1
             |  FROM daily),
             |f AS (SELECT * FROM l WHERE y1 IS NOT NULL),
             |m AS (SELECT count(*) AS n, avg(CAST(y AS DOUBLE)) AS my,
             |    avg(CAST(y1 AS DOUBLE)) AS my1, avg(CAST(x1 AS DOUBLE)) AS mx1 FROM f),
             |dm AS (SELECT y - m.my AS dy, y1 - m.my1 AS dy1, x1 - m.mx1 AS dx1
             |      FROM f CROSS JOIN m),
             |s AS (SELECT count(*) AS n, sum(dy1*dy1) AS a11, sum(dy1*dx1) AS a12,
             |    sum(dx1*dx1) AS a22, sum(dy1*dy) AS b1, sum(dx1*dy) AS b2,
             |    sum(dy*dy) AS syy FROM dm),
             |sol AS (SELECT n, syy, b1, b2,
             |    syy - b1*b1/a11 AS rss_r,
             |    (b1*a22 - b2*a12)/(a11*a22 - a12*a12) AS beta1,
             |    (b2*a11 - b1*a12)/(a11*a22 - a12*a12) AS beta2
             |  FROM s),
             |fin AS (SELECT n, rss_r, beta2, syy - beta1*b1 - beta2*b2 AS rss_f FROM sol)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(round(1000.0*rss_r) AS BIGINT) AS rss_r_milli,
             |  CAST(round(1000.0*rss_f) AS BIGINT) AS rss_f_milli,
             |  CAST(round(1000000.0*beta2) AS BIGINT) AS beta_x_micro,
             |  CAST(round(1000000.0*((rss_r - rss_f)/(rss_f/(n-3)))) AS BIGINT) AS f_micro,
             |  CAST(CASE WHEN (rss_r - rss_f)/(rss_f/(n-3)) > 4.2
             |    THEN 1 ELSE 0 END AS BIGINT) AS granger_flag
             |FROM fin""".stripMargin)),


    // daily value-quantile trend — exact p50/p95 of event value per day via
    // the cents-domain ECDF: group to (day, cents) first, then cumulate
    // WITHIN each day partition over the bounded distinct-cents domain (the
    // q_ks_test argument — the window frame is the VALUE DOMAIN, never the
    // event count, and it is day-partitioned on top). The percentile pick
    // is the exact type-1 quantile (smallest value with ⌈q·n⌉ mass), all
    // integer arithmetic.
    QueryDef(
      "q_value_quantile_trend",
      (s, d) => {
        val v = Tables.events(s, d).where(col("value").isNotNull)
          .select(to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val g = v.groupBy("day", "cents").agg(count(lit(1)).as("k"))
        val wd = Window.partitionBy("day").orderBy("cents")
        val wn = Window.partitionBy("day")
        g.select(col("day"), col("cents"),
            sum("k").over(wd).as("ck"), sum("k").over(wn).as("n"))
          .groupBy("day")
          .agg(max("n").as("n"),
            min(when(expr("ck*2 >= n"), col("cents"))).as("p50_cents"),
            min(when(expr("ck*20 >= n*19"), col("cents"))).as("p95_cents"))
          .orderBy("day")
      },
      Some("""WITH v AS (SELECT CAST(ts AS DATE) AS day,
             |      CAST(round(value*100) AS BIGINT) AS cents
             |    FROM events WHERE value IS NOT NULL),
             |g AS (SELECT day, cents, count(*) AS k FROM v GROUP BY 1,2),
             |cum AS (SELECT day, cents, k,
             |    sum(k) OVER (PARTITION BY day ORDER BY cents) AS ck,
             |    sum(k) OVER (PARTITION BY day) AS n FROM g)
             |SELECT day, CAST(max(n) AS BIGINT) AS n,
             |  CAST(min(CASE WHEN ck*2 >= n THEN cents END) AS BIGINT) AS p50_cents,
             |  CAST(min(CASE WHEN ck*20 >= n*19 THEN cents END) AS BIGINT) AS p95_cents
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin)),


    // partial autocorrelation at lags 1..3 — Durbin–Levinson in closed form
    // from the biased common-mean autocovariances (the AR-order fingerprint
    // q_acf's raw curve can't show: PACF cuts off at the true AR order).
    // The day frame is calendar-bounded; the φ recursions are pure scalar
    // algebra on the three r's, every reported value rounded once.
    QueryDef(
      "q_pacf",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val mu = daily.agg(expr("avg(CAST(n AS DOUBLE))").as("mu"))
        val dm = daily.crossJoin(mu)
          .select(col("day"), (col("n") - col("mu")).as("z"))
        val c0 = dm.agg(sum(expr("z*z")).as("c0"))
        val ck = dm
          .select(col("day"), col("z"), explode(sequence(lit(1), lit(3))).as("k"))
          .withColumn("jday", expr("date_add(day, k)"))
          .join(broadcast(dm.select(col("day").as("jday"), col("z").as("z2"))),
            "jday")
          .groupBy("k").agg(sum(expr("z*z2")).as("c"))
        val r = ck.crossJoin(c0)
          .groupBy()
          .agg(max(when(col("k") === 1, expr("c/c0"))).as("r1"),
            max(when(col("k") === 2, expr("c/c0"))).as("r2"),
            max(when(col("k") === 3, expr("c/c0"))).as("r3"))
        val dl = r
          .withColumn("p11", col("r1"))
          .withColumn("p22", expr("(r2 - r1*r1)/(1 - r1*r1)"))
          .withColumn("p21", expr("r1*(1 - p22)"))
          .withColumn("p33",
            expr("(r3 - p21*r2 - p22*r1)/(1 - p21*r1 - p22*r2)"))
        def rowFor(k: Int, rc: String, pc: String) =
          dl.select(lit(k.toLong).as("lag"),
            expr(s"CAST(round(1000000.0*$rc) AS BIGINT)").as("acf_micro"),
            expr(s"CAST(round(1000000.0*$pc) AS BIGINT)").as("pacf_micro"))
        rowFor(1, "r1", "p11").unionByName(rowFor(2, "r2", "p22"))
          .unionByName(rowFor(3, "r3", "p33")).orderBy("lag")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |      FROM events GROUP BY 1),
             |mu AS (SELECT avg(CAST(n AS DOUBLE)) AS mu FROM daily),
             |dm AS (SELECT day, n - (SELECT mu FROM mu) AS z FROM daily),
             |c0 AS (SELECT sum(z*z) AS c0 FROM dm),
             |ck AS (SELECT k, sum(a.z * b.z) AS c
             |  FROM (SELECT unnest([1,2,3]) AS k) g
             |  JOIN dm a ON TRUE
             |  JOIN dm b ON b.day = a.day + CAST(g.k AS BIGINT) * INTERVAL 1 DAY
             |  GROUP BY 1),
             |r AS (SELECT
             |    max(CASE WHEN k=1 THEN c END)/(SELECT c0 FROM c0) AS r1,
             |    max(CASE WHEN k=2 THEN c END)/(SELECT c0 FROM c0) AS r2,
             |    max(CASE WHEN k=3 THEN c END)/(SELECT c0 FROM c0) AS r3
             |  FROM ck),
             |dl AS (SELECT r1, r2, r3, r1 AS p11,
             |    (r2 - r1*r1)/(1 - r1*r1) AS p22 FROM r),
             |dl2 AS (SELECT *, r1*(1 - p22) AS p21 FROM dl),
             |dl3 AS (SELECT *,
             |    (r3 - p21*r2 - p22*r1)/(1 - p21*r1 - p22*r2) AS p33 FROM dl2)
             |SELECT CAST(1 AS BIGINT) AS lag,
             |  CAST(round(1000000.0*r1) AS BIGINT) AS acf_micro,
             |  CAST(round(1000000.0*p11) AS BIGINT) AS pacf_micro FROM dl3
             |UNION ALL SELECT 2, CAST(round(1000000.0*r2) AS BIGINT),
             |  CAST(round(1000000.0*p22) AS BIGINT) FROM dl3
             |UNION ALL SELECT 3, CAST(round(1000000.0*r3) AS BIGINT),
             |  CAST(round(1000000.0*p33) AS BIGINT) FROM dl3
             |ORDER BY lag""".stripMargin)),


    // Wald-Wolfowitz runs test — is the daily-revenue sequence random
    // around its median, or does it trend/cluster? Days above vs below
    // the exact lower median (ties dropped, the standard treatment),
    // runs counted by one lag pass over the calendar-bounded daily
    // frame, and the closed-form normal z. Complements q_mann_kendall
    // (monotone trend) with the non-parametric randomness check.
    QueryDef(
      "q_runs_test",
      (s, d) => {
        val day = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
        val med = day
          .select(col("rev"), col("dt"),
            row_number().over(Window.orderBy("rev", "dt")).as("r"),
            count(lit(1)).over(Window.partitionBy()).as("n"))
          .where(expr("r = (n+1) div 2")).select(col("rev").as("m"))
        val sg = day.crossJoin(broadcast(med))
          .where(col("rev") =!= col("m"))
          .select(col("dt"), when(col("rev") > col("m"), 1L).otherwise(0L).as("sgn"))
        val runs = sg
          .withColumn("prev", lag("sgn", 1).over(Window.orderBy("dt")))
          .agg(count(lit(1)).as("n"), sum("sgn").as("n1"),
            sum(when(col("prev").isNull || col("sgn") =!= col("prev"), 1L)
              .otherwise(0L)).as("runs"))
        runs.select(col("n").as("n_days"), col("n1").as("n_above"),
          (col("n") - col("n1")).as("n_below"), col("runs").as("n_runs"),
          expr("""CAST(round(1000.0 * (runs - (2.0*n1*(n-n1)/n + 1))
                 | / sqrt(2.0*n1*(n-n1)*(2.0*n1*(n-n1) - n)
                 |   / (CAST(n AS DOUBLE)*n*(n-1)))) AS BIGINT)""".stripMargin)
            .as("z_milli"),
          expr("""CAST(CASE WHEN abs((runs - (2.0*n1*(n-n1)/n + 1))
                 | / sqrt(2.0*n1*(n-n1)*(2.0*n1*(n-n1) - n)
                 |   / (CAST(n AS DOUBLE)*n*(n-1)))) > 1.96
                 | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("reject_random"))
      },
      Some("""WITH day AS (SELECT o_orderdate AS dt,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev
             |    FROM orders GROUP BY 1),
             |med AS (SELECT rev AS m FROM
             |    (SELECT rev, dt, row_number() OVER (ORDER BY rev, dt) AS r,
             |       count(*) OVER () AS n FROM day)
             |    WHERE r = (n+1)//2),
             |s AS (SELECT dt, CASE WHEN rev > (SELECT m FROM med) THEN 1 ELSE 0 END AS sgn
             |      FROM day WHERE rev <> (SELECT m FROM med)),
             |r AS (SELECT sgn, lag(sgn) OVER (ORDER BY dt) AS prev FROM s),
             |agg AS (SELECT count(*) AS n, sum(sgn) AS n1,
             |        sum(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END) AS runs
             |      FROM r)
             |SELECT CAST(n AS BIGINT) AS n_days, CAST(n1 AS BIGINT) AS n_above,
             |  CAST(n - n1 AS BIGINT) AS n_below, CAST(runs AS BIGINT) AS n_runs,
             |  CAST(round(1000.0 * (runs - (2.0*n1*(n-n1)/n + 1))
             |    / sqrt(2.0*n1*(n-n1)*(2.0*n1*(n-n1) - n)
             |      / (CAST(n AS DOUBLE)*n*(n-1)))) AS BIGINT) AS z_milli,
             |  CAST(CASE WHEN abs((runs - (2.0*n1*(n-n1)/n + 1))
             |    / sqrt(2.0*n1*(n-n1)*(2.0*n1*(n-n1) - n)
             |      / (CAST(n AS DOUBLE)*n*(n-1)))) > 1.96
             |    THEN 1 ELSE 0 END AS BIGINT) AS reject_random
             |FROM agg""".stripMargin)),


    // Ljung-Box portmanteau test — is the daily event-count series white
    // noise across lags 1..10 jointly? q_acf reports the per-lag curve;
    // this is the omnibus Q over it. Centering stays exact through the
    // integer trick y_t = T·x_t − N (ρ_k = Σy_t·y_{t+k} / Σy_t², both
    // 128-bit exact), the lag pairs ride q_acf's broadcast self-join on
    // the calendar-bounded daily frame, and df=10 (even) admits the
    // closed-form chi-square survival.
    QueryDef(
      "q_ljung_box",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
        val t = daily.agg(count(lit(1)).as("t"), sum("x").as("n"))
        val y = daily.crossJoin(t)
          .select(col("day"), expr("CAST(t AS DECIMAL(38,0))*x - n").as("y"),
            col("t"))
        val g0 = y.agg(sum(expr("y*y")).as("g0"))
        val gk = y
          .select(col("day"), col("y").as("a"),
            explode(sequence(lit(1), lit(10))).as("lag"))
          .withColumn("jday", expr("date_add(day, lag)"))
          .join(broadcast(y.select(col("day").as("jday"), col("y").as("b"))), "jday")
          .groupBy("lag").agg(sum(expr("a*b")).as("gk"))
        val q = gk.crossJoin(g0).crossJoin(t)
          .groupBy()
          .agg(max("t").as("t"),
            sum(expr("""(CAST(gk AS DOUBLE)/CAST(g0 AS DOUBLE))
                       | * (CAST(gk AS DOUBLE)/CAST(g0 AS DOUBLE)) / (t - lag)"""
              .stripMargin)).as("sq"))
          .select(col("t"), expr("CAST(t AS DOUBLE)*(t+2)*sq").as("q"))
        q.select(col("t").cast("long").as("t_days"),
          expr("CAST(round(1000.0*q) AS BIGINT)").as("q_milli"),
          expr("""CAST(round(1000000.0 * exp(-q/2)*(1 + q/2 + pow(q/2,2)/2
                 | + pow(q/2,3)/6 + pow(q/2,4)/24)) AS BIGINT)""".stripMargin)
            .as("p_micro"),
          expr("""CAST(CASE WHEN exp(-q/2)*(1 + q/2 + pow(q/2,2)/2
                 | + pow(q/2,3)/6 + pow(q/2,4)/24) < 0.05
                 | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
            .as("reject_whitenoise"))
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x
             |      FROM events GROUP BY 1),
             |t AS (SELECT count(*) AS t, sum(x) AS n FROM daily),
             |y AS (SELECT day, CAST(t.t AS HUGEINT)*x - t.n AS y FROM daily CROSS JOIN t),
             |g0 AS (SELECT sum(y*y) AS g0 FROM y),
             |l AS (SELECT unnest(range(1, 11)) AS lag),
             |gk AS (SELECT l.lag, sum(a.y*b.y) AS gk FROM l
             |       JOIN y a ON TRUE
             |       JOIN y b ON b.day = a.day + CAST(l.lag AS BIGINT)*INTERVAL 1 DAY
             |       GROUP BY 1),
             |rho AS (SELECT lag, CAST(gk AS DOUBLE)/(SELECT CAST(g0 AS DOUBLE) FROM g0)
             |          AS rho FROM gk),
             |q0 AS (SELECT max((SELECT t FROM t)) AS t,
             |      sum(rho*rho / ((SELECT t FROM t) - lag)) AS s FROM rho),
             |f AS (SELECT t, CAST(t AS DOUBLE)*(t+2)*s AS q FROM q0)
             |SELECT CAST(t AS BIGINT) AS t_days,
             |  CAST(round(1000.0*q) AS BIGINT) AS q_milli,
             |  CAST(round(1000000.0 * exp(-q/2)*(1 + q/2 + pow(q/2,2)/2
             |    + pow(q/2,3)/6 + pow(q/2,4)/24)) AS BIGINT) AS p_micro,
             |  CAST(CASE WHEN exp(-q/2)*(1 + q/2 + pow(q/2,2)/2
             |    + pow(q/2,3)/6 + pow(q/2,4)/24) < 0.05
             |    THEN 1 ELSE 0 END AS BIGINT) AS reject_whitenoise
             |FROM f""".stripMargin)),


    // Hurst exponent via rescaled-range analysis — does the daily
    // revenue series have long-range memory (H > ½), or is it a random
    // walk of independent days (H ≈ ½)? Classic Mandelbrot-Wallis R/S:
    // per window size w ∈ {8…128}, full blocks get an exact integer
    // cumulative-deviation range (D_t = w·cum_t − (t+1)·S, no rational
    // mean) over a per-block std from exact moments; H is the 5-point
    // log-log OLS slope. Everything after the one daily grouped sum
    // rides the calendar frame × 5 window sizes.
    QueryDef(
      "q_hurst",
      (s, d) => {
        val day = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
        val idx = day.select(
          (row_number().over(Window.orderBy("dt")) - 1).as("t"), col("rev"))
        val ws = s.createDataFrame(Seq(8L, 16L, 32L, 64L, 128L).map(Tuple1(_)))
          .toDF("w")
        val blk = idx.crossJoin(ws)
          .select(col("w"), expr("t div w").as("b"), expr("t % w").as("j"),
            col("rev"))
        val fb = blk.groupBy("w", "b")
          .agg(count(lit(1)).as("k"), sum("rev").as("s"),
            sum(expr("CAST(rev AS DECIMAL(38,0))*rev")).as("ss"))
          .where(col("k") === col("w"))
          .drop("k")
        val cum = blk.join(fb, Seq("w", "b"))
          .withColumn("c", sum("rev").over(
            Window.partitionBy("w", "b").orderBy("j")))
        val dev = cum.groupBy("w", "b")
          .agg(max("s").as("s"), max("ss").as("ss"),
            max(expr("CAST(w AS DECIMAL(38,0))*c - (j+1)*s")).as("dmax"),
            min(expr("CAST(w AS DECIMAL(38,0))*c - (j+1)*s")).as("dmin"))
        val rs = dev
          .where(expr("w*ss - CAST(s AS DECIMAL(38,0))*s > 0"))
          .select(col("w"),
            expr("""CAST(dmax - dmin AS DOUBLE)
                   | / sqrt(CAST(w*ss - CAST(s AS DECIMAL(38,0))*s AS DOUBLE))"""
              .stripMargin).as("rsv"))
        val pts = rs.groupBy("w").agg(avg("rsv").as("mrs"))
        pts.select(expr("ln(CAST(w AS DOUBLE))").as("x"), expr("ln(mrs)").as("y"))
          .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x*x")).as("sxx"), sum(expr("x*y")).as("sxy"))
          .select(col("k").as("n_scales"),
            expr("CAST(round(1000.0*(k*sxy - sx*sy)/(k*sxx - sx*sx)) AS BIGINT)")
              .as("hurst_milli"))
      },
      Some("""WITH day AS (SELECT o_orderdate AS dt,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev
             |    FROM orders GROUP BY 1),
             |idx AS (SELECT row_number() OVER (ORDER BY dt) - 1 AS t, rev FROM day),
             |ws AS (SELECT unnest([8, 16, 32, 64, 128]) AS w),
             |blk AS (SELECT ws.w, t // ws.w AS b, t % ws.w AS j, rev
             |        FROM idx CROSS JOIN ws),
             |fb AS (SELECT w, b, sum(rev) AS s, sum(CAST(rev AS HUGEINT)*rev) AS ss
             |       FROM blk GROUP BY 1, 2 HAVING count(*) = w),
             |cum AS (SELECT blk.w, blk.b, blk.j, fb.s, fb.ss,
             |        sum(rev) OVER (PARTITION BY blk.w, blk.b ORDER BY j) AS c
             |       FROM blk JOIN fb ON fb.w = blk.w AND fb.b = blk.b),
             |dev AS (SELECT w, b, max(s) AS s, max(ss) AS ss,
             |        max(CAST(w AS HUGEINT)*c - (j+1)*s) AS dmax,
             |        min(CAST(w AS HUGEINT)*c - (j+1)*s) AS dmin
             |       FROM cum GROUP BY 1, 2),
             |rs AS (SELECT w, b,
             |        CAST(dmax - dmin AS DOUBLE)
             |          / sqrt(CAST(w*ss - CAST(s AS HUGEINT)*s AS DOUBLE)) AS rsv
             |       FROM dev WHERE w*ss - CAST(s AS HUGEINT)*s > 0),
             |pts AS (SELECT w, avg(rsv) AS mrs FROM rs GROUP BY 1),
             |q AS (SELECT ln(CAST(w AS DOUBLE)) AS x, ln(mrs) AS y FROM pts),
             |ols AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
             |        sum(x*x) AS sxx, sum(x*y) AS sxy FROM q)
             |SELECT CAST(k AS BIGINT) AS n_scales,
             |  CAST(round(1000.0*(k*sxy - sx*sy)/(k*sxx - sx*sx)) AS BIGINT)
             |    AS hurst_milli
             |FROM ols""".stripMargin)),


    // XmR individuals control chart — the Shewhart companion to
    // q_changepoint (which finds ONE level shift; this counts every
    // excursion past the 3σ-equivalent moving-range limits). Center
    // x̄, limits x̄ ± 2.66·MR̄, and the out-of-control test stays EXACT:
    // 2.66 = 133/50, so "x > UCL" is the integer comparison
    // 50·m·n·x > 50·m·S + 133·n·R — no float ever decides a violation.
    // One grouped daily sum, one lag pass on the calendar frame.
    QueryDef(
      "q_control_chart",
      (s, d) => {
        val day = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
        val mr = day.withColumn("r",
          abs(col("x") - lag("x", 1).over(Window.orderBy("dt"))))
        val tot = day.agg(count(lit(1)).as("n"), sum("x").as("s"))
        val rtot = mr.agg(count("r").as("m"), sum("r").as("rr"))
        val v = day.crossJoin(tot).crossJoin(rtot)
          .agg(
            sum(expr("""CASE WHEN CAST(50 AS DECIMAL(38,0))*m*n*x
                       | > CAST(50 AS DECIMAL(38,0))*m*s + CAST(133 AS DECIMAL(38,0))*n*rr
                       | THEN 1 ELSE 0 END""".stripMargin)).as("n_above"),
            sum(expr("""CASE WHEN CAST(50 AS DECIMAL(38,0))*m*n*x
                       | < CAST(50 AS DECIMAL(38,0))*m*s - CAST(133 AS DECIMAL(38,0))*n*rr
                       | THEN 1 ELSE 0 END""".stripMargin)).as("n_below"))
        v.crossJoin(tot).crossJoin(rtot)
          .select(col("n").as("n_days"),
            expr("CAST(s * 1000000 div n AS BIGINT)").as("center_micro"),
            expr("CAST(rr * 1000000 div m AS BIGINT)").as("mrbar_micro"),
            expr("""CAST((CAST(50 AS DECIMAL(38,0))*m*s + CAST(133 AS DECIMAL(38,0))*n*rr)
                   | * 1000000 div (CAST(50 AS DECIMAL(38,0))*m*n) AS BIGINT)"""
              .stripMargin).as("ucl_micro"),
            expr("""CAST((CAST(50 AS DECIMAL(38,0))*m*s - CAST(133 AS DECIMAL(38,0))*n*rr)
                   | * 1000000 div (CAST(50 AS DECIMAL(38,0))*m*n) AS BIGINT)"""
              .stripMargin).as("lcl_micro"),
            col("n_above").cast("long").as("n_above"),
            col("n_below").cast("long").as("n_below"),
            expr("CAST((n_above + n_below) * 1000000 div n AS BIGINT)")
              .as("ooc_share_micro"))
      },
      Some("""WITH day AS (SELECT o_orderdate AS dt,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS x
             |    FROM orders GROUP BY 1),
             |mr AS (SELECT dt, x, abs(x - lag(x) OVER (ORDER BY dt)) AS r FROM day),
             |tot AS (SELECT count(*) AS n, sum(x) AS s FROM day),
             |rtot AS (SELECT count(r) AS m, sum(r) AS rr FROM mr),
             |v AS (SELECT
             |    sum(CASE WHEN CAST(50 AS HUGEINT)*m*n*x
             |        > CAST(50 AS HUGEINT)*m*s + CAST(133 AS HUGEINT)*n*rr
             |        THEN 1 ELSE 0 END) AS n_above,
             |    sum(CASE WHEN CAST(50 AS HUGEINT)*m*n*x
             |        < CAST(50 AS HUGEINT)*m*s - CAST(133 AS HUGEINT)*n*rr
             |        THEN 1 ELSE 0 END) AS n_below
             |  FROM day CROSS JOIN tot CROSS JOIN rtot)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(s * 1000000 // n AS BIGINT) AS center_micro,
             |  CAST(rr * 1000000 // m AS BIGINT) AS mrbar_micro,
             |  CAST((CAST(50 AS HUGEINT)*m*s + CAST(133 AS HUGEINT)*n*rr) * 1000000
             |    // (CAST(50 AS HUGEINT)*m*n) AS BIGINT) AS ucl_micro,
             |  CAST((CAST(50 AS HUGEINT)*m*s - CAST(133 AS HUGEINT)*n*rr) * 1000000
             |    // (CAST(50 AS HUGEINT)*m*n) AS BIGINT) AS lcl_micro,
             |  CAST(n_above AS BIGINT) AS n_above, CAST(n_below AS BIGINT) AS n_below,
             |  CAST((n_above + n_below) * 1000000 // n AS BIGINT) AS ooc_share_micro
             |FROM v CROSS JOIN tot CROSS JOIN rtot""".stripMargin)),


    // Dickey-Fuller unit-root test — is daily revenue a random walk
    // (unit root: shocks persist forever) or stationary (shocks decay)?
    // Regress Δx_t on x_{t−1}: β near 0 means random walk, β near −1
    // means white noise around a level. All regression moments are exact
    // 128-bit integers off one lag pass; only the final t-ratio is a
    // double, judged against the asymptotic 5 % constant-only critical
    // value −2.86. Completes the stationarity battery next to
    // q_runs_test (randomness), q_ljung_box (joint ACF), q_hurst
    // (long memory), q_mann_kendall (monotone trend).
    QueryDef(
      "q_dickey_fuller",
      (s, d) => {
        val day = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
        val p = day.select(
            lag("x", 1).over(Window.orderBy("dt")).as("u"),
            (col("x") - lag("x", 1).over(Window.orderBy("dt"))).as("v"))
          .where(col("u").isNotNull)
        val m = p.agg(count(lit(1)).as("n"), sum("u").as("su"), sum("v").as("sv"),
          sum(expr("CAST(u AS DECIMAL(38,0))*u")).as("suu"),
          sum(expr("CAST(u AS DECIMAL(38,0))*v")).as("suv"),
          sum(expr("CAST(v AS DECIMAL(38,0))*v")).as("svv"))
        m.select(col("n"),
            expr("""CAST(CAST(n AS DECIMAL(38,0))*suv - CAST(su AS DECIMAL(38,0))*sv AS DOUBLE)
                   | / CAST(CAST(n AS DECIMAL(38,0))*suu - CAST(su AS DECIMAL(38,0))*su AS DOUBLE)"""
              .stripMargin).as("beta"),
            expr("""CAST(CAST(n AS DECIMAL(38,0))*suu - CAST(su AS DECIMAL(38,0))*su AS DOUBLE)/n"""
              ).as("sxx"),
            expr("CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)*sv/n").as("syy"))
          .select(col("n").as("n_days"),
            expr("CAST(round(1e9*beta) AS BIGINT)").as("beta_nano"),
            expr("""CAST(round(1000.0*beta
                   | / sqrt(((syy - beta*beta*sxx)/(n - 2))/sxx)) AS BIGINT)"""
              .stripMargin).as("t_milli"),
            expr("""CAST(CASE WHEN beta
                   | / sqrt(((syy - beta*beta*sxx)/(n - 2))/sxx) < -2.86
                   | THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
              .as("reject_unit_root"))
      },
      Some("""WITH day AS (SELECT o_orderdate AS dt,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS x
             |    FROM orders GROUP BY 1),
             |p AS (SELECT lag(x) OVER (ORDER BY dt) AS u,
             |        x - lag(x) OVER (ORDER BY dt) AS v FROM day),
             |m AS (SELECT count(*) AS n, sum(u) AS su, sum(v) AS sv,
             |        sum(CAST(u AS HUGEINT)*u) AS suu, sum(CAST(u AS HUGEINT)*v) AS suv,
             |        sum(CAST(v AS HUGEINT)*v) AS svv
             |      FROM p WHERE u IS NOT NULL),
             |f AS (SELECT n,
             |    CAST(CAST(n AS HUGEINT)*suv - CAST(su AS HUGEINT)*sv AS DOUBLE)
             |      / CAST(CAST(n AS HUGEINT)*suu - CAST(su AS HUGEINT)*su AS DOUBLE) AS beta,
             |    CAST(CAST(n AS HUGEINT)*suu - CAST(su AS HUGEINT)*su AS DOUBLE)/n AS sxx,
             |    CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)*sv/n AS syy
             |  FROM m),
             |t AS (SELECT n, beta, sxx, (syy - beta*beta*sxx) / (n - 2) AS mse FROM f)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(round(1e9*beta) AS BIGINT) AS beta_nano,
             |  CAST(round(1000.0*beta/sqrt(mse/sxx)) AS BIGINT) AS t_milli,
             |  CAST(CASE WHEN beta/sqrt(mse/sxx) < -2.86 THEN 1 ELSE 0 END AS BIGINT)
             |    AS reject_unit_root
             |FROM t""".stripMargin)),


    // population stability index of the value distribution between the
    // January halves — THE industry drift gate for deployed-model
    // inputs (PSI < 0.1 stable, > 0.25 retrain). Ten fixed 50-unit bins
    // with +1 Laplace smoothing so one-sided bins contribute finite
    // mass; shares are exact integer micro, each bin's (q−p)·ln(q/p)
    // term is one mirrored IEEE expression micro-rounded per bin. The
    // per-bin view names WHERE the shift sits — the actionable readout
    // beside q_quantile_drift's envelope and q_ks_test's statistic.
    QueryDef(
      "q_psi",
      (s, d) => {
        val e = Tables.events(s, d).where(col("value").isNotNull)
          .select(expr("CAST(round(value*100) AS BIGINT)").as("c"),
            when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
              0L).otherwise(1L).as("half"))
        val b = e.select(expr("least(c div 5000, 9)").as("bin"), col("half"))
          .groupBy("bin", "half").agg(count(lit(1)).as("n"))
        val grid = e.sparkSession.range(10).select(col("id").as("bin"))
        val cells = grid
          .join(b.where(col("half") === 0).select(col("bin"), col("n").as("n0")),
            Seq("bin"), "left")
          .join(b.where(col("half") === 1).select(col("bin"), col("n").as("n1")),
            Seq("bin"), "left")
          .select(col("bin"), (coalesce(col("n0"), lit(0L)) + 1L).as("ne"),
            (coalesce(col("n1"), lit(0L)) + 1L).as("na"))
        val den = b.agg(
          (sum(when(col("half") === 0, col("n")).otherwise(0L)) + 10L).as("de"),
          (sum(when(col("half") === 1, col("n")).otherwise(0L)) + 10L).as("da"))
        cells.crossJoin(den)
          .select(col("bin").cast("long").as("bin"),
            expr("CAST((1000000 * ne) div de AS BIGINT)").as("expected_micro"),
            expr("CAST((1000000 * na) div da AS BIGINT)").as("actual_micro"),
            expr("""CAST(round(1000000.0 * (CAST(na AS DOUBLE)/da - CAST(ne AS DOUBLE)/de)
                   |  * ln((CAST(na AS DOUBLE)/da) / (CAST(ne AS DOUBLE)/de))) AS BIGINT)"""
              .stripMargin).as("psi_term_micro"))
          .orderBy("bin")
      },
      Some("""WITH e AS (SELECT CAST(round(value*100) AS BIGINT) AS c,
             |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS half
             |  FROM events WHERE value IS NOT NULL),
             |b AS (SELECT least(c // 5000, 9) AS bin, half, count(*) AS n FROM e GROUP BY 1, 2),
             |grid AS (SELECT unnest(range(0, 10)) AS bin),
             |cells AS (SELECT g.bin,
             |    coalesce(b0.n, 0) + 1 AS ne, coalesce(b1.n, 0) + 1 AS na
             |  FROM grid g
             |  LEFT JOIN b b0 ON b0.bin = g.bin AND b0.half = 0
             |  LEFT JOIN b b1 ON b1.bin = g.bin AND b1.half = 1),
             |den AS (SELECT sum(CASE WHEN half = 0 THEN n ELSE 0 END) + 10 AS de,
             |    sum(CASE WHEN half = 1 THEN n ELSE 0 END) + 10 AS da FROM b)
             |SELECT CAST(bin AS BIGINT) AS bin,
             |  CAST((1000000 * ne) // de AS BIGINT) AS expected_micro,
             |  CAST((1000000 * na) // da AS BIGINT) AS actual_micro,
             |  CAST(round(1000000.0 * (CAST(na AS DOUBLE)/da - CAST(ne AS DOUBLE)/de)
             |    * ln((CAST(na AS DOUBLE)/da) / (CAST(ne AS DOUBLE)/de))) AS BIGINT) AS psi_term_micro
             |FROM cells CROSS JOIN den ORDER BY bin""".stripMargin)),


    // pinball (quantile) loss eval of a P90 forecast — train the
    // per-type 90th-percentile threshold on the first January half as
    // an EXACT discrete order statistic (smallest value whose running
    // count reaches ⌈0.9·n⌉, computed on the type-PARTITIONED value
    // histogram — never an interpolated quantile whose last-ulp could
    // flip a cent), then score the second half with the asymmetric
    // pinball loss 0.9·(y−q)⁺ + 0.1·(q−y)⁺ in exact deci-cent integer
    // arithmetic. The eval loop every quantile forecaster (safety
    // stock, SLA sizing, demand P90) is accepted on.
    QueryDef(
      "q_pinball_eval",
      (s, d) => {
        val e = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("event_type"),
            expr("CAST(round(value*100) AS BIGINT)").as("c"),
            when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
              0L).otherwise(1L).as("half"))
        val h = e.where(col("half") === 0)
          .groupBy("event_type", "c").agg(count(lit(1)).as("n"))
        val cum = h.withColumn("cm",
          sum("n").over(Window.partitionBy("event_type").orderBy("c")
            .rowsBetween(Window.unboundedPreceding, 0)))
        val tt = h.groupBy("event_type").agg(sum("n").as("nt"))
        val q = cum.join(tt, "event_type")
          .where(expr("cm >= (9 * nt + 9) div 10"))
          .groupBy("event_type").agg(min("c").as("qhat"))
        e.where(col("half") === 1).join(q, "event_type")
          .groupBy("event_type")
          .agg(max("qhat").as("qhat_cents"), count(lit(1)).as("n_test"),
            sum(expr("CASE WHEN c >= qhat THEN 9 * (c - qhat) ELSE qhat - c END"))
              .as("ls"))
          .select(col("event_type"), col("qhat_cents"),
            col("n_test").cast("long").as("n_test"),
            expr("CAST(ls div (10 * n_test) AS BIGINT)").as("pinball_cents"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c,
             |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS half
             |  FROM events WHERE value IS NOT NULL),
             |h AS (SELECT event_type, c, count(*) AS n FROM e WHERE half = 0 GROUP BY 1, 2),
             |cum AS (SELECT event_type, c,
             |    sum(n) OVER (PARTITION BY event_type ORDER BY c
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm FROM h),
             |tt AS (SELECT event_type, sum(n) AS nt FROM h GROUP BY 1),
             |q AS (SELECT c2.event_type, min(c2.c) AS qhat FROM cum c2 JOIN tt USING (event_type)
             |  WHERE c2.cm >= (9 * nt + 9) // 10 GROUP BY 1),
             |test AS (SELECT e.event_type, e.c, q.qhat FROM e JOIN q USING (event_type) WHERE half = 1),
             |loss AS (SELECT event_type, any_value(qhat) AS qhat_cents, count(*) AS n_test,
             |    sum(CASE WHEN c >= qhat THEN 9 * (c - qhat) ELSE qhat - c END) AS ls
             |  FROM test GROUP BY 1)
             |SELECT event_type, qhat_cents, CAST(n_test AS BIGINT) AS n_test,
             |  CAST(ls // (10 * n_test) AS BIGINT) AS pinball_cents
             |FROM loss ORDER BY event_type""".stripMargin)),


    // Croston's intermittent-demand estimate per brand — the forecast
    // form for SKUs that sell in occasional lumps, where a plain moving
    // average smears zeros into the level: demand rate = (mean nonzero
    // monthly demand) / (mean inter-demand interval in months), both
    // read off the brand's ACTIVE months against its observed calendar
    // span. This is the closed-form rate (Croston's ratio z̄/p̄), not
    // the order-dependent SES recursion — the distributed-friendly
    // form. One lineitem aggregate to monthly grain, a broadcast
    // part-dim join, and a ≤ |brands|-row readout; rates are exact
    // integer milli over exact unit sums.
    QueryDef(
      "q_croston",
      (s, d) => {
        val bm = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand").as("brand"),
            date_trunc("month", col("l_shipdate")).as("m"))
          .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("dem"))
        val cal = bm.agg(countDistinct("m").as("months"))
        bm.groupBy("brand")
          .agg(count(lit(1)).as("active_months"),
            sum(expr("CAST(dem AS DECIMAL(38,0))")).as("units"))
          .crossJoin(cal)
          .select(col("brand"),
            col("active_months").cast("long").as("active_months"),
            col("months").cast("long").as("span_months"),
            col("units").cast("long").as("units"),
            // z̄ = units/active, p̄ = span/active ⇒ rate = units/span
            // kept as the two Croston components plus the rate
            expr("CAST((1000 * units) div active_months AS BIGINT)")
              .as("mean_demand_milli"),
            expr("CAST((1000 * months) div active_months AS BIGINT)")
              .as("mean_interval_milli"),
            expr("CAST((1000 * units) div months AS BIGINT)")
              .as("rate_milli"))
          .orderBy("brand")
      },
      Some("""WITH bm AS (SELECT p.p_brand AS brand,
             |    date_trunc('month', CAST(l.l_shipdate AS TIMESTAMP)) AS m,
             |    sum(CAST(round(l.l_quantity) AS BIGINT)) AS dem
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |  GROUP BY 1, 2),
             |cal AS (SELECT count(DISTINCT m) AS months FROM bm),
             |b AS (SELECT brand, count(*) AS active_months,
             |    sum(CAST(dem AS HUGEINT)) AS units FROM bm GROUP BY 1)
             |SELECT brand, CAST(active_months AS BIGINT) AS active_months,
             |  CAST(months AS BIGINT) AS span_months,
             |  CAST(units AS BIGINT) AS units,
             |  CAST((1000 * units) // active_months AS BIGINT) AS mean_demand_milli,
             |  CAST((1000 * months) // active_months AS BIGINT) AS mean_interval_milli,
             |  CAST((1000 * units) // months AS BIGINT) AS rate_milli
             |FROM b CROSS JOIN cal ORDER BY brand""".stripMargin)),
  )
}
