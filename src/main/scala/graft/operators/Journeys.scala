package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-journey analytics over the `events` stream: ordered conversion
  * funnels, touch attribution (first/position/time-decay/Shapley), path
  * mining, and the Markov-chain family (stationary distribution,
  * absorption steps). Split from [[Behavioral]] round 15 (mechanical
  * move, zero query changes); the sequencing shapes all shuffle once on
  * `user_id` and reduce to bounded type-pair domains after that.
  */
object Journeys {

  val defs: Seq[QueryDef] = Seq(


    // ordered conversion funnel view → click → purchase: each later stage
    // must happen strictly AFTER the user's earliest completion of the
    // prior stage (min-ts semantics, not mere set membership — a purchase
    // before the first view does not convert). Three conditional
    // aggregations, each one user_id-keyed shuffle; the two stage joins
    // are on the 150-row per-user frames and broadcast.
    QueryDef(
      "q_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("view_ts"))
        val c = ev.join(v, "user_id")
          .where(col("event_type") === "click" && col("ts") > col("view_ts"))
          .groupBy("user_id").agg(min("ts").as("click_ts"))
        val p = ev.join(c, "user_id")
          .where(col("event_type") === "purchase" && col("ts") > col("click_ts"))
          .groupBy("user_id").agg(min("ts").as("purchase_ts"))
        Tables.events(s, d).select("user_id").distinct()
          .join(v, Seq("user_id"), "left")
          .join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .select(col("user_id"), col("view_ts"), col("click_ts"),
            col("purchase_ts"),
            when(col("purchase_ts").isNotNull, "purchase")
              .when(col("click_ts").isNotNull, "click")
              .when(col("view_ts").isNotNull, "view")
              .otherwise("none").as("stage"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
             |v AS (SELECT user_id, min(ts) AS view_ts FROM ev
             |      WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM ev e JOIN v USING (user_id)
             |      WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM ev e JOIN c USING (user_id)
             |      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
             |SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
             |  CASE WHEN p.purchase_ts IS NOT NULL THEN 'purchase'
             |       WHEN c.click_ts IS NOT NULL THEN 'click'
             |       WHEN v.view_ts IS NOT NULL THEN 'view'
             |       ELSE 'none' END AS stage
             |FROM (SELECT DISTINCT user_id FROM ev) u
             |LEFT JOIN v USING (user_id)
             |LEFT JOIN c USING (user_id)
             |LEFT JOIN p USING (user_id)
             |ORDER BY u.user_id""".stripMargin)),


    // Event-type Markov transition matrix: (from, to) counts over each
    // user's time-ordered event sequence, plus the row-normalized share in
    // integer micros. The lead() window shuffles once on user_id (same key
    // as every query in this file — bucketed storage removes it at scale);
    // the per-from_type normalizing window runs over the AGGREGATED
    // |types|² table (≤ dozens of rows), never the raw events, so the
    // bounded-domain partition is post-agg and skew-free.
    QueryDef(
      "q_event_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val seq = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("to_type", lead("event_type", 1).over(w))
          .where(col("to_type").isNotNull)
        val counts = seq.groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        counts
          .withColumn("from_total",
            sum("n").over(Window.partitionBy("from_type")))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("(n * CAST(1000000 AS BIGINT)) div from_total").as("share_micro"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH seq AS (
             |  SELECT event_type AS from_type,
             |         lead(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS to_type
             |  FROM events)
             |SELECT from_type, to_type, count(*) AS n,
             |  (count(*) * 1000000) // CAST(sum(count(*))
             |     OVER (PARTITION BY from_type) AS BIGINT) AS share_micro
             |FROM seq WHERE to_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),


    // time-BOUNDED funnel: q_funnel's ordered stages with a 24 h max gap
    // per step (a click only converts within a day of the first view, a
    // purchase within a day of that click) — the form product analytics
    // actually reports, since unbounded funnels only ever grow. Output is
    // the 3-row stage-count summary; the three per-user stage frames join
    // left-to-right and are counted in ONE aggregate (explode fans the
    // single summary row out), so the events scan's per-stage subtrees
    // share their user_id exchanges instead of running once per stage
    // row.
    QueryDef(
      "q_windowed_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("view_ts"))
        val c = ev.join(v, "user_id")
          .where(col("event_type") === "click" && col("ts") > col("view_ts") &&
            col("ts") <= col("view_ts") + expr("INTERVAL 24 HOURS"))
          .groupBy("user_id").agg(min("ts").as("click_ts"))
        val p = ev.join(c, "user_id")
          .where(col("event_type") === "purchase" && col("ts") > col("click_ts") &&
            col("ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
          .groupBy("user_id").agg(min("ts").as("purchase_ts"))
        val summary = v.join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .agg(count("view_ts").as("n_view"), count("click_ts").as("n_click"),
            count("purchase_ts").as("n_purchase"))
        summary.select(explode(array(
            struct(lit("1_view").as("stage"), col("n_view").as("users")),
            struct(lit("2_click").as("stage"), col("n_click").as("users")),
            struct(lit("3_purchase").as("stage"), col("n_purchase").as("users"))))
            .as("r"))
          .select("r.*")
          .orderBy("stage")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |              CAST(ts AS TIMESTAMP) AS ts FROM events),
             |v AS (SELECT user_id, min(ts) AS view_ts FROM ev
             |      WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS click_ts
             |      FROM ev e JOIN v USING (user_id)
             |      WHERE e.event_type = 'click' AND e.ts > v.view_ts
             |        AND e.ts <= v.view_ts + INTERVAL 24 HOUR GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
             |      FROM ev e JOIN c USING (user_id)
             |      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
             |        AND e.ts <= c.click_ts + INTERVAL 24 HOUR GROUP BY 1)
             |SELECT stage, users FROM (
             |  SELECT '1_view' AS stage, count(*) AS users FROM v
             |  UNION ALL SELECT '2_click', count(*) FROM c
             |  UNION ALL SELECT '3_purchase', count(*) FROM p)
             |ORDER BY stage""".stripMargin)),


    // time-to-convert distribution: RANK-EXACT p25/p50/p75/p90 of the
    // view→click delay in whole seconds over converting users — the
    // latency histogram beside the funnel counts. Rank-ceil percentiles
    // ((q·n + 99) div 100, the q_winsorize convention) cannot drift by an
    // ulp across engines the way interpolating ones do. The duration
    // table is one row per converting user — user-scaled, so its global
    // rank rides GlobalOrder's range shuffle (never a partitionless
    // window funneling every converter through one task) and the four
    // percentile ranks are generated from the one-row count and
    // broadcast-joined back, the q_equidepth_hist shape: the big side
    // is touched once per pass, fully parallel at any scale.
    QueryDef(
      "q_time_to_convert",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("view_ts"))
        val c = ev.join(v, "user_id")
          .where(col("event_type") === "click" && col("ts") > col("view_ts"))
          .groupBy("user_id").agg(min("ts").as("click_ts"))
        val dur = c.join(v, "user_id")
          .select(col("user_id"),
            (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts")))
              .as("secs"))
        val r = GlobalOrder.withGlobalRowNumber(dur,
          Seq(col("secs").asc, col("user_id").asc), "rn")
        val edgeRanks = dur.agg(count(lit(1)).as("n"))
          .select(explode(array(lit(25), lit(50), lit(75), lit(90))).as("q"),
            col("n"))
          .select(col("q"), expr("(q * n + 99) div 100").as("rn"))
        r.join(broadcast(edgeRanks), "rn")
          .select(col("q"), col("secs")).orderBy("q")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |              CAST(ts AS TIMESTAMP) AS ts FROM events),
             |v AS (SELECT user_id, min(ts) AS view_ts FROM ev
             |      WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS click_ts
             |      FROM ev e JOIN v USING (user_id)
             |      WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
             |dur AS (SELECT c.user_id,
             |          CAST(date_diff('second', v.view_ts, c.click_ts) AS BIGINT) AS secs
             |        FROM c JOIN v USING (user_id)),
             |r AS (SELECT secs, row_number() OVER (ORDER BY secs, user_id) AS rn,
             |        count(*) OVER () AS n FROM dur)
             |SELECT q, secs FROM (
             |  SELECT 25 AS q, secs FROM r WHERE rn = (25*n + 99) // 100
             |  UNION ALL SELECT 50, secs FROM r WHERE rn = (50*n + 99) // 100
             |  UNION ALL SELECT 75, secs FROM r WHERE rn = (75*n + 99) // 100
             |  UNION ALL SELECT 90, secs FROM r WHERE rn = (90*n + 99) // 100)
             |ORDER BY q""".stripMargin)),


    // first-touch attribution: every user's purchase count and micro-
    // quantized purchase value credited to the event type that FIRST
    // brought them in (rank-1 by ts with event_id tiebreak — argmin made
    // deterministic). Two user_id-keyed frames joined on the same key;
    // the report aggregate is map-combined over the bounded type domain.
    QueryDef(
      "q_first_touch",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select("user_id", "event_type", "value", "ts", "event_id")
        val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ft = ev.withColumn("rn", row_number().over(wu))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("first_touch"))
        val pv = ev.where(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(round(col("value") * 1e6).cast("long")).as("value_micro"),
            count(lit(1)).as("purchases"))
        ft.join(pv, Seq("user_id"), "left")
          .groupBy("first_touch")
          .agg(count(lit(1)).as("users"),
            coalesce(sum("purchases"), lit(0L)).as("purchases"),
            coalesce(sum("value_micro"), lit(0L)).as("value_micro"))
          .orderBy("first_touch")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, value,
             |              CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
             |ft AS (SELECT user_id, event_type AS first_touch FROM (
             |    SELECT user_id, event_type,
             |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |    FROM ev) WHERE rn = 1),
             |pv AS (SELECT user_id,
             |         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             |           AS value_micro,
             |         count(*) AS purchases
             |       FROM ev WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT f.first_touch, count(*) AS users,
             |  CAST(coalesce(sum(p.purchases), 0) AS BIGINT) AS purchases,
             |  CAST(coalesce(sum(p.value_micro), 0) AS BIGINT) AS value_micro
             |FROM ft f LEFT JOIN pv p USING (user_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),


    // second-order behavior: the top-20 three-step event-type paths —
    // where q_event_transitions sees only pairwise hops, this is the
    // shortest window in which "view→view→click" separates from
    // "click→view→view" (what sequence models and funnel designers
    // actually consume). Two lags over ONE user-keyed window pass (same
    // exchange), then a count rollup; top-20 under a total order.
    QueryDef(
      "q_path_triples",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("p1", lag("event_type", 1).over(w))
          .withColumn("p2", lag("event_type", 2).over(w))
          .where(col("p2").isNotNull)
          .groupBy(col("p2").as("step1"), col("p1").as("step2"),
            col("event_type").as("step3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
          .limit(20)
      },
      Some("""WITH s AS (SELECT user_id, event_type, ts, event_id,
             |        lag(event_type, 1) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) AS p1,
             |        lag(event_type, 2) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) AS p2
             |      FROM events)
             |SELECT p2 AS step1, p1 AS step2, event_type AS step3, count(*) AS n
             |FROM s WHERE p2 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin)),


    // position-based (U-shaped) multi-touch attribution — the marketing
    // credit model beside q_first_touch's single-touch rule: each
    // converting user's pre-first-purchase view/click touches share one
    // unit of credit 40/20/40 (first / evenly-split middles / last;
    // k=1 takes all, k=2 splits 50/50). Credits are exact integer micro
    // (middle share is one positive integer division), windows are
    // user-partitioned (the natural 100 TB key), and the rollup is one
    // grouped sum per touch type.
    QueryDef(
      "q_position_attribution",
      (s, d) => {
        val ev = Tables.events(s, d)
        val fp = ev.where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("ts").as("pts"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val t = ev.where(col("event_type").isin("view", "click"))
          .join(fp, "user_id").where(col("ts") < col("pts"))
          .select(col("event_type"),
            row_number().over(w).as("r"),
            count(lit(1)).over(Window.partitionBy("user_id")).as("k"))
        t.select(col("event_type"),
            expr("""CASE WHEN k = 1 THEN 1000000
                   |     WHEN r = 1 OR r = k THEN CASE WHEN k = 2 THEN 500000 ELSE 400000 END
                   |     ELSE 200000 div (k - 2) END""".stripMargin).as("credit"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_touches"),
            sum("credit").cast("long").as("credit_micro_total"))
          .orderBy("event_type")
      },
      Some("""WITH fp AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS pts FROM events
             |      WHERE event_type='purchase' GROUP BY 1),
             |t AS (SELECT e.event_type,
             |        row_number() OVER (PARTITION BY e.user_id
             |          ORDER BY CAST(e.ts AS TIMESTAMP), e.event_id) AS r,
             |        count(*) OVER (PARTITION BY e.user_id) AS k
             |      FROM events e JOIN fp ON fp.user_id = e.user_id
             |      WHERE e.event_type IN ('view','click') AND CAST(e.ts AS TIMESTAMP) < fp.pts),
             |c AS (SELECT event_type,
             |        CASE WHEN k = 1 THEN 1000000
             |             WHEN r = 1 OR r = k THEN CASE WHEN k = 2 THEN 500000 ELSE 400000 END
             |             ELSE 200000 // (k - 2) END AS credit
             |      FROM t)
             |SELECT event_type, count(*) AS n_touches,
             |  CAST(sum(credit) AS BIGINT) AS credit_micro_total
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),


    // time-decay multi-touch attribution — the fifth model beside
    // U-shaped (q_position_attribution) and linear/first/last
    // (q_attribution_compare): each pre-purchase touch earns weight
    // halving per 7 days of distance to the conversion, normalized per
    // user so every conversion distributes exactly one credit. The
    // decay is the EXACT integer 10⁶ ≫ (age_days div 7) (the
    // q_decay_popularity bit-shift convention — no libm in the weight),
    // and the per-user normalizer is a user-partitioned window sum, so
    // every credit is an exact integer ratio.
    QueryDef(
      "q_time_decay_attribution",
      (s, d) => {
        val ev = Tables.events(s, d)
        val fp = ev.where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min(expr("CAST(ts AS DATE)")).as("pd"))
        val t = ev.where(col("event_type").isin("view", "click"))
          .join(fp, "user_id")
          .where(col("ts").cast("date") <= col("pd"))
          .select(col("user_id"), col("event_type"),
            // clamp to ≥ 1: past 20 weeks the shift exceeds 10⁶ and the
            // integer weight would underflow to 0 — a user whose every
            // touch is that old would get tw = 0 and credit = 0/0 (NULL
            // in Spark ANSI-off, a division error in DuckDB — the
            // silhouette crash-vs-value class), silently violating
            // "every conversion distributes exactly one credit"
            expr("""greatest(1000000 div shiftleft(CAST(1 AS BIGINT),
                   |  CAST(least(datediff(pd, CAST(ts AS DATE)) div 7, 62) AS INT)),
                   |  CAST(1 AS BIGINT))""".stripMargin).as("w"))
        val norm = t.withColumn("tw",
          sum("w").over(Window.partitionBy("user_id")))
        norm.select(col("event_type"),
            expr("(1000000 * w) div tw").as("credit"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_touches"),
            sum("credit").cast("long").as("credit_micro_total"))
          .orderBy("event_type")
      },
      Some("""WITH fp AS (SELECT user_id, min(CAST(ts AS DATE)) AS pd FROM events
             |      WHERE event_type='purchase' GROUP BY 1),
             |t AS (SELECT e.user_id, e.event_type,
             |        greatest(1000000 // (CAST(1 AS BIGINT) << least(
             |          (fp.pd - CAST(e.ts AS DATE)) // 7, 62)), 1) AS w
             |      FROM events e JOIN fp ON fp.user_id = e.user_id
             |      WHERE e.event_type IN ('view','click')
             |        AND CAST(e.ts AS DATE) <= fp.pd),
             |n AS (SELECT event_type, w,
             |        sum(w) OVER (PARTITION BY user_id) AS tw FROM t),
             |c AS (SELECT event_type, (1000000 * w) // tw AS credit FROM n)
             |SELECT event_type, count(*) AS n_touches,
             |  CAST(sum(credit) AS BIGINT) AS credit_micro_total
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),


    // event-time disorder profile with the watermark-loss curve — the
    // measurement every Structured Streaming watermark is tuned from:
    // within each user's stream (event_id as arrival order), an event
    // is LATE by the gap to the user's running-max event time, and the
    // readout is the share of events a 1-minute / 5-minute / 15-minute
    // watermark would drop. Lateness rides ONE user-partitioned running
    // max in exact epoch-micro space; the loss curve is one conditional
    // aggregate. The synthetic stream arrives nearly in order, so small
    // losses here are the honest green light the streaming suite's
    // fixed watermarks rely on.
    QueryDef(
      "q_disorder_profile",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"))
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val late = e
          .withColumn("mx", max("tsu").over(w))
          .select(
            when(col("mx").isNotNull && col("mx") > col("tsu"),
              col("mx") - col("tsu")).otherwise(lit(0L)).as("late_us"))
        late.agg(count(lit(1)).as("n"),
            sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
            max("late_us").as("max_late_us"),
            sum(when(col("late_us") > 60000000L, 1L).otherwise(0L)).as("l1"),
            sum(when(col("late_us") > 300000000L, 1L).otherwise(0L)).as("l5"),
            sum(when(col("late_us") > 900000000L, 1L).otherwise(0L)).as("l15"))
          .select(col("n").cast("long").as("n_events"),
            expr("CAST((1000000 * n_late) div n AS BIGINT)").as("late_share_micro"),
            expr("CAST(max_late_us div 1000000 AS BIGINT)").as("max_late_sec"),
            expr("CAST((1000000 * l1) div n AS BIGINT)").as("lost_at_1m_micro"),
            expr("CAST((1000000 * l5) div n AS BIGINT)").as("lost_at_5m_micro"),
            expr("CAST((1000000 * l15) div n AS BIGINT)").as("lost_at_15m_micro"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu FROM events),
             |l AS (SELECT CASE WHEN mx IS NOT NULL AND mx > tsu
             |        THEN mx - tsu ELSE 0 END AS late_us
             |  FROM (SELECT tsu, max(tsu) OVER (PARTITION BY user_id
             |      ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING) AS mx FROM e)),
             |a AS (SELECT count(*) AS n,
             |    sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS n_late,
             |    max(late_us) AS max_late_us,
             |    sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS l1,
             |    sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END) AS l5,
             |    sum(CASE WHEN late_us > 900000000 THEN 1 ELSE 0 END) AS l15
             |  FROM l)
             |SELECT CAST(n AS BIGINT) AS n_events,
             |  CAST((1000000 * n_late) // n AS BIGINT) AS late_share_micro,
             |  CAST(max_late_us // 1000000 AS BIGINT) AS max_late_sec,
             |  CAST((1000000 * l1) // n AS BIGINT) AS lost_at_1m_micro,
             |  CAST((1000000 * l5) // n AS BIGINT) AS lost_at_5m_micro,
             |  CAST((1000000 * l15) // n AS BIGINT) AS lost_at_15m_micro
             |FROM a""".stripMargin)),


    // per-user Markov sequence surprisal — the behavioral anomaly score:
    // fit the global first-order event-type transition model, then score
    // each user's own sequence by total/per-step negative log-likelihood.
    // The model is a 25-cell broadcast table with each cell's
    // −ln P(to|from) nano-quantized ONCE (the q_mutual_info bounded-term
    // convention: both engines round the identical double before any
    // integer arithmetic); per-user scores are then exact integer sums of
    // (cell count × nano term). Transitions come from one user-partitioned
    // lead window; everything downstream of the two grouped counts is
    // bounded by the 5×5 type grid. Top-20 by per-step surprisal — the
    // fixture's value⊥type independence puts all users near ln(5), the
    // honest null, but micro-grain ordering is still deterministic.
    QueryDef(
      "q_sequence_surprisal",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = Tables.events(s, d)
          .select(col("user_id"), col("event_type").as("f"),
            lead("event_type", 1).over(w).as("t"))
          .where(col("t").isNotNull)
        val g = tr.groupBy("f", "t").agg(count(lit(1)).as("n"))
        val gf = g.groupBy("f").agg(sum("n").as("nf"))
        val lnterm = g.join(gf, "f")
          .select(col("f"), col("t"),
            expr("CAST(round(ln(CAST(nf AS DOUBLE)/CAST(n AS DOUBLE)) * 1e9) AS BIGINT)")
              .as("s_nano"))
        val u = tr.groupBy("user_id", "f", "t").agg(count(lit(1)).as("c"))
        u.join(broadcast(lnterm), Seq("f", "t"))
          .groupBy("user_id")
          .agg(sum("c").as("n_transitions"),
            sum(col("c") * col("s_nano")).as("tot_nano"))
          .select(col("user_id"), col("n_transitions"),
            expr("tot_nano div 1000").as("surprisal_micro"),
            expr("tot_nano div n_transitions div 1000").as("per_step_micro"))
          .orderBy(col("per_step_micro").desc, col("user_id")).limit(20)
      },
      Some("""WITH seq AS (SELECT user_id, event_type AS f,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t FROM events),
             |tr AS (SELECT user_id, f, t FROM seq WHERE t IS NOT NULL),
             |g AS (SELECT f, t, count(*) AS n FROM tr GROUP BY 1, 2),
             |gf AS (SELECT f, sum(n) AS nf FROM g GROUP BY 1),
             |lnterm AS (SELECT g.f, g.t,
             |    CAST(round(ln(CAST(gf.nf AS DOUBLE)/CAST(g.n AS DOUBLE)) * 1e9) AS BIGINT)
             |      AS s_nano
             |  FROM g JOIN gf USING (f)),
             |u AS (SELECT user_id, f, t, count(*) AS c FROM tr GROUP BY 1, 2, 3),
             |su AS (SELECT u.user_id, sum(u.c) AS n_transitions,
             |         sum(u.c * l.s_nano) AS tot_nano
             |       FROM u JOIN lnterm l ON l.f = u.f AND l.t = u.t GROUP BY 1)
             |SELECT user_id, CAST(n_transitions AS BIGINT) AS n_transitions,
             |  CAST(tot_nano // 1000 AS BIGINT) AS surprisal_micro,
             |  CAST(tot_nano // n_transitions // 1000 AS BIGINT) AS per_step_micro
             |FROM su ORDER BY per_step_micro DESC, user_id LIMIT 20""".stripMargin)),


    // side-by-side attribution-model comparison — linear / first-touch /
    // last-touch credit per touch type from ONE windowed frame (the
    // q_position_attribution pre-conversion frame): the report a marketing
    // platform shows before picking a credit rule. Linear credit
    // 1000000 div k is exact integer micro; first/last are indicator
    // sums. One user-keyed shuffle, one grouped rollup.
    QueryDef(
      "q_attribution_compare",
      (s, d) => {
        val ev = Tables.events(s, d)
        val fp = ev.where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("ts").as("pts"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val t = ev.where(col("event_type").isin("view", "click"))
          .join(fp, "user_id").where(col("ts") < col("pts"))
          .select(col("event_type"),
            row_number().over(w).as("r"),
            count(lit(1)).over(Window.partitionBy("user_id")).as("k"))
        t.groupBy("event_type")
          .agg(sum(expr("1000000 div k")).cast("long").as("linear_micro"),
            sum(when(col("r") === 1, 1000000L).otherwise(0L)).as("first_micro"),
            sum(when(col("r") === col("k"), 1000000L).otherwise(0L)).as("last_micro"))
          .orderBy("event_type")
      },
      Some("""WITH fp AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS pts FROM events
             |      WHERE event_type='purchase' GROUP BY 1),
             |t AS (SELECT e.event_type,
             |        row_number() OVER (PARTITION BY e.user_id
             |          ORDER BY CAST(e.ts AS TIMESTAMP), e.event_id) AS r,
             |        count(*) OVER (PARTITION BY e.user_id) AS k
             |      FROM events e JOIN fp ON fp.user_id = e.user_id
             |      WHERE e.event_type IN ('view','click') AND CAST(e.ts AS TIMESTAMP) < fp.pts)
             |SELECT event_type,
             |  CAST(sum(1000000 // k) AS BIGINT) AS linear_micro,
             |  CAST(sum(CASE WHEN r = 1 THEN 1000000 ELSE 0 END) AS BIGINT) AS first_micro,
             |  CAST(sum(CASE WHEN r = k THEN 1000000 ELSE 0 END) AS BIGINT) AS last_micro
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),


    // stationary distribution of the event-type Markov chain — where a
    // user's session settles in the long run, the one-vector summary of
    // q_event_transitions' 5×5 matrix. Ten power iterations entirely in
    // 1e9 fixed point: each per-edge contribution is the exact truncating
    // π·c div rowtot on 128-bit-widened products (order-free under
    // summation — the q_pagerank trick), and every frame after the ONE
    // user-partitioned lead + grouped count is bounded by the |types|²
    // transition domain.
    QueryDef(
      "q_markov_stationary",
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = Tables.events(s, d)
          .select(col("event_type").as("a"),
            lead("event_type", 1).over(wu).as("b"))
          .where(col("b").isNotNull)
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
        val rs = tr.groupBy("a").agg(sum("c").as("tot"))
        // bounded-domain iterative-loop convention (q_pagerank form): the
        // |types|²-bounded transition frame persists ONCE with the row
        // total pre-joined — its lineage is the corpus-scaled
        // lead-window scan, which every uncut broadcast round used to
        // replay — but no repartition and no cuts: the remaining replay
        // is over the persisted ≤|types|² frame, and per-round
        // checkpoints cost more than they save at this size
        val trj = Loop.pinnedPersist(tr.join(rs, "a"))
        val sts = trj.select(col("a").as("st")).distinct()
        val ns = sts.agg(count(lit(1)).as("k"))
        var pi = sts.crossJoin(broadcast(ns))
          .select(col("st"), expr("CAST(1000000000 div k AS BIGINT)").as("pi"))
        for (_ <- 1 to 10) {
          pi = trj.join(pi, col("a") === col("st"))
            .groupBy(col("b").as("st2"))
            .agg(sum(expr("CAST(pi AS DECIMAL(38,0)) * c div tot")).as("pi"))
            .select(col("st2").as("st"), col("pi").cast("long").as("pi"))
        }
        pi.select(col("st").as("event_type"), col("pi").as("pi_nano"))
          .orderBy("event_type")
      },
      Some(markovOracle)),


    // top daily journeys — the first three event types of each (user, day)
    // as a path string, ranked by frequency: the entry-flow report behind
    // q_event_transitions' edge view. The per-(user, day) rank window is
    // partitioned; the path assembles from three conditional MIN aggs (no
    // ordered string_agg crosses the engine boundary), and the top-10 is a
    // sort-limit (TakeOrdered), never a global window.
    QueryDef(
      "q_top_paths",
      (s, d) => {
        val w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
        val r = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type"), col("ts"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
        r.groupBy("user_id", "day")
          .agg(min(when(col("rn") === 1, col("event_type"))).as("t1"),
            min(when(col("rn") === 2, col("event_type"))).as("t2"),
            min(when(col("rn") === 3, col("event_type"))).as("t3"))
          .where(col("t3").isNotNull)
          .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_user_days"))
          .orderBy(col("n_user_days").desc, col("path")).limit(10)
      },
      Some("""WITH r AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
             |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
             |      ORDER BY ts, event_id) AS rn
             |  FROM events),
             |p AS (SELECT user_id, day,
             |    min(CASE WHEN rn = 1 THEN event_type END) AS t1,
             |    min(CASE WHEN rn = 2 THEN event_type END) AS t2,
             |    min(CASE WHEN rn = 3 THEN event_type END) AS t3
             |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
             |SELECT concat_ws('>', t1, t2, t3) AS path, count(*) AS n_user_days
             |FROM p WHERE t3 IS NOT NULL
             |GROUP BY 1 ORDER BY n_user_days DESC, path LIMIT 10""".stripMargin)),


    // dwell-time histogram — per event type, the log2-bucketed distribution
    // of time until the user's NEXT event (the latency-histogram shape:
    // exponential buckets, exact integer bucket = |bin(ms+1)|−1, so no
    // floating log2 boundary can disagree between engines). One
    // user-partitioned lead, one grouped count; output is bounded by
    // |types| × ~42 millisecond-buckets, never by the event count.
    QueryDef(
      "q_dwell_histogram",
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("event_type"),
            (unix_millis(lead(col("ts"), 1).over(wu).cast("timestamp"))
              - unix_millis(col("ts").cast("timestamp"))).as("dwell_ms"))
          .where(col("dwell_ms").isNotNull && col("dwell_ms") >= 0)
          .select(col("event_type"),
            (length(bin(col("dwell_ms") + 1)) - 1).cast("long").as("bucket"))
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH ord AS (SELECT event_type,
             |    epoch_ms(lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id)) - epoch_ms(CAST(ts AS TIMESTAMP)) AS dwell_ms
             |  FROM events)
             |SELECT event_type,
             |  CAST(length(bin(dwell_ms + 1)) - 1 AS BIGINT) AS bucket,
             |  count(*) AS n
             |FROM ord WHERE dwell_ms IS NOT NULL AND dwell_ms >= 0
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),


    // temporal self-excitation — do purchases cluster in time beyond a
    // memoryless process? The observed fraction of inter-purchase gaps
    // under one hour against the Poisson expectation 1 − e^(−λt) at the
    // empirical rate λ = n/Σgap (the closed-form exponential CDF — no
    // simulation crosses the engine boundary). Ratio > 1 ⇒ bursty
    // (Hawkes-like) purchasing; the fixture sits near 1.08 — close to
    // memoryless, honestly reported. One user-partitioned lag + one
    // 1-row moment aggregate.
    QueryDef(
      "q_self_excitation",
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy("ms")
        val g = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(col("user_id"),
            unix_millis(col("ts").cast("timestamp")).as("ms"))
          .select((col("ms") - lag("ms", 1).over(wu)).as("gap"))
          .where(col("gap").isNotNull && col("gap") > 0)
        g.agg(count(lit(1)).as("n"), sum("gap").as("tot"),
            sum(when(col("gap") < 3600000L, 1L).otherwise(0L)).as("short"))
          .select(col("n").as("n_gaps"), col("short").as("short_gaps"),
            expr("short * 1000000 div n").as("observed_micro"),
            expr("CAST(round(1000000.0 * (1 - exp(-3600000.0 * n / tot))) AS BIGINT)")
              .as("poisson_micro"),
            expr("""CAST(round(1000000.0 * (CAST(short AS DOUBLE)/n)
                   | / (1 - exp(-3600000.0 * n / tot))) AS BIGINT)""".stripMargin)
              .as("excitation_ratio_micro"))
      },
      Some("""WITH p AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
             |      FROM events WHERE event_type='purchase'),
             |g AS (SELECT ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS gap
             |      FROM p),
             |gg AS (SELECT gap FROM g WHERE gap IS NOT NULL AND gap > 0),
             |s AS (SELECT count(*) AS n, sum(gap) AS tot,
             |    sum(CASE WHEN gap < 3600000 THEN 1 ELSE 0 END) AS short FROM gg)
             |SELECT CAST(n AS BIGINT) AS n_gaps, CAST(short AS BIGINT) AS short_gaps,
             |  CAST(short * 1000000 // n AS BIGINT) AS observed_micro,
             |  CAST(round(1000000.0 * (1 - exp(-3600000.0 * n / tot))) AS BIGINT)
             |    AS poisson_micro,
             |  CAST(round(1000000.0 * (CAST(short AS DOUBLE)/n)
             |    / (1 - exp(-3600000.0 * n / tot))) AS BIGINT) AS excitation_ratio_micro
             |FROM s""".stripMargin)),


    // expected steps to conversion — treat 'purchase' as the absorbing
    // state of the session Markov chain and report each transient
    // state's expected number of steps until absorption: the funnel
    // metric that says HOW FAR each state is from converting, not just
    // whether it does (q_markov_stationary's dual). t = (I−Q)⁻¹·1
    // computed as the 20-term Neumann series t ← 1 + Q·t in truncating
    // nano fixed point (the markov convention — per-edge integer div
    // each step, both engines bit-identical). The chain lives on the
    // |types|² matrix; the corpus-scaled work is ONE lead pass.
    QueryDef(
      "q_absorption_steps",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("a"))
          .withColumn("b", lead("a", 1).over(w))
          .where(col("b").isNotNull)
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
        val rs = tr.groupBy("a").agg(sum("c").as("tot"))
        // bounded-domain iterative-loop convention (q_pagerank form): the
        // transient-transition frame persists once — its lineage is the
        // corpus-scaled lead-window scan, which all 20 uncut broadcast
        // rounds used to replay — no repartition, no cuts (the replay
        // left is over the persisted ≤|types|² frame)
        val q = Loop.pinnedPersist(tr.join(rs, "a")
          .where(col("a") =!= "purchase" && col("b") =!= "purchase")
          .select(col("a"), col("b"),
            expr("CAST(CAST(c AS DECIMAL(38,0)) * 1000000000 div tot AS BIGINT)")
              .as("pn")))
        var t = q.select(col("a").as("st")).distinct()
          .withColumn("t", lit(1000000000L))
        for (_ <- 1 to 20) {
          t = q.join(t.select(col("st").as("b"), col("t").as("tb")), Seq("b"), "left")
            .na.fill(0L, Seq("tb"))
            .groupBy(col("a").as("st"))
            .agg((lit(1000000000L) +
              sum(expr("(CAST(pn AS DECIMAL(38,0)) * tb) div 1000000000")))
              .cast("long").as("t"))
        }
        t.select(col("st").as("event_type"), col("t").as("steps_nano"))
          .orderBy("event_type")
      },
      Some(absorptionOracle)),


    // Shapley channel attribution — the game-theoretic split that
    // first/last/position-touch heuristics approximate: value function
    // v(C) = same-day purchase share of (user, day) cells whose exact
    // channel mix is C over {view, click, signup}, Shapley weights
    // |C|!(2−|C|)!/3! applied as the exact integer {2, 1, 2}/6 kernel.
    // Everything after ONE user-day grouped pass lives on the ≤8-row
    // coalition table (three bit-flip self-joins). The (user, day)
    // grain is deliberate — user-lifetime coalitions are degenerate on
    // any fixture where every user eventually does everything. On iid
    // streams all marginals come out slightly negative (event-heavy
    // days dilute same-day purchase share) — the honest null.
    QueryDef(
      "q_shapley_attribution",
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("hv"),
            max(when(col("event_type") === "click", 1L).otherwise(0L)).as("hc"),
            max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("hs"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        val v = u.groupBy("hv", "hc", "hs")
          .agg(count(lit(1)).as("n"), sum("conv").as("c"))
          .select(col("hv"), col("hc"), col("hs"),
            expr("CAST(CAST(c AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)").as("vr"))
        def shapFor(name: String, bit: String, o1: String, o2: String) = {
          val base = v.where(col(bit) === 0)
          val plus = v.where(col(bit) === 1)
            .select(col(o1), col(o2), col("vr").as("vr2"))
          base.join(plus, Seq(o1, o2), "left").na.fill(0L, Seq("vr2"))
            .agg(sum(expr(s"""(CASE WHEN $o1 + $o2 = 0 THEN 2
                             | WHEN $o1 + $o2 = 1 THEN 1 ELSE 2 END)
                             | * (vr2 - vr)""".stripMargin)).as("num"))
            .select(lit(name).as("channel"),
              expr("CAST(round(CAST(num AS DOUBLE)/6.0/1000.0) AS BIGINT)")
                .as("shapley_milli"))
        }
        shapFor("view", "hv", "hc", "hs")
          .unionAll(shapFor("click", "hc", "hv", "hs"))
          .unionAll(shapFor("signup", "hs", "hv", "hc"))
          .orderBy("channel")
      },
      Some("""WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |      max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
             |      max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
             |      max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
             |      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
             |    FROM events GROUP BY 1, 2),
             |v AS (SELECT hv, hc, hs,
             |      CAST(sum(conv) AS HUGEINT) * 1000000 // count(*) AS vr
             |    FROM u GROUP BY 1, 2, 3),
             |g AS (SELECT hv, hc, hs, vr FROM v),
             |sh AS (
             |  SELECT 'view' AS channel,
             |    sum(CASE WHEN hv = 0 THEN
             |        (CASE WHEN hc + hs = 0 THEN 2 WHEN hc + hs = 1 THEN 1 ELSE 2 END)
             |        * (coalesce((SELECT vr FROM g x
             |            WHERE x.hv=1 AND x.hc=g.hc AND x.hs=g.hs), 0) - vr)
             |      ELSE 0 END) AS num
             |  FROM g
             |  UNION ALL
             |  SELECT 'click',
             |    sum(CASE WHEN hc = 0 THEN
             |        (CASE WHEN hv + hs = 0 THEN 2 WHEN hv + hs = 1 THEN 1 ELSE 2 END)
             |        * (coalesce((SELECT vr FROM g x
             |            WHERE x.hc=1 AND x.hv=g.hv AND x.hs=g.hs), 0) - vr)
             |      ELSE 0 END)
             |  FROM g
             |  UNION ALL
             |  SELECT 'signup',
             |    sum(CASE WHEN hs = 0 THEN
             |        (CASE WHEN hv + hc = 0 THEN 2 WHEN hv + hc = 1 THEN 1 ELSE 2 END)
             |        * (coalesce((SELECT vr FROM g x
             |            WHERE x.hs=1 AND x.hv=g.hv AND x.hc=g.hc), 0) - vr)
             |      ELSE 0 END)
             |  FROM g)
             |SELECT channel, CAST(round(CAST(num AS DOUBLE)/6.0/1000.0) AS BIGINT)
             |    AS shapley_milli
             |FROM sh ORDER BY channel""".stripMargin)),
  )

  /** Fixed-point absorbing-chain oracle — twenty unrolled Neumann steps
    * t ← 1 + Q·t over the transient |types|² submatrix, MATERIALIZED
    * per step (each references its predecessor), exact truncating
    * arithmetic mirroring the Spark loop term for term. */
  private def absorptionOracle: String = {
    val steps = (1 to 20).map { k =>
      s"""t$k AS MATERIALIZED (SELECT q.a AS st,
         |      CAST(1000000000 + sum(CAST(q.pn AS HUGEINT) * coalesce(t${k - 1}.t, 0)
         |        // 1000000000) AS BIGINT) AS t
         |    FROM q LEFT JOIN t${k - 1} ON t${k - 1}.st = q.b
         |    GROUP BY 1)""".stripMargin
    }
    s"""WITH ord AS (SELECT event_type AS a,
       |      lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
       |    FROM events),
       |tr AS (SELECT a, b, count(*) AS c FROM ord WHERE b IS NOT NULL GROUP BY 1, 2),
       |rs AS (SELECT a, sum(c) AS tot FROM tr GROUP BY 1),
       |q AS MATERIALIZED (SELECT tr.a, tr.b,
       |      CAST(tr.c AS HUGEINT) * 1000000000 // rs.tot AS pn
       |    FROM tr JOIN rs ON rs.a = tr.a
       |    WHERE tr.a <> 'purchase' AND tr.b <> 'purchase'),
       |t0 AS MATERIALIZED (SELECT a AS st, CAST(1000000000 AS BIGINT) AS t
       |    FROM (SELECT DISTINCT a FROM q)),
       |${steps.mkString(",\n")}
       |SELECT st AS event_type, t AS steps_nano FROM t20 ORDER BY st""".stripMargin
  }

  /** Fixed-point Markov stationary oracle — ten unrolled power-iteration
    * stages over the |types|² transition matrix, exact truncating
    * arithmetic mirroring the Spark loop term for term. */
  private def markovOracle: String = {
    val base =
      """WITH ord AS (SELECT event_type AS a,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
        |  FROM events),
        |tr AS (SELECT a, b, count(*) AS c FROM ord WHERE b IS NOT NULL GROUP BY 1, 2),
        |rs AS (SELECT a, sum(c) AS tot FROM tr GROUP BY 1),
        |ns AS (SELECT count(*) AS k FROM rs),
        |p0 AS (SELECT a AS st, CAST(1000000000 // (SELECT k FROM ns) AS BIGINT) AS pi
        |       FROM rs)""".stripMargin
    val iters = (1 to 10).map { k =>
      s"""p$k AS (SELECT tr.b AS st,
         |    CAST(sum(CAST(p${k - 1}.pi AS HUGEINT) * tr.c // rs.tot) AS BIGINT) AS pi
         |  FROM tr JOIN p${k - 1} ON p${k - 1}.st = tr.a JOIN rs ON rs.a = tr.a
         |  GROUP BY 1)""".stripMargin
    }
    (base +: iters).mkString(",\n") +
      "\nSELECT st AS event_type, pi AS pi_nano FROM p10 ORDER BY st"
  }
}
