package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior and warehouse analytics over the `events` stream table:
  * slowly-changing dimension (type-2) state tracking and CDC compaction,
  * cohort retention, RFM, activity/engagement profiles, privacy gates
  * (k-anonymity/l-diversity/t-closeness/DP histogram), and capacity
  * metrics. These are the warehouse-side query shapes the reference's
  * dashboard aggregations (SURVEY §2.6) generalize to once the grain is
  * "user over time" instead of "row over columns". Round 15 split the
  * original 6,800-line file into domains — [[Journeys]] (funnels, paths,
  * attribution, Markov), [[TimeSeries]] (trend/drift), [[Experimentation]]
  * (inference/causal), [[Evaluation]] (classifier eval), [[SupplyChain]]
  * (commerce/ops), with the survival trio joining [[Survival]] — a
  * mechanical move with zero query changes.
  *
  * The per-user shapes shuffle exactly once on `user_id` (the natural
  * partition key); at 100 TB the same plans hold with `user_id`-bucketed
  * storage, which removes even that exchange.
  */
object Behavioral {

  val defs: Seq[QueryDef] = Seq(

    // SCD type-2 build: compress each user's event-type history into
    // validity intervals [valid_from, valid_to) with a version counter,
    // keeping only CHANGE rows (consecutive duplicate states collapse).
    // One window partition per user — no self-join, no second shuffle:
    // lag() finds change points, a conditional running count numbers the
    // versions, lead() over the change rows closes each interval.
    QueryDef(
      "q_scd2",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val changes = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .where(col("prev").isNull || col("prev") =!= col("event_type"))
        val wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
        changes
          .withColumn("version", row_number().over(wc))
          .withColumn("valid_to", lead("ts", 1).over(wc))
          .select(col("user_id"), col("version"), col("event_type"),
            col("ts").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.as("is_current"))
          .orderBy("user_id", "version")
      },
      Some("""WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events),
             |ch AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type)
             |SELECT user_id,
             |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
             |  event_type, ts AS valid_from,
             |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
             |FROM ch
             |ORDER BY user_id, version""".stripMargin)),


    // weekly cohort retention: users grouped by first-seen ISO week, then
    // counted in each later week they were active. Two aggregations (first
    // touch per user; distinct user-weeks) and one join, all keyed on
    // user_id — the exchange is reused across the stages.
    QueryDef(
      "q_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        val first = ev.groupBy("user_id").agg(min("wk").as("cohort"))
        val active = ev.distinct()
        active.join(first, "user_id")
          .withColumn("week_offset",
            (datediff(col("wk"), col("cohort")) / 7).cast("int"))
          .groupBy("cohort", "week_offset")
          .agg(countDistinct("user_id").as("n_users"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH ev AS (SELECT user_id,
             |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
             |  FROM events),
             |first AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY 1),
             |active AS (SELECT DISTINCT user_id, wk FROM ev)
             |SELECT f.cohort,
             |  CAST(date_diff('day', f.cohort, a.wk) / 7 AS INT) AS week_offset,
             |  count(DISTINCT a.user_id) AS n_users
             |FROM active a JOIN first f USING (user_id)
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),


    // RFM segmentation — recency / frequency / monetary quartiles per
    // user, the classic product-analytics cut. One user-keyed
    // aggregation, then global ntile windows over the tiny per-user
    // frame (|users| rows). At 100 TB the quartile boundaries come from
    // approx-quantile cut points broadcast back instead of a global
    // sort; the per-user aggregate stage is unchanged. Monetary sums in
    // exact integer cents; every ntile ordering carries a user_id
    // tiebreak so ranks are engine-deterministic.
    QueryDef(
      "q_rfm",
      (s, d) => {
        val m = Tables.events(s, d).groupBy("user_id").agg(
          datediff(lit("2024-02-01").cast("date"), max(to_date(col("ts"))))
            .as("recency_days"),
          count(lit(1)).as("frequency"),
          coalesce(sum(when(col("event_type") === "purchase",
            expr("CAST(round(value * 100) AS BIGINT)"))), lit(0L))
            .as("monetary_cents"))
        // three GLOBAL quartile assignments without partitionless ntile
        // windows (which funnel every user through one task — Spark warns
        // `WindowExec: No Partition Defined`) AND without three chained
        // range shuffles: GlobalOrder.withGlobalNtiles ranks all three
        // orderings in ONE skinny exploded shuffle, broadcasts the nine
        // quartile boundary keys back, and assigns tiles map-side — the
        // per-user frame itself never shuffles. Descending dimensions
        // ride as negated keys; user_id is the shared tiebreak. The
        // oracle below still uses native ntile() — hash equality proves
        // the boundary-key formulation IS the single-node semantics.
        val tot = m.agg(count(lit(1)).cast("long").as("_go_n"))
        GlobalOrder.withGlobalNtiles(m,
          Seq((col("recency_days").cast("long"), "r_quartile"),
            (-col("frequency"), "f_quartile"),
            (-col("monetary_cents"), "m_quartile")),
          col("user_id"), 4, Some(tot))
          .select("user_id", "recency_days", "frequency", "monetary_cents",
            "r_quartile", "f_quartile", "m_quartile")
          .orderBy("user_id")
      },
      Some("""WITH m AS (SELECT user_id,
             |    CAST(date_diff('day', max(CAST(ts AS TIMESTAMP)),
             |      TIMESTAMP '2024-02-01 00:00:00') AS INT) AS recency_days,
             |    count(*) AS frequency,
             |    coalesce(CAST(sum(CAST(round(value * 100) AS BIGINT))
             |      FILTER (WHERE event_type = 'purchase') AS BIGINT), 0) AS monetary_cents
             |  FROM events GROUP BY 1)
             |SELECT user_id, recency_days, frequency, monetary_cents,
             |  CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS INT) AS r_quartile,
             |  CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_quartile,
             |  CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS INT) AS m_quartile
             |FROM m ORDER BY user_id""".stripMargin)),


    // CDC-style state diff: latest-wins state per user at two points in
    // time, full-outer-joined and classified added / changed / unchanged
    // (removed arises with deletion events, which this append-only
    // fixture lacks). The two snapshot builds share one user_id exchange;
    // null-safe <=> comparisons make NULL attribute flips count as
    // changes. This is the query shape behind incremental publication:
    // ship only the 'added'/'changed' rows downstream.
    QueryDef(
      "q_cdc_diff",
      (s, d) => {
        def stateAt(cutoff: Option[String]) = {
          val w = Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)
          val ev = Tables.events(s, d)
          cutoff.fold(ev)(c => ev.where(col("ts") < lit(c).cast("timestamp_ntz")))
            .withColumn("rn", row_number().over(w))
            .where(col("rn") === 1)
            .select("user_id", "event_type", "value")
        }
        val s1 = stateAt(Some("2024-01-03 00:00:00"))
          .select(col("user_id").as("u1"), col("event_type").as("old_type"),
            col("value").as("v1"))
        val s2 = stateAt(None)
          .select(col("user_id").as("u2"), col("event_type").as("new_type"),
            col("value").as("v2"))
        s1.join(s2, col("u1") === col("u2"), "full_outer")
          .select(
            coalesce(col("u1"), col("u2")).as("user_id"),
            when(col("u1").isNull, "added")
              .when(col("u2").isNull, "removed")
              .when(col("old_type") <=> col("new_type") &&
                col("v1") <=> col("v2"), "unchanged")
              .otherwise("changed").as("change"),
            col("old_type"), col("new_type"))
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (SELECT user_id, event_type, value FROM (
             |    SELECT user_id, event_type, value,
             |      row_number() OVER (PARTITION BY user_id
             |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
             |    FROM events
             |    WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00')
             |  WHERE rn = 1),
             |s2 AS (SELECT user_id, event_type, value FROM (
             |    SELECT user_id, event_type, value,
             |      row_number() OVER (PARTITION BY user_id
             |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
             |    FROM events) WHERE rn = 1)
             |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
             |  CASE WHEN s1.user_id IS NULL THEN 'added'
             |       WHEN s2.user_id IS NULL THEN 'removed'
             |       WHEN s1.event_type IS NOT DISTINCT FROM s2.event_type
             |        AND s1.value IS NOT DISTINCT FROM s2.value THEN 'unchanged'
             |       ELSE 'changed' END AS change,
             |  s1.event_type AS old_type, s2.event_type AS new_type
             |FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
             |ORDER BY user_id""".stripMargin)),


    // k-anonymity audit — the privacy gate a dataset release runs next
    // to PII scrubbing (q_pii_scrub): project the table to its quasi-
    // identifiers (event type, day, coarse value band) and flag every
    // combination observed fewer than k = 5 times — rows in those groups
    // are re-identifiable by the QI tuple alone. One map-side-combined
    // aggregate; shuffle ∝ distinct QI tuples, never rows. NULL values
    // band to a sentinel so the group-by is total and the cross-engine
    // ordering never compares NULLs (Spark sorts them first, DuckDB
    // last).
    QueryDef(
      "q_k_anonymity",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          coalesce(floor(col("value") / 50).cast("int"), lit(-9999))
            .as("value_band"))
        .groupBy("event_type", "day", "value_band")
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", (col("n") < 5).cast("int"))
        .orderBy("event_type", "day", "value_band"),
      Some("""SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |  coalesce(CAST(floor(value / 50) AS INT), -9999) AS value_band,
             |  count(*) AS n,
             |  CAST(count(*) < 5 AS INT) AS at_risk
             |FROM events GROUP BY 1, 2, 3
             |ORDER BY event_type, day, value_band""".stripMargin)),


    // volume-anomaly screen — the monitoring aggregate behind the
    // reference's row-count alert bounds (cli.py EXPECT_MIN/MAX_ROWS),
    // done statistically: per event_type daily counts, z-scored against
    // that type's own distribution across days, |z| > 2 flagged. The
    // moments come from EXACT integer sums (n, Σc, Σc²) — doubles enter
    // only in the final mean/variance arithmetic, so the result is
    // bit-identical under any partitioning/merge order, unlike a naive
    // stddev_samp whose Welford merges are order-sensitive. Two hash
    // aggs (day grain, then type grain) + one broadcast join back;
    // shuffle ∝ distinct (type, day), trivially scale-stable.
    QueryDef(
      "q_anomaly_zscore",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val moments = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"), sum("c").as("s1"),
            sum(col("c") * col("c")).as("s2"))
        // degenerate guards mirror streaming.AnomalyMonitor exactly: a
        // type with <2 days or zero variance has no defined z (NULL, not
        // an engine-specific inf/NaN from the zero divisor) and is never
        // flagged
        val varExpr =
          """(s2 - s1 * (s1 / CAST(n_days AS DOUBLE))) / (n_days - 1)"""
        daily.join(broadcast(moments), "event_type")
          .select(col("event_type"), col("day"), col("c"), expr(
            s"""CASE WHEN n_days < 2 OR $varExpr <= 0 THEN NULL
               |ELSE round((c - s1 / CAST(n_days AS DOUBLE))
               |  / sqrt($varExpr), 3) END""".stripMargin).as("z"))
          .withColumn("is_anomaly",
            coalesce(abs(col("z")) > 2.0, lit(false)).cast("int"))
          .orderBy("event_type", "day")
      },
      Some {
        val varSql =
          "(s2 - s1 * (s1 / CAST(n_days AS DOUBLE))) / (n_days - 1)"
        s"""WITH daily AS (
           |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |    count(*) AS c
           |  FROM events GROUP BY 1, 2),
           |m AS (SELECT event_type, count(*) AS n_days,
           |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
           |  FROM daily GROUP BY 1),
           |z AS (SELECT event_type, day, c,
           |    CASE WHEN n_days < 2 OR $varSql <= 0 THEN NULL
           |    ELSE round((c - s1 / CAST(n_days AS DOUBLE))
           |      / sqrt($varSql), 3) END AS z
           |  FROM daily JOIN m USING (event_type))
           |SELECT event_type, day, c, z,
           |  CAST(coalesce(abs(z) > 2.0, FALSE) AS INT) AS is_anomaly
           |FROM z ORDER BY event_type, day""".stripMargin
      }),


    // cumulative distinct users by day — the growth curve every
    // dashboard wants and the aggregation naive SQL gets catastrophically
    // wrong at scale (count(DISTINCT) over an expanding window rescans
    // the prefix per day). The scalable identity: a user contributes to
    // the cumulative count from their FIRST day onward, so cum_users(d)
    // = Σ_{d' ≤ d} new_users(d') — one user-keyed aggregate (shuffle ∝
    // users), one day-grain aggregate, and a prefix sum over the ≤ #days
    // result (the only partitionless window, provably bounded by the
    // calendar — whitelisted in PlanAuditSpec).
    QueryDef(
      "q_cume_distinct",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val firstSeen = ev.groupBy("user_id").agg(min("day").as("day"))
          .groupBy("day").agg(count(lit(1)).as("new_users"))
        val days = ev.select("day").distinct()
        days.join(firstSeen, Seq("day"), "left")
          .na.fill(0L, Seq("new_users"))
          .withColumn("cum_users",
            sum("new_users").over(
              Window.orderBy("day")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("day")
      },
      Some("""WITH ev AS (SELECT user_id,
             |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
             |f AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
             |n AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1),
             |days AS (SELECT DISTINCT day FROM ev)
             |SELECT days.day, CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
             |  CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY days.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_users
             |FROM days LEFT JOIN n USING (day)
             |ORDER BY day""".stripMargin)),


    // activity concentration: decile-bucketed user activity (decile 1 =
    // most active tenth) with each decile's share of ALL events — the
    // "top 10% of users generate X% of traffic" skew number that sizes
    // salting/AQE decisions for user-keyed work. The user table is
    // data-sized, so the decile rank rides GlobalOrder's range shuffle
    // (q_ppl_buckets' tertile convention, oracled against DuckDB's
    // native ntile); the share denominators broadcast.
    QueryDef(
      "q_activity_concentration",
      (s, d) => {
        val pu = Tables.events(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("n"))
        val ranked = GlobalOrder.withGlobalNtile(
          pu, Seq(col("n").desc, col("user_id")), 10, "decile")
        val tot = pu.agg(sum("n").as("t"))
        ranked.crossJoin(tot)
          .groupBy("decile")
          .agg(count(lit(1)).as("users"), sum("n").as("events"),
            expr("(sum(n) * CAST(1000000 AS BIGINT)) div max(t)").as("share_micro"))
          .orderBy("decile")
      },
      Some("""WITH pu AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
             |r AS (SELECT user_id, n,
             |        ntile(10) OVER (ORDER BY n DESC, user_id) AS decile FROM pu),
             |tot AS (SELECT sum(n) AS t FROM pu)
             |SELECT decile, count(*) AS users, CAST(sum(n) AS BIGINT) AS events,
             |  CAST((sum(n) * 1000000) // max(t.t) AS BIGINT) AS share_micro
             |FROM r CROSS JOIN tot t GROUP BY 1 ORDER BY 1""".stripMargin)),


    // l-diversity audit — k-anonymity's sharper sibling (q_k_anonymity
    // checks group SIZE; this checks group VARIETY): for each
    // quasi-identifier group (day, value band), how many distinct values
    // of the SENSITIVE attribute (event type) appear? A group where
    // everyone shares one sensitive value leaks it to anyone who can
    // place a person in the group, however large the group is. Reports
    // the weak groups (l < 3). One map-combined aggregate; NULL values
    // band to a sentinel (the q_k_anonymity convention).
    QueryDef(
      "q_l_diversity",
      (s, d) => Tables.events(s, d)
        .select(to_date(col("ts")).as("day"),
          coalesce(floor(col("value") / 100).cast("int"), lit(-9999))
            .as("value_band"),
          col("event_type"))
        .groupBy("day", "value_band")
        .agg(count(lit(1)).as("rows_n"),
          countDistinct("event_type").as("l"))
        .where(col("l") < 3)
        .orderBy("day", "value_band"),
      Some("""WITH g AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |             coalesce(CAST(floor(value / 100) AS INT), -9999) AS value_band,
             |             event_type
             |           FROM events)
             |SELECT day, value_band, count(*) AS rows_n,
             |  CAST(count(DISTINCT event_type) AS BIGINT) AS l
             |FROM g GROUP BY 1, 2 HAVING count(DISTINCT event_type) < 3
             |ORDER BY 1, 2""".stripMargin)),


    // user-type AFFINITY: top-20 (user, event type) cells by lift over
    // the independence expectation — the personalization signal behind
    // "this user over-indexes on errors 1.5×". Same pointwise-lift shape
    // as q_basket_pairs/q_pmi_bigrams, at the user×type grain; the three
    // marginals are tiny aggregates joined back (user marginal keyed on
    // the same user_id shuffle), top-20 with a total order under the cut.
    QueryDef(
      "q_user_type_affinity",
      (s, d) => {
        val c = Tables.events(s, d).groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
        val u = c.groupBy("user_id").agg(sum("n").as("un"))
        val t = c.groupBy("event_type").agg(sum("n").as("tn"))
        val g = c.agg(sum("n").as("gn"))
        c.join(u, "user_id").join(broadcast(t), "event_type")
          .crossJoin(g)
          .select(col("user_id"), col("event_type"), col("n"),
            // 128-bit numerator: n·gn·1e6 passes int64 at corpus event
            // counts (DuckDB widens the same product to HUGEINT).
            expr("CAST((CAST(n AS DECIMAL(38,0)) * gn * 1000000) div (un * tn) AS BIGINT)")
              .as("lift_micro"))
          .orderBy(col("lift_micro").desc, col("user_id"), col("event_type"))
          .limit(20)
      },
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |u AS (SELECT user_id, sum(n) AS un FROM c GROUP BY 1),
             |t AS (SELECT event_type, sum(n) AS tn FROM c GROUP BY 1),
             |g AS (SELECT sum(n) AS gn FROM c)
             |SELECT c.user_id, c.event_type, c.n,
             |  CAST((CAST(c.n AS HUGEINT) * g.gn * 1000000) // (u.un * t.tn) AS BIGINT) AS lift_micro
             |FROM c JOIN u USING (user_id) JOIN t USING (event_type) CROSS JOIN g
             |ORDER BY lift_micro DESC, c.user_id, c.event_type LIMIT 20""".stripMargin)),


    // weekday seasonality profile: event counts and corpus share by
    // (day-of-week × type) — the load-shape table capacity planning and
    // anomaly baselines read. Day-of-week numbering differs between
    // engines (Spark Sunday=1, DuckDB Sunday=0), so the Spark side
    // offsets to the 0-based convention explicitly. One map-combined
    // aggregate over the bounded 7×|types| domain.
    QueryDef(
      "q_weekday_profile",
      (s, d) => {
        val c = Tables.events(s, d)
          .select((dayofweek(col("ts")) - 1).cast("int").as("dow"),
            col("event_type"))
          .groupBy("dow", "event_type").agg(count(lit(1)).as("n"))
        val t = c.agg(sum("n").as("tot"))
        c.crossJoin(t)
          .select(col("dow"), col("event_type"), col("n"),
            expr("(n * CAST(1000000 AS BIGINT)) div tot").as("share_micro"))
          .orderBy("dow", "event_type")
      },
      Some("""WITH e AS (SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
             |             event_type FROM events),
             |c AS (SELECT dow, event_type, count(*) AS n FROM e GROUP BY 1, 2),
             |t AS (SELECT sum(n) AS tot FROM c)
             |SELECT c.dow, c.event_type, c.n,
             |  CAST((c.n * 1000000) // t.tot AS BIGINT) AS share_micro
             |FROM c CROSS JOIN t ORDER BY c.dow, c.event_type""".stripMargin)),


    // user DIVERSITY histogram: per-user Shannon entropy of the
    // event-type mix (nano-nats, the q_domain_kl term convention),
    // banded at 0.1 nat — generalists (entropy near ln |types|) vs
    // specialists (near 0) is the segmentation axis behind
    // recommendation cold-start policies. Per-user terms aggregate on
    // the one user_id shuffle; the histogram is bounded by the entropy
    // range.
    QueryDef(
      "q_user_diversity",
      (s, d) => {
        val c = Tables.events(s, d).groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
        val u = c.groupBy("user_id").agg(sum("n").as("un"))
        val ent = c.join(u, "user_id")
          .select(col("user_id"),
            round((col("n").cast("double") / col("un").cast("double")) *
              log(col("un").cast("double") / col("n").cast("double")) * lit(1e9))
              .cast("long").as("term_nano"))
          .groupBy("user_id").agg(sum("term_nano").cast("long").as("h_nano"))
        ent.groupBy(expr("h_nano div 100000000").as("band"))
          .agg(count(lit(1)).as("users"),
            min("h_nano").as("min_nano"), max("h_nano").as("max_nano"))
          .orderBy("band")
      },
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |u AS (SELECT user_id, sum(n) AS un FROM c GROUP BY 1),
             |terms AS (SELECT c.user_id,
             |    CAST(round((CAST(c.n AS DOUBLE) / u.un) *
             |               ln(CAST(u.un AS DOUBLE) / c.n) * 1e9) AS BIGINT) AS term_nano
             |  FROM c JOIN u USING (user_id)),
             |ent AS (SELECT user_id, CAST(sum(term_nano) AS BIGINT) AS h_nano
             |        FROM terms GROUP BY 1)
             |SELECT h_nano // 100000000 AS band, count(*) AS users,
             |  CAST(min(h_nano) AS BIGINT) AS min_nano,
             |  CAST(max(h_nano) AS BIGINT) AS max_nano
             |FROM ent GROUP BY 1 ORDER BY 1""".stripMargin)),


    // DAU/MAU stickiness — the engagement ratio product dashboards lead
    // with: per calendar day, distinct actives against the calendar
    // month's distinct actives (integer micros). Two distinct-count
    // aggregates; the month table is one row per month, so it rides a
    // broadcast back onto the daily grain — no second shuffle. At scale
    // both distincts shuffle on (period, user), the natural key.
    QueryDef(
      "q_dau_stickiness",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(date_trunc("day", col("ts")).as("day"),
            date_trunc("month", col("ts")).as("mo"), col("user_id"))
        val dau = ev.groupBy("day", "mo").agg(countDistinct("user_id").as("dau"))
        val mau = ev.groupBy("mo").agg(countDistinct("user_id").as("mau"))
        dau.join(broadcast(mau), "mo")
          .select(col("day"), col("dau"), col("mau"),
            expr("(dau * CAST(1000000 AS BIGINT)) div mau").as("stickiness_micro"))
          .orderBy("day")
      },
      Some("""WITH d AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             |                  date_trunc('month', CAST(ts AS TIMESTAMP)) AS mo,
             |                  count(DISTINCT user_id) AS dau
             |           FROM events GROUP BY 1, 2),
             |m AS (SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) AS mo,
             |             count(DISTINCT user_id) AS mau
             |      FROM events GROUP BY 1)
             |SELECT d.day, d.dau, m.mau,
             |  CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_micro
             |FROM d JOIN m USING (mo) ORDER BY d.day""".stripMargin)),


    // burstiness audit: the Fano factor (variance/mean) of DAILY volume
    // per event type — the dispersion number that separates steady
    // telemetry (≈1, Poisson) from bursty incident traffic (≫1) and
    // metronomic batch jobs (≪1), and the first input to capacity
    // headroom. Exact integer identity: var/mean = (n·Σc²−S²)/((n−1)·S)
    // on daily-count integers, widened to 128-bit where S² passes int64
    // at corpus volumes (DuckDB's sum already returns HUGEINT). Two
    // map-combined aggregates, nothing data-sized leaves the executors.
    QueryDef(
      "q_burstiness",
      (s, d) => {
        val c = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        c.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("c").as("sc"),
            // the inner Σc² itself widens to 128-bit (DuckDB's sum(c*c)
            // auto-widens to HUGEINT; a BIGINT accumulator here would be
            // the one narrower link at ~3e9-events/day counts)
            sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sc2"))
          .select(col("event_type"), col("n"), col("sc").as("total"),
            expr("(sc * CAST(1000000 AS BIGINT)) div n").as("mean_micro"),
            expr("CAST(((CAST(n AS DECIMAL(38,0)) * sc2 - CAST(sc AS DECIMAL(38,0)) * sc) * 1000000) " +
              "div ((n - 1) * sc) AS BIGINT)").as("fano_micro"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             |                  count(*) AS c
             |           FROM events GROUP BY 1, 2),
             |s AS (SELECT event_type, count(*) AS n, sum(c) AS sc, sum(c*c) AS sc2
             |      FROM c GROUP BY 1)
             |SELECT event_type, n, CAST(sc AS BIGINT) AS total,
             |  CAST(sc * 1000000 // n AS BIGINT) AS mean_micro,
             |  CAST((CAST(n AS HUGEINT) * sc2 - CAST(sc AS HUGEINT) * sc) * 1000000
             |       // ((n - 1) * sc) AS BIGINT) AS fano_micro
             |FROM s ORDER BY event_type""".stripMargin)),


    // rank-exact per-type value percentiles (p50/p90/p99, rank-ceil):
    // the per-segment latency/value SLO numbers, computed EXACTLY — the
    // q_trimmed_mean machinery (one GlobalOrder range shuffle over
    // (type, value, id), per-type offsets from the |types|-row count
    // table broadcast back) with the three rank probes selected in the
    // same grouped pass. Percentile VALUES are tie-invariant: equal
    // values share rank permutations but the value at the probed rank
    // is unique.
    QueryDef(
      "q_type_percentiles",
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
        ranked.join(broadcast(offs), "event_type")
          .withColumn("rn", col("grn") - col("off"))
          .groupBy("event_type")
          .agg(
            max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("vm")))
              .as("p50_micro"),
            max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("vm")))
              .as("p90_micro"),
            max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("vm")))
              .as("p99_micro"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vm,
             |              event_id
             |            FROM events WHERE value IS NOT NULL),
             |r AS (SELECT event_type, vm,
             |        row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id) AS rn,
             |        count(*) OVER (PARTITION BY event_type) AS n
             |      FROM ev)
             |SELECT event_type,
             |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN vm END) AS p50_micro,
             |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN vm END) AS p90_micro,
             |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN vm END) AS p99_micro
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),


    // t-closeness — the release gate that completes the privacy triad
    // beside q_k_anonymity / q_l_diversity: for each quasi-identifier
    // group (source), the total-variation distance between its sensitive-
    // attribute distribution (lang) and the corpus-wide one; the release
    // requirement is max ≤ t. EXACT: TVD = Σ|a·n − b·n_g| / (2·n_g·n)
    // kept as a 128-bit integer numerator over the exact denominator —
    // no per-cell rational rounding. The grid densifies absent (group,
    // lang) cells (they still contribute b·n_g). Two keyed aggregates +
    // a broadcast margin grid; one |groups|-row reduction.
    QueryDef(
      "q_t_closeness",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cell = docs.groupBy("source", "lang").agg(count(lit(1)).as("a"))
        val grp = docs.groupBy("source").agg(count(lit(1)).as("ng"))
        val glb = docs.groupBy("lang").agg(count(lit(1)).as("b"))
        val tot = docs.agg(count(lit(1)).as("n"))
        val grid = grp.crossJoin(broadcast(glb))
          .join(cell, Seq("source", "lang"), "left")
          .na.fill(0L, Seq("a"))
          .crossJoin(tot)
        val tvd = grid.groupBy("source")
          .agg(max("ng").as("ng"), max("n").as("n"),
            sum(abs(expr("CAST(a AS DECIMAL(38,0)) * n - CAST(b AS DECIMAL(38,0)) * ng")))
              .as("num"))
          .select(col("source"),
            expr("CAST(num * 1000000 div (2 * CAST(ng AS DECIMAL(38,0)) * n) AS BIGINT)")
              .as("tvd_micro"))
        tvd.agg(
          max("tvd_micro").as("t_closeness_micro"),
          count(lit(1)).as("n_groups"),
          min("tvd_micro").as("min_tvd_micro"),
          expr("sum(tvd_micro) div count(1)").as("avg_tvd_micro"))
      },
      Some("""WITH cell AS (SELECT source, lang, count(*) AS a FROM documents GROUP BY 1, 2),
             |grp AS (SELECT source, count(*) AS ng FROM documents GROUP BY 1),
             |glb AS (SELECT lang, count(*) AS b FROM documents GROUP BY 1),
             |tot AS (SELECT count(*) AS n FROM documents),
             |grid AS (SELECT g.source, g.ng, l.lang, l.b, coalesce(c.a, 0) AS a
             |         FROM grp g CROSS JOIN glb l
             |         LEFT JOIN cell c ON c.source = g.source AND c.lang = l.lang),
             |tvd AS (SELECT source, max(ng) AS ng,
             |          sum(abs(CAST(a AS HUGEINT) * n - CAST(b AS HUGEINT) * ng)) AS num
             |        FROM grid CROSS JOIN tot GROUP BY source),
             |pg AS (SELECT source, CAST(num * 1000000 // (2 * CAST(ng AS HUGEINT) * n) AS BIGINT) AS tvd_micro
             |       FROM tvd CROSS JOIN tot)
             |SELECT CAST(max(tvd_micro) AS BIGINT) AS t_closeness_micro,
             |  CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(min(tvd_micro) AS BIGINT) AS min_tvd_micro,
             |  CAST(sum(tvd_micro) // count(*) AS BIGINT) AS avg_tvd_micro
             |FROM pg""".stripMargin)),


    // per-user ML feature-vector assembly — the wide feature-store row
    // a training job reads (activity volume, breadth, tenure shape,
    // purchase behavior, error propensity) materialized in ONE grouped
    // pass over the fact table: the multiple distinct aggregates ride
    // Spark's expand, everything else map-combines, and every feature
    // is exact-integer so the stored table is bit-stable across
    // engines and reruns (what makes feature backfills diffable).
    // Pairs with q_pit_features, which serves these rows leak-free.
    QueryDef(
      "q_user_features",
      (s, d) => {
        Tables.events(s, d).groupBy("user_id").agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_types"),
            countDistinct(col("ts").cast("date")).as("active_days"),
            datediff(lit("2024-02-01").cast("date"), max(to_date(col("ts"))))
              .cast("long").as("recency_days"),
            count(when(col("event_type") === "purchase", 1)).as("purchases"),
            coalesce(sum(when(col("event_type") === "purchase",
              expr("CAST(round(value*1000) AS BIGINT)"))), lit(0L))
              .as("purchase_milli"),
            expr("count(CASE WHEN event_type='error' THEN 1 END) * 1000000 div count(1)")
              .as("error_rate_micro"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  count(*) AS n_events,
             |  count(DISTINCT event_type) AS n_types,
             |  count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS active_days,
             |  CAST(date_diff('day', max(CAST(ts AS TIMESTAMP)),
             |    TIMESTAMP '2024-02-01 00:00:00') AS BIGINT) AS recency_days,
             |  count(CASE WHEN event_type='purchase' THEN 1 END) AS purchases,
             |  CAST(coalesce(sum(CASE WHEN event_type='purchase'
             |    THEN CAST(round(value*1000) AS BIGINT) END), 0) AS BIGINT) AS purchase_milli,
             |  count(CASE WHEN event_type='error' THEN 1 END) * 1000000 // count(*)
             |    AS error_rate_micro
             |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin)),


    // ε-differential-privacy histogram release — the U23 companion that
    // ADDS noise instead of suppressing rows: per-type event counts
    // with Laplace(b=2 ⇒ ε=0.5 at sensitivity 1) noise, derived
    // deterministically from an md5-seeded 24-bit uniform via the
    // inverse CDF (the md5-sampler convention, so both engines draw the
    // identical "noise"). The uniform stays exact integer until ONE
    // double division and one ln; released counts clamp at zero (the
    // standard post-processing). Per-type true count, the noise drawn,
    // and the released value, all milli.
    QueryDef(
      "q_dp_histogram",
      (s, d) => {
        val c = Tables.events(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("n"))
        c.select(col("event_type"), col("n"),
            (conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 6), 16, 10)
              .cast("long") * 2 + 1 - 16777216L).as("m"))
          .select(col("event_type"), col("n"),
            expr("""CAST(round(2000 * (CASE WHEN m < 0 THEN 1 ELSE -1 END)
                   | * ln(CAST(16777216 - abs(m) AS DOUBLE)/16777216))
                   | AS BIGINT)""".stripMargin).as("noise_milli"))
          .select(col("event_type"), col("n"), col("noise_milli"),
            expr("CAST(greatest(n * 1000 + noise_milli, 0) AS BIGINT)")
              .as("released_milli"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
             |u AS (SELECT event_type, n,
             |    CAST(('0x' || substr(md5('dp:' || event_type), 1, 6)) AS BIGINT) * 2 + 1
             |      - 16777216 AS m FROM c),
             |z AS (SELECT event_type, n,
             |    CAST(round(2000 * (CASE WHEN m < 0 THEN 1 ELSE -1 END)
             |      * ln(CAST(16777216 - abs(m) AS DOUBLE)/16777216)) AS BIGINT) AS noise_milli
             |  FROM u)
             |SELECT event_type, CAST(n AS BIGINT) AS n, noise_milli,
             |  CAST(greatest(n * 1000 + noise_milli, 0) AS BIGINT) AS released_milli
             |FROM z ORDER BY event_type""".stripMargin)),


    // classic day-N retention curve pooled over first-purchase cohorts —
    // the growth chart beside q_orders_cohort's month-grain report: for
    // N = 1..7, the share of ever-purchasers who purchase again exactly
    // N days after their first purchase. "Any event" retention is
    // degenerate on this fixture (users fire events daily); purchase
    // retention lands at a non-trivial 28–40 %. One purchase-only scan
    // feeds both the cohort frame and the (user, day) distinct frame;
    // the 7-row N range broadcasts, so the plan is user-keyed shuffles
    // plus bounded-frame tails at any scale.
    QueryDef(
      "q_retention_curve",
      (s, d) => {
        val p = Tables.events(s, d).where(col("event_type") === "purchase")
        val fp = p.groupBy("user_id").agg(min(to_date(col("ts"))).as("d0"))
        val ud = p.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val n = s.range(1, 8).select(col("id").as("day_n"))
        val cohort = fp.agg(count(lit(1)).as("cohort"))
        fp.join(ud, "user_id").crossJoin(n)
          .groupBy("day_n")
          .agg(countDistinct(when(col("day") ===
            expr("date_add(d0, CAST(day_n AS INT))"), col("user_id")))
            .as("retained"))
          .crossJoin(cohort)
          .select(col("day_n"), col("cohort"), col("retained"),
            expr("retained * 1000 div cohort").as("retention_milli"))
          .orderBy("day_n")
      },
      Some("""WITH p AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
             |      FROM events WHERE event_type='purchase'),
             |fp AS (SELECT user_id, min(day) AS d0 FROM p GROUP BY 1),
             |ud AS (SELECT DISTINCT user_id, day FROM p),
             |n AS (SELECT unnest(range(1, 8)) AS day_n),
             |ret AS (SELECT n.day_n,
             |    count(DISTINCT CASE WHEN ud.day = fp.d0 + CAST(n.day_n AS INT)
             |      THEN fp.user_id END) AS retained
             |  FROM fp JOIN ud ON ud.user_id = fp.user_id CROSS JOIN n GROUP BY 1)
             |SELECT CAST(day_n AS BIGINT) AS day_n,
             |  CAST((SELECT count(*) FROM fp) AS BIGINT) AS cohort,
             |  CAST(retained AS BIGINT) AS retained,
             |  CAST(retained * 1000 // (SELECT count(*) FROM fp) AS BIGINT)
             |    AS retention_milli
             |FROM ret ORDER BY day_n""".stripMargin)),


    // per-day peak-hour load report — the capacity-planning readout: each
    // day's busiest hour, its event count, and its share of the day's
    // traffic. One grouped (day, hour) count — ≤ 744 rows at ANY scale —
    // then day-partitioned ranking and a day-total join, so everything
    // after the single events scan is calendar-bounded.
    QueryDef(
      "q_peak_load",
      (s, d) => {
        val h = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        val dt = h.groupBy("day").agg(sum("n").as("day_n"))
        val wd = Window.partitionBy("day").orderBy(col("n").desc, col("hr"))
        h.withColumn("rk", row_number().over(wd)).where(col("rk") === 1)
          .join(dt, "day")
          .select(col("day"), col("hr").cast("long").as("peak_hour"),
            col("n").as("peak_n"), col("day_n"),
            expr("n * 1000 div day_n").as("peak_share_milli"))
          .orderBy("day")
      },
      Some("""WITH h AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |        extract(hour FROM CAST(ts AS TIMESTAMP)) AS hr, count(*) AS n
             |      FROM events GROUP BY 1, 2),
             |d AS (SELECT day, sum(n) AS day_n FROM h GROUP BY 1),
             |p AS (SELECT day, hr, n,
             |        row_number() OVER (PARTITION BY day ORDER BY n DESC, hr) AS rk FROM h)
             |SELECT p.day, CAST(p.hr AS BIGINT) AS peak_hour, CAST(p.n AS BIGINT) AS peak_n,
             |  CAST(d.day_n AS BIGINT) AS day_n,
             |  CAST(p.n * 1000 // d.day_n AS BIGINT) AS peak_share_milli
             |FROM p JOIN d USING (day) WHERE rk = 1 ORDER BY day""".stripMargin)),


    // concurrent-sessions sweep-line — the interval-overlap operator: each
    // user-day's active span [first hour, last hour] becomes a +1/−1 delta
    // pair, deltas aggregate onto the ≤ 745-slot hour calendar, and ONE
    // cumulative pass over that bounded domain yields concurrency;
    // reported as each day's peak concurrent-user count and its hour.
    // This is how interval overlap is done at 100 TB — no interval
    // self-join, no per-event state: the sweep frame is the calendar, so
    // the partitionless cumulative window is bounded (whitelisted under
    // the q_changepoint calendar convention).
    QueryDef(
      "q_concurrency_sweep",
      (s, d) => {
        val sess = Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(date_trunc("hour", col("ts"))).as("h0"),
            max(date_trunc("hour", col("ts"))).as("h1"))
        val deltas = sess.select(col("h0").as("h"), lit(1L).as("delta"))
          .unionAll(sess.select(expr("h1 + INTERVAL 1 HOUR").as("h"),
            lit(-1L).as("delta")))
          .groupBy("h").agg(sum("delta").as("delta"))
        val conc = deltas.withColumn("conc",
          sum("delta").over(Window.orderBy("h")))
        val wd = Window.partitionBy(to_date(col("h")))
          .orderBy(col("conc").desc, col("h"))
        conc.withColumn("rk", row_number().over(wd)).where(col("rk") === 1)
          .select(to_date(col("h")).as("day"),
            hour(col("h")).cast("long").as("peak_hour"),
            col("conc").cast("long").as("max_concurrent"))
          .orderBy("day")
      },
      Some("""WITH s AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |        min(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h0,
             |        max(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h1
             |      FROM events GROUP BY 1, 2),
             |d AS (SELECT h0 AS h, 1 AS delta FROM s
             |      UNION ALL SELECT h1 + INTERVAL 1 HOUR, -1 FROM s),
             |g AS (SELECT h, sum(delta) AS delta FROM d GROUP BY 1),
             |c AS (SELECT h, sum(delta) OVER (ORDER BY h) AS conc FROM g),
             |p AS (SELECT CAST(h AS DATE) AS day, extract(hour FROM h) AS hr, conc,
             |        row_number() OVER (PARTITION BY CAST(h AS DATE)
             |          ORDER BY conc DESC, h) AS rk FROM c)
             |SELECT day, CAST(hr AS BIGINT) AS peak_hour,
             |  CAST(conc AS BIGINT) AS max_concurrent
             |FROM p WHERE rk = 1 ORDER BY day""".stripMargin)),


    // daily new-vs-returning decomposition — each day's event volume with
    // its distinct users split by first-seen-that-day vs seen-before: the
    // standard DAU decomposition chart. One grouped min per user (the
    // first-seen frame, user-keyed) joined back on user_id, then one
    // day-grain rollup. The fixture's users all arrive in the first two
    // days, so new flatlines to zero after — the honest shape.
    QueryDef(
      "q_new_vs_returning",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val fs = ev.groupBy("user_id").agg(min("day").as("d0"))
        ev.join(fs, "user_id")
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(when(col("day") === col("d0"), col("user_id")))
              .as("new_users"),
            countDistinct(when(col("day") > col("d0"), col("user_id")))
              .as("returning_users"),
            countDistinct(col("user_id")).as("dau"))
          .select(col("day"), col("n_events"), col("new_users"),
            col("returning_users"),
            expr("new_users * 1000 div dau").as("new_share_milli"))
          .orderBy("day")
      },
      Some("""WITH fs AS (SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0
             |      FROM events GROUP BY 1),
             |e AS (SELECT e.user_id, CAST(CAST(e.ts AS TIMESTAMP) AS DATE) AS day
             |      FROM events e)
             |SELECT day, count(*) AS n_events,
             |  CAST(count(DISTINCT CASE WHEN day = d0 THEN e.user_id END) AS BIGINT)
             |    AS new_users,
             |  CAST(count(DISTINCT CASE WHEN day > d0 THEN e.user_id END) AS BIGINT)
             |    AS returning_users,
             |  CAST(count(DISTINCT CASE WHEN day = d0 THEN e.user_id END) * 1000
             |    // count(DISTINCT e.user_id) AS BIGINT) AS new_share_milli
             |FROM e JOIN fs USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin)),


    // longest consecutive-purchase-day streak per user — gaps-and-islands
    // on the (user, day) distinct frame via the day − row_number constant
    // (q_islands merges 5-minute event intervals; this is the day-grain
    // habit metric). Purchase-only keeps it non-degenerate (any-event
    // streaks span the whole fixture). All windows are user-partitioned;
    // top-10 via TakeOrdered.
    QueryDef(
      "q_streak_summary",
      (s, d) => {
        val ud = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val wu = Window.partitionBy("user_id").orderBy("day")
        val st = ud.withColumn("rn", row_number().over(wu))
          .withColumn("grp", expr("date_add(day, -rn)"))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("streak_days"), min("day").as("start_day"))
        val wb = Window.partitionBy("user_id")
          .orderBy(col("streak_days").desc, col("start_day"))
        st.withColumn("rk", row_number().over(wb)).where(col("rk") === 1)
          .select(col("user_id"), col("streak_days"), col("start_day"))
          .orderBy(col("streak_days").desc, col("user_id")).limit(10)
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
             |      FROM events WHERE event_type = 'purchase'),
             |g AS (SELECT user_id, day,
             |        day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT)
             |          AS grp FROM ud),
             |st AS (SELECT user_id, grp, count(*) AS len, min(day) AS start_day
             |       FROM g GROUP BY 1, 2),
             |best AS (SELECT user_id, len, start_day,
             |           row_number() OVER (PARTITION BY user_id
             |             ORDER BY len DESC, start_day) AS rk FROM st)
             |SELECT user_id, CAST(len AS BIGINT) AS streak_days, start_day
             |FROM best WHERE rk = 1 ORDER BY streak_days DESC, user_id LIMIT 10""".stripMargin)),


    // SRE error-budget burn-rate alert — the multi-window SLO readout:
    // per-hour error rate plus the 6-hour rolling rate, flagged when BOTH
    // windows burn above the 25 % budget (the fixture's base error rate
    // is 20 %, so flags fire on genuinely hot hours — 58 of 720). The
    // rolling frame slides over the ≤744-slot hour calendar after ONE
    // map-combined grouped count, so the partitionless window is
    // calendar-bounded (whitelisted, q_changepoint convention). Rates
    // are exact integer micro.
    QueryDef(
      "q_burn_rate",
      (s, d) => {
        val h = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("e"))
        val w6 = Window.orderBy("hr").rowsBetween(-5, 0)
        h.select(col("hr"), col("n"), col("e"),
            sum("n").over(w6).as("n6"), sum("e").over(w6).as("e6"))
          .select(col("hr"),
            expr("e * 1000000 div n").as("rate1h_micro"),
            expr("e6 * 1000000 div n6").as("rate6h_micro"),
            expr("CAST(CASE WHEN e*4 > n AND e6*4 > n6 THEN 1 ELSE 0 END AS BIGINT)")
              .as("burn_flag"))
          .orderBy("hr")
      },
      Some("""WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             |        count(*) AS n,
             |        sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS e
             |      FROM events GROUP BY 1),
             |w AS (SELECT hr, n, e,
             |        sum(n) OVER (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS n6,
             |        sum(e) OVER (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6
             |      FROM h)
             |SELECT hr, CAST(e * 1000000 // n AS BIGINT) AS rate1h_micro,
             |  CAST(e6 * 1000000 // n6 AS BIGINT) AS rate6h_micro,
             |  CAST(CASE WHEN e*4 > n AND e6*4 > n6 THEN 1 ELSE 0 END AS BIGINT) AS burn_flag
             |FROM w ORDER BY hr""".stripMargin)),


    // churn-risk triage — each user's idle time since last purchase
    // against their OWN purchasing rhythm: the lower median of
    // inter-purchase gaps (rank-picked at position (n+1) div 2, exact in
    // both engines — no interpolated median crosses the hash compare),
    // ratio in milli, flag at idle > 2× median. Gap and idle are exact
    // integer milliseconds. All windows are user-partitioned; top-10 by
    // idle ratio via TakeOrdered. 36 of 150 fixture users flag.
    QueryDef(
      "q_churn_risk",
      (s, d) => {
        // ts is TIMESTAMP_NTZ; the session timezone is pinned UTC repo-wide,
        // so the cast to TIMESTAMP makes unix_millis read the same instant
        // DuckDB's epoch_ms reads on the naive value.
        val p = Tables.events(s, d).where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            unix_millis(col("ts").cast("timestamp")).as("ms"))
        val anchor = p.agg(max(col("ms")).as("mx"))
        val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
        // zero gaps (same-millisecond re-logs of one purchase) carry no
        // rhythm signal and would zero the median — the rhythm is defined
        // over POSITIVE inter-purchase gaps
        val gaps = p
          .select(col("user_id"),
            (col("ms") - lag("ms", 1).over(wu)).as("gap_ms"))
          .where(col("gap_ms").isNotNull && col("gap_ms") > 0)
        val wg = Window.partitionBy("user_id").orderBy("gap_ms")
        val med = gaps.withColumn("r", row_number().over(wg))
          .withColumn("n_gaps", count(lit(1)).over(Window.partitionBy("user_id")))
          .where(col("r") === expr("(n_gaps + 1) div 2"))
          .select(col("user_id"), col("n_gaps"), col("gap_ms").as("med_gap_ms"))
        val lastp = p.groupBy("user_id").agg(max(col("ms")).as("last_ms"))
        med.join(lastp, "user_id").crossJoin(anchor)
          .select(col("user_id"), col("n_gaps"), col("med_gap_ms"),
            (col("mx") - col("last_ms")).as("idle_ms"))
          .select(col("user_id"), col("n_gaps"), col("med_gap_ms"), col("idle_ms"),
            expr("idle_ms * 1000 div med_gap_ms").as("idle_ratio_milli"),
            expr("CAST(CASE WHEN idle_ms > 2 * med_gap_ms THEN 1 ELSE 0 END AS BIGINT)")
              .as("churn_flag"))
          .orderBy(col("idle_ratio_milli").desc, col("user_id")).limit(10)
      },
      Some("""WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
             |      WHERE event_type='purchase'),
             |anchor AS (SELECT max(epoch_ms(ts)) AS mx FROM p),
             |g AS (SELECT user_id,
             |        epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id)) AS gap_ms FROM p),
             |gaps AS (SELECT user_id, gap_ms FROM g
             |         WHERE gap_ms IS NOT NULL AND gap_ms > 0),
             |rk AS (SELECT user_id, gap_ms,
             |         row_number() OVER (PARTITION BY user_id ORDER BY gap_ms) AS r,
             |         count(*) OVER (PARTITION BY user_id) AS n_gaps FROM gaps),
             |med AS (SELECT user_id, n_gaps, gap_ms AS med_gap_ms FROM rk
             |        WHERE r = (n_gaps + 1) // 2),
             |lastp AS (SELECT user_id, max(epoch_ms(ts)) AS last_ms FROM p GROUP BY 1)
             |SELECT m.user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
             |  CAST(med_gap_ms AS BIGINT) AS med_gap_ms,
             |  CAST((SELECT mx FROM anchor) - last_ms AS BIGINT) AS idle_ms,
             |  CAST(((SELECT mx FROM anchor) - last_ms) * 1000 // med_gap_ms AS BIGINT)
             |    AS idle_ratio_milli,
             |  CAST(CASE WHEN (SELECT mx FROM anchor) - last_ms > 2 * med_gap_ms
             |    THEN 1 ELSE 0 END AS BIGINT) AS churn_flag
             |FROM med m JOIN lastp l ON l.user_id = m.user_id
             |ORDER BY idle_ratio_milli DESC, m.user_id LIMIT 10""".stripMargin)),


    // RFM segment migration — each customer's fixed-rule segment (champion
    // / loyal / big_spender / regular / occasional, from 1996 frequency ×
    // monetary) against their 1997 segment, as the transition-count matrix
    // CRM teams steer by. ONE conditional-sum pass per customer replaces
    // the year self-join (the q_gmv_bridge trick); 'absent' marks
    // customers active in only one year. Thresholds are exact integer
    // cents — no quantile dependence, so the segmentation is stable under
    // resampling (q_rfm holds the ntile-based sibling).
    QueryDef(
      "q_rfm_migration",
      (s, d) => {
        val oy = Tables.orders(s, d)
          .withColumn("y", year(col("o_orderdate")))
          .where(col("y").isin(1996, 1997))
          .groupBy(col("o_custkey").as("ck"))
          .agg(sum(when(col("y") === 1996, 1L).otherwise(0L)).as("f0"),
            sum(when(col("y") === 1996,
              round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("m0"),
            sum(when(col("y") === 1997, 1L).otherwise(0L)).as("f1"),
            sum(when(col("y") === 1997,
              round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("m1"))
        def seg(f: String, m: String) =
          expr(s"""CASE WHEN $f = 0 THEN 'absent'
                  |     WHEN $f >= 3 AND $m >= 30000000 THEN 'champion'
                  |     WHEN $f >= 3 THEN 'loyal'
                  |     WHEN $m >= 30000000 THEN 'big_spender'
                  |     WHEN $f >= 2 THEN 'regular' ELSE 'occasional' END""".stripMargin)
        oy.select(seg("f0", "m0").as("seg0"), seg("f1", "m1").as("seg1"))
          .groupBy("seg0", "seg1").agg(count(lit(1)).as("n_customers"))
          .orderBy("seg0", "seg1")
      },
      Some("""WITH oy AS (SELECT o_custkey AS ck,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996 THEN 1 ELSE 0 END) AS f0,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
             |      THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS m0,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997 THEN 1 ELSE 0 END) AS f1,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
             |      THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS m1
             |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
             |  GROUP BY 1),
             |seg AS (SELECT
             |    CASE WHEN f0 = 0 THEN 'absent'
             |         WHEN f0 >= 3 AND m0 >= 30000000 THEN 'champion'
             |         WHEN f0 >= 3 THEN 'loyal'
             |         WHEN m0 >= 30000000 THEN 'big_spender'
             |         WHEN f0 >= 2 THEN 'regular' ELSE 'occasional' END AS seg0,
             |    CASE WHEN f1 = 0 THEN 'absent'
             |         WHEN f1 >= 3 AND m1 >= 30000000 THEN 'champion'
             |         WHEN f1 >= 3 THEN 'loyal'
             |         WHEN m1 >= 30000000 THEN 'big_spender'
             |         WHEN f1 >= 2 THEN 'regular' ELSE 'occasional' END AS seg1
             |  FROM oy)
             |SELECT seg0, seg1, count(*) AS n_customers
             |FROM seg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),


    // CDC changelog compaction — the Debezium-stream kernel beyond
    // q_upsert_latest's latest-wins merge: a keyed op stream where
    // DELETES are first-class (error events tombstone the user, value
    // events upsert), compacted to the net final state per key — last
    // op by (ts, event_id) wins, a winning tombstone removes the key.
    // One user-partitioned rank window (never global) + one aggregate;
    // the live-state checksum is an exact DECIMAL(38,0) cents sum. The
    // batch form of what the streaming IncrementalUpsert applies per
    // micro-batch; at 100 TB this compaction IS how a changelog table
    // becomes a snapshot.
    QueryDef(
      "q_cdc_compact",
      (s, d) => {
        val log = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
              .as("op"),
            expr("CAST(round(value*100) AS BIGINT)").as("cents"))
        val last = log.withColumn("rn",
            row_number().over(Window.partitionBy("user_id")
              .orderBy(col("ts").desc, col("event_id").desc)))
          .where(col("rn") === 1)
        last.agg(count(lit(1)).as("n_keys"),
            sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_tombstoned"),
            sum(when(col("op") === "u", 1L).otherwise(0L)).as("n_live"),
            sum(when(col("op") === "u",
              expr("CAST(cents AS DECIMAL(38,0))")).otherwise(lit(0)))
              .as("live_cents"))
          .select(col("n_keys").cast("long").as("n_keys"),
            col("n_tombstoned").cast("long").as("n_tombstoned"),
            col("n_live").cast("long").as("n_live"),
            col("live_cents").cast("long").as("live_cents"))
      },
      Some("""WITH log AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |    CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
             |    CAST(round(value*100) AS BIGINT) AS cents
             |  FROM events WHERE value IS NOT NULL),
             |last AS (SELECT * FROM (SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM log) WHERE rn = 1)
             |SELECT count(*) AS n_keys,
             |  CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned,
             |  CAST(sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
             |  CAST(sum(CASE WHEN op = 'u' THEN CAST(cents AS HUGEINT) ELSE 0 END) AS BIGINT)
             |    AS live_cents
             |FROM last""".stripMargin)),


    // SCD2 as-of reconstruction — the type-2 slowly-changing-dimension
    // read: each user's purchase stream defines value-band "dimension
    // versions" with validity [ts, next purchase ts); the as-of instant
    // is the corpus midpoint (deterministic from min/max event epochs),
    // and the readout is how many users sit in each band AT that
    // instant — the point-in-time dimension join every fact backfill
    // runs. Validity intervals come from one user-partitioned lead
    // window; the as-of filter is a broadcast 1-row frame; bands are
    // the value-cents div 10000 domain.
    QueryDef(
      "q_scd2_asof",
      (s, d) => {
        // validity arithmetic runs in exact epoch-micro LONG space —
        // engine-portable and free of the NTZ/TZ comparison snags
        val p = Tables.events(s, d)
          .where(col("event_type") === "purchase" && col("value").isNotNull)
          .select(col("user_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
            col("event_id"),
            expr("CAST(round(value*100) AS BIGINT) div 10000").as("band"))
        val scd = p.withColumn("valid_to",
          lead(col("tsu"), 1).over(Window.partitionBy("user_id")
            .orderBy(col("tsu").asc, col("event_id").asc)))
        val asof = p.agg(expr("(min(tsu) + max(tsu)) div 2").as("t"))
        scd.crossJoin(asof)
          .where(col("tsu") <= col("t") &&
            (col("valid_to").isNull || col("valid_to") > col("t")))
          .groupBy("band").agg(count(lit(1)).as("n_users"))
          .select(col("band").cast("long").as("value_band"),
            col("n_users").cast("long").as("n_users_asof"))
          .orderBy("value_band")
      },
      Some("""WITH p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, event_id,
             |    CAST(round(value*100) AS BIGINT) // 10000 AS band
             |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
             |scd AS (SELECT *, lead(tsu) OVER (PARTITION BY user_id
             |    ORDER BY tsu, event_id) AS valid_to FROM p),
             |a AS (SELECT (min(tsu) + max(tsu)) // 2 AS t FROM p)
             |SELECT CAST(band AS BIGINT) AS value_band,
             |  count(*) AS n_users_asof
             |FROM scd CROSS JOIN a
             |WHERE tsu <= t AND (valid_to IS NULL OR valid_to > t)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
