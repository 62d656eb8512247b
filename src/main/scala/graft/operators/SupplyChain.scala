package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Commerce and operations analytics over orders/lineitem: inventory
  * (EOQ, Croston-adjacent demand), bullwhip, elasticity, brand
  * switching, portfolio (BCG), concentration (Gini/Atkinson), queueing
  * (Erlang C), bandits (UCB1), and claims development (chain ladder).
  * Split from [[Behavioral]] round 15 (mechanical move, zero query
  * changes); each reduces facts to a product/period grain first, and
  * the fixed-point recursions run on bounded domains.
  */
object SupplyChain {

  val defs: Seq[QueryDef] = Seq(


    // acquisition-cohort report over the RELATIONAL fact table: customers
    // grouped by first-order month, with total orders, orders-per-
    // customer in exact micros, and lifetime value in integer cents —
    // the q_cohort_retention shape applied to the orders table (cohort
    // analytics are not events-only). Two map-combined aggregates, keyed
    // on customer then on the bounded month domain.
    QueryDef(
      "q_orders_cohort",
      (s, d) => {
        val fo = Tables.orders(s, d).groupBy("o_custkey")
          .agg(min(col("o_orderdate")).as("first_dt"),
            count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("value_cents"))
        fo.groupBy(to_date(date_trunc("month", col("first_dt"))).as("cohort_month"))
          .agg(count(lit(1)).as("customers"),
            sum("n_orders").as("orders_total"),
            expr("(sum(n_orders) * CAST(1000000 AS BIGINT)) div count(1)")
              .as("orders_per_cust_micro"),
            sum("value_cents").as("value_cents"))
          .orderBy("cohort_month")
      },
      Some("""WITH fo AS (SELECT o_custkey,
             |              min(CAST(o_orderdate AS TIMESTAMP)) AS first_dt,
             |              count(*) AS n_orders,
             |              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS value_cents
             |            FROM orders GROUP BY 1)
             |SELECT CAST(date_trunc('month', first_dt) AS DATE) AS cohort_month,
             |  count(*) AS customers, CAST(sum(n_orders) AS BIGINT) AS orders_total,
             |  CAST((sum(n_orders) * 1000000) // count(*) AS BIGINT)
             |    AS orders_per_cust_micro,
             |  CAST(sum(value_cents) AS BIGINT) AS value_cents
             |FROM fo GROUP BY 1 ORDER BY 1""".stripMargin)),


    // CONDITIONAL value: mean purchase value split by the PRIOR event
    // type in the user's stream — does a view-led purchase carry the
    // same basket as an error-led one? (The attribution-adjacent
    // question q_first_touch answers at user grain, asked at event
    // grain.) One lag window on the user_id shuffle every query in this
    // file shares; exact integer micro means over the bounded
    // prior-type domain.
    QueryDef(
      "q_conditional_value",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("value"),
            col("ts"), col("event_id"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .where(col("event_type") === "purchase" &&
            col("prev_type").isNotNull && col("value").isNotNull)
          .select(col("prev_type"),
            round(col("value") * 1e6).cast("long").as("vm"))
          .groupBy("prev_type")
          .agg(count(lit(1)).as("purchases"),
            expr("sum(vm) div count(1)").as("mean_value_micro"))
          .orderBy("prev_type")
      },
      Some("""WITH seq AS (SELECT user_id, event_type, value, ts, event_id,
             |        lag(event_type) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) AS prev_type
             |      FROM events),
             |p AS (SELECT prev_type, CAST(round(value * 1000000) AS BIGINT) AS vm
             |      FROM seq WHERE event_type = 'purchase' AND prev_type IS NOT NULL
             |        AND value IS NOT NULL)
             |SELECT prev_type, count(*) AS purchases,
             |  CAST(sum(vm) // count(*) AS BIGINT) AS mean_value_micro
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),


    // repurchase-interval quartiles: rank-exact p25/50/75 of the gap (in
    // whole seconds) between a user's consecutive purchases — the
    // inter-purchase cadence that retention models calibrate against.
    // Gaps come from one lag window on the user_id shuffle; the gap
    // frame is user-scaled, so its global rank rides GlobalOrder's
    // range shuffle and the three percentile ranks broadcast-join back
    // from the one-row count (the q_time_to_convert shape) — no
    // partitionless window anywhere in the plan.
    QueryDef(
      "q_repurchase_interval",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gaps = Tables.events(s, d)
          .where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("secs",
            unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w)))
          .where(col("secs").isNotNull)
        val r = GlobalOrder.withGlobalRowNumber(gaps,
          Seq(col("secs").asc, col("user_id").asc, col("event_id").asc), "rn")
        val edgeRanks = gaps.agg(count(lit(1)).as("n"))
          .select(explode(array(lit(25), lit(50), lit(75))).as("q"), col("n"))
          .select(col("q"), expr("(q * n + 99) div 100").as("rn"))
        r.join(edgeRanks, "rn")
          .select(col("q"), col("secs")).orderBy("q")
      },
      Some("""WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
             |           FROM events WHERE event_type = 'purchase'),
             |gaps AS (SELECT user_id, event_id,
             |           CAST(date_diff('second',
             |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             |             ts) AS BIGINT) AS secs
             |         FROM p),
             |g AS (SELECT user_id, event_id, secs FROM gaps WHERE secs IS NOT NULL),
             |r AS (SELECT secs,
             |        row_number() OVER (ORDER BY secs, user_id, event_id) AS rn,
             |        count(*) OVER () AS n FROM g)
             |SELECT q, secs FROM (
             |  SELECT 25 AS q, secs FROM r WHERE rn = (25*n + 99) // 100
             |  UNION ALL SELECT 50, secs FROM r WHERE rn = (50*n + 99) // 100
             |  UNION ALL SELECT 75, secs FROM r WHERE rn = (75*n + 99) // 100)
             |ORDER BY q""".stripMargin)),


    // Erlang-C staffing table — how many servers does the peak event
    // arrival rate need at a 200 ms mean service time? Offered load
    // a = peak/18000 erlangs; the Erlang-B blocking recursion
    // B_c = a·B_{c−1}/(c + a·B_{c−1}) runs 32 unrolled steps in
    // TRUNCATING nano fixed point (the q_markov_stationary convention —
    // integer div at every step, so both engines agree bit for bit),
    // then Erlang-C wait probability and ASA come out as exact integer
    // rationals of B. The corpus-scaled work is ONE grouped hourly count;
    // the recursion lives on a 1-row frame.
    QueryDef(
      "q_erlang_c",
      (s, d) => {
        val pk = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts").cast("timestamp")).as("h"))
          .agg(count(lit(1)).as("n"))
          .agg(max("n").cast("decimal(38,0)").as("p"))
        var chain = pk.withColumn("b0",
          lit(1000000000L).cast("decimal(38,0)"))
        for (k <- 1 to 32) chain = chain.withColumn(s"b$k",
          expr(s"""CAST((p * b${k - 1})
                  | div (CAST(${k * 18000} AS DECIMAL(38,0))
                  |   + (p * b${k - 1}) div 1000000000) AS DECIMAL(38,0))"""
            .stripMargin))
        val tab = chain.select(col("p"),
            explode(array((1 to 32).map(k =>
              struct(lit(k.toLong).as("c"), col(s"b$k").as("b"))): _*)).as("r"))
          .select(col("p"), col("r.c").as("c"), col("r.b").as("b"))
        tab.where(expr("18000*c > p"))
          .select(col("c").as("servers"),
            expr("CAST(p * 1000000 div (18000*c) AS BIGINT)").as("util_micro"),
            col("b").cast("long").as("erlang_b_nano"),
            expr("""CAST(b*c*18000
                   | div (CAST(c AS DECIMAL(38,0))*18000
                   |   - p*(1000000000 - b) div 1000000000) AS BIGINT)"""
              .stripMargin).as("erlang_c_nano"),
            expr("""CAST(3600 * (b*c*18000
                   | div (CAST(c AS DECIMAL(38,0))*18000
                   |   - p*(1000000000 - b) div 1000000000))
                   | div (18000*c - p) AS BIGINT)""".stripMargin).as("asa_micro_s"))
          .orderBy("servers")
      },
      Some(erlangOracle)),


    // economic order quantity per brand: EOQ = √(2·D·S/H) with demand D
    // from exact per-row-rounded quantities, ordering cost S fixed at
    // 5 000 cents, and holding cost H = 20% of the brand's average unit
    // revenue — the classic inventory lot-size that closes the loop
    // with q_safety_stock (when to reorder) and q_newsvendor (how much
    // under uncertainty): this is how much per order at steady state.
    // One lineitem aggregate + a broadcast part-dim join; the sqrt is
    // one IEEE expression over exact integer sums.
    QueryDef(
      "q_eoq",
      (s, d) => {
        val li = Tables.lineitem(s, d).groupBy("l_partkey")
          .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("dem"),
            sum(expr("CAST(round(l_extendedprice*100) AS BIGINT)")).as("rev"),
            count(lit(1)).as("n"))
        li.join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand").as("brand"))
          // demand/lines widen through DECIMAL(38,0) like rev_cents —
          // the registry-wide convention for brand-level re-sums, since
          // DuckDB's sum() promotes to HUGEINT while a plain Spark long
          // sum would wrap silently under ANSI-off (the wrap threshold
          // is astronomically far here, but convention beats a proof
          // obligation per query)
          .agg(sum(expr("CAST(dem AS DECIMAL(38,0))")).as("demand"),
            sum(expr("CAST(rev AS DECIMAL(38,0))")).as("rev_cents"),
            sum(expr("CAST(n AS DECIMAL(38,0))")).as("lines"))
          .select(col("brand"), col("demand").cast("long").as("demand"),
            col("lines").cast("long").as("n_lines"),
            expr("""CAST(round(sqrt(2.0 * demand * 500000 /
                   |  (0.2 * CAST(rev_cents AS DOUBLE) / demand))) AS BIGINT)"""
              .stripMargin).as("eoq_units"))
          .orderBy("brand")
      },
      Some("""WITH li AS (SELECT l_partkey, sum(CAST(round(l_quantity) AS BIGINT)) AS dem,
             |    sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS rev,
             |    count(*) AS n FROM lineitem GROUP BY 1),
             |b AS (SELECT p.p_brand AS brand, sum(li.dem) AS demand,
             |    sum(CAST(li.rev AS HUGEINT)) AS rev_cents, sum(li.n) AS lines
             |  FROM li JOIN part p ON p.p_partkey = li.l_partkey GROUP BY 1)
             |SELECT brand, CAST(demand AS BIGINT) AS demand, CAST(lines AS BIGINT) AS n_lines,
             |  CAST(round(sqrt(2.0 * demand * 500000 /
             |    (0.2 * CAST(rev_cents AS DOUBLE) / demand))) AS BIGINT) AS eoq_units
             |FROM b ORDER BY brand""".stripMargin)),


    // bullwhip ratio: CV²(daily order arrivals) / CV²(daily shipped
    // quantity) — the demand-amplification diagnostic a supply chain is
    // monitored on (ratio > 1 ⇒ ordering amplifies demand noise
    // upstream; the fixture's order counts are SMOOTHER than quantity,
    // the honest < 1 reading). Two calendar-bounded daily aggregates
    // with exact 128-bit moments; the ratio is one IEEE closed form.
    // Completes the q_demand_cv / q_safety_stock / q_eoq inventory
    // suite with the inter-echelon view.
    QueryDef(
      "q_bullwhip",
      (s, d) => {
        val dem = Tables.lineitem(s, d)
          .groupBy(col("l_shipdate").cast("date").as("dt"))
          .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("q"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(q AS DECIMAL(38,0))")).as("s"),
            sum(expr("CAST(q AS DECIMAL(38,0))*q")).as("s2"))
        val ord = Tables.orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("dt"))
          .agg(count(lit(1)).as("q"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(q AS DECIMAL(38,0))")).as("s"),
            sum(expr("CAST(q AS DECIMAL(38,0))*q")).as("s2"))
        dem.select(col("n").as("nd"), col("s").as("sd_"), col("s2").as("sd2"))
          .crossJoin(ord)
          .select(col("nd").cast("long").as("demand_days"),
            col("n").cast("long").as("order_days"),
            expr("""CAST(round((CAST(n AS DOUBLE)*s2 - CAST(s AS DOUBLE)*s)
                   |    / (CAST(s AS DOUBLE)*s)
                   |  / ((CAST(nd AS DOUBLE)*sd2 - CAST(sd_ AS DOUBLE)*sd_)
                   |    / (CAST(sd_ AS DOUBLE)*sd_)) * 1000) AS BIGINT)"""
              .stripMargin).as("bullwhip_milli"))
      },
      Some("""WITH dem AS (SELECT CAST(l_shipdate AS DATE) AS dt,
             |    sum(CAST(round(l_quantity) AS BIGINT)) AS q FROM lineitem GROUP BY 1),
             |orde AS (SELECT CAST(o_orderdate AS DATE) AS dt, count(*) AS q FROM orders GROUP BY 1),
             |md AS (SELECT count(*) AS n, sum(CAST(q AS HUGEINT)) AS s,
             |    sum(CAST(q AS HUGEINT)*q) AS s2 FROM dem),
             |mo AS (SELECT count(*) AS n, sum(CAST(q AS HUGEINT)) AS s,
             |    sum(CAST(q AS HUGEINT)*q) AS s2 FROM orde)
             |SELECT CAST(md.n AS BIGINT) AS demand_days, CAST(mo.n AS BIGINT) AS order_days,
             |  CAST(round((CAST(mo.n AS DOUBLE)*mo.s2 - CAST(mo.s AS DOUBLE)*mo.s)
             |      / (CAST(mo.s AS DOUBLE)*mo.s)
             |    / ((CAST(md.n AS DOUBLE)*md.s2 - CAST(md.s AS DOUBLE)*md.s)
             |      / (CAST(md.s AS DOUBLE)*md.s)) * 1000) AS BIGINT) AS bullwhip_milli
             |FROM md CROSS JOIN mo""".stripMargin)),


    // brand-switching matrix: consecutive-order brand transitions per
    // customer (order brand = the deterministic min lineitem brand),
    // top-15 off-diagonal flows with the per-source switch rate — the
    // loyalty/competition readout a category manager gets from the same
    // machinery q_event_transitions applies to event types. One
    // customer-partitioned lead window over the order timeline; brand
    // totals and rates are exact integers.
    QueryDef(
      "q_brand_switch",
      (s, d) => {
        // aggregate lineitem to its per-ORDER brand BEFORE touching
        // orders (r15 tail sweep): min(p_brand) by l_orderkey map-side-
        // combines 4:1 ahead of its one narrow shuffle, and the orders
        // join then attaches (c, dt) to order-sized rows — the old form
        // joined data-sized lineitem to orders first and re-shuffled
        // the full joined width on (c, o_orderkey, dt). Same result:
        // o_orderkey determines c and dt, so grouping by the order key
        // alone is the identical aggregation.
        val ob = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("p_partkey") === col("l_partkey"))
          .groupBy("l_orderkey").agg(min("p_brand").as("brand"))
          .join(Tables.orders(s, d)
            .select(col("o_custkey").as("c"), col("o_orderkey"),
              col("o_orderdate").cast("date").as("dt")),
            col("l_orderkey") === col("o_orderkey"))
        val seq = ob.select(col("c"), col("brand"),
          lead("brand", 1).over(Window.partitionBy("c")
            .orderBy(col("dt"), col("o_orderkey"))).as("nxt"))
        val tr = seq.where(col("nxt").isNotNull)
          .groupBy(col("brand").as("from_brand"), col("nxt").as("to_brand"))
          .agg(count(lit(1)).as("n"))
        val rs = tr.groupBy("from_brand").agg(sum("n").as("tot"))
        tr.join(rs, "from_brand")
          .where(col("from_brand") =!= col("to_brand"))
          .select(col("from_brand"), col("to_brand"),
            col("n").cast("long").as("n"),
            expr("CAST((1000000 * n) div tot AS BIGINT)").as("rate_micro"))
          .orderBy(col("n").desc, col("from_brand"), col("to_brand")).limit(15)
      },
      Some("""WITH ob AS (SELECT o.o_custkey AS c, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS dt,
             |    min(p.p_brand) AS brand
             |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |  JOIN part p ON p.p_partkey = l.l_partkey
             |  GROUP BY 1, 2, 3),
             |seq AS (SELECT c, brand,
             |    lead(brand) OVER (PARTITION BY c ORDER BY dt, o_orderkey) AS nxt
             |  FROM ob),
             |tr AS (SELECT brand AS from_brand, nxt AS to_brand, count(*) AS n
             |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
             |rs AS (SELECT from_brand, sum(n) AS tot FROM tr GROUP BY 1)
             |SELECT t.from_brand, t.to_brand, CAST(t.n AS BIGINT) AS n,
             |  CAST((1000000 * t.n) // r.tot AS BIGINT) AS rate_micro
             |FROM tr t JOIN rs r USING (from_brand)
             |WHERE t.from_brand <> t.to_brand
             |ORDER BY n DESC, from_brand, to_brand LIMIT 15""".stripMargin)),


    // cross-price elasticity: regress Brand#2's daily log-quantity on
    // Brand#1's daily log average price (both nano-quantized per
    // calendar day before the exact moment sums — the q_hill_tail ln
    // convention). Positive β ⇒ substitutes, negative ⇒ complements;
    // the fixture's independent demand reads ≈ 0, the honest null. The
    // own-price q_price_elasticity's competitive companion.
    QueryDef(
      "q_cross_elasticity",
      (s, d) => {
        def daily(brand: String, out: String, isPrice: Boolean) = {
          val g = Tables.lineitem(s, d)
            .join(broadcast(Tables.part(s, d)
              .where(col("p_brand") === brand).select("p_partkey")),
              col("p_partkey") === col("l_partkey"))
            .groupBy(col("l_shipdate").cast("date").as("dt"))
          if (isPrice)
            g.agg(expr("""CAST(round(1000000000.0 *
                         |  ln(sum(CAST(round(l_extendedprice*100) AS BIGINT))
                         |    / CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)))
                         |AS BIGINT)""".stripMargin).as(out))
          else
            g.agg(expr("""CAST(round(1000000000.0 *
                         |  ln(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)))
                         |AS BIGINT)""".stripMargin).as(out))
        }
        daily("Brand#1", "x", isPrice = true)
          .join(daily("Brand#2", "y", isPrice = false), "dt")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0))*x")).as("sxx"),
            sum(expr("CAST(x AS DECIMAL(38,0))*y")).as("sxy"))
          .select(col("n").cast("long").as("n_days"),
            expr("""CAST(round(1000.0 * (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                   |  / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)) AS BIGINT)"""
              .stripMargin).as("cross_elasticity_milli"))
      },
      Some("""WITH da AS (SELECT CAST(l.l_shipdate AS DATE) AS dt,
             |    CAST(round(1000000000.0 * ln(sum(CAST(round(l.l_extendedprice*100) AS BIGINT))
             |      / CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS DOUBLE))) AS BIGINT) AS x
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |  WHERE p.p_brand = 'Brand#1' GROUP BY 1),
             |db AS (SELECT CAST(l.l_shipdate AS DATE) AS dt,
             |    CAST(round(1000000000.0 * ln(CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS DOUBLE))) AS BIGINT) AS y
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |  WHERE p.p_brand = 'Brand#2' GROUP BY 1),
             |j AS (SELECT x, y FROM da JOIN db USING (dt)),
             |m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             |    sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(x AS HUGEINT)*y) AS sxy FROM j)
             |SELECT CAST(n AS BIGINT) AS n_days,
             |  CAST(round(1000.0 * (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
             |    / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)) AS BIGINT) AS cross_elasticity_milli
             |FROM m""".stripMargin)),


    // chain-ladder development factors: cumulative shipped revenue by
    // (order-month cohort × months-to-ship development age), with the
    // all-cohort volume-weighted age-to-age factor fⱼ = ΣC_{i,j+1}/ΣC_{i,j}
    // — the actuarial run-off projection, here reading "how much of an
    // order month's revenue has shipped by age j" (the reserving view
    // of q_ship_lag's distribution). One grouped pass builds the
    // triangle; the cumulative rides a cohort-PARTITIONED window over
    // the ≤5-value development domain; factors are exact 128-bit
    // integer ratios. Scope note (mirrored in the oracle, so never a
    // divergence): ages pair via an exact dev = dev+1 join, so a cohort
    // MISSING an intermediate age contributes nothing to the factors
    // around the gap rather than carrying its cumulative forward as a
    // fully-densified actuarial triangle would; the TPC-H ship lags are
    // dense over ages 0..4 by construction (q_ship_lag pins that), and
    // a sparse-cohort corpus would want a 5-row-per-cohort grid join +
    // last-value carry-forward BEFORE this factor join.
    QueryDef(
      "q_chain_ladder",
      (s, d) => {
        val c = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_shipdate").cast("date").as("sd"),
              expr("CAST(round(l_extendedprice*100) AS BIGINT)").as("v")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(date_trunc("month", col("od")).cast("date").as("cohort"),
            expr("""CAST((year(sd) - year(od)) * 12
                   |  + month(sd) - month(od) AS BIGINT)""".stripMargin).as("dev"))
          .agg(sum("v").as("v"))
        val cum = c.where(col("dev") >= 0 && col("dev") <= 4)
          .withColumn("cv", sum("v").over(
            Window.partitionBy("cohort").orderBy("dev")
              .rowsBetween(Window.unboundedPreceding, 0)))
        val a = cum.select(col("cohort"), col("dev").as("age"), col("cv"))
        val b = cum.select(col("cohort"), (col("dev") - 1).as("age"),
          col("cv").as("nv"))
        a.join(b, Seq("cohort", "age"))
          .groupBy("age")
          .agg(sum(expr("CAST(nv AS DECIMAL(38,0))")).as("nxt"),
            sum(expr("CAST(cv AS DECIMAL(38,0))")).as("cur"))
          .select(col("age").cast("long").as("age_months"),
            col("cur").cast("long").as("cum_cents"),
            expr("CAST((1000000 * nxt) div cur AS BIGINT)").as("dev_factor_micro"))
          .orderBy("age_months")
      },
      Some("""WITH c AS (SELECT CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE) AS cohort,
             |    CAST((year(CAST(l.l_shipdate AS DATE)) - year(CAST(o.o_orderdate AS DATE))) * 12
             |      + month(CAST(l.l_shipdate AS DATE)) - month(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS dev,
             |    sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS v
             |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |  GROUP BY 1, 2),
             |cum AS (SELECT cohort, dev,
             |    sum(v) OVER (PARTITION BY cohort ORDER BY dev
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
             |  FROM c WHERE dev >= 0 AND dev <= 4),
             |pairs AS (SELECT a.dev AS age, sum(CAST(b.cv AS HUGEINT)) AS nxt,
             |    sum(CAST(a.cv AS HUGEINT)) AS cur
             |  FROM cum a JOIN cum b ON b.cohort = a.cohort AND b.dev = a.dev + 1
             |  GROUP BY 1)
             |SELECT CAST(age AS BIGINT) AS age_months,
             |  CAST(cur AS BIGINT) AS cum_cents,
             |  CAST((1000000 * nxt) // cur AS BIGINT) AS dev_factor_micro
             |FROM pairs ORDER BY age""".stripMargin)),


    // Gini coefficient of customer revenue concentration — the single
    // inequality number behind q_volume_concentration's curve and the
    // q_theil_index / q_source_gini siblings' CUSTOMER-revenue view:
    // G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over revenue ranked ascending.
    // Customers are data-sized, so the rank rides GlobalOrder's range
    // shuffle (never a partitionless window); the rank-weighted sum is
    // one map-combined aggregate over the ranked frame; products widen
    // through DECIMAL(38,0) (rank·cents passes 2⁶³ at warehouse scale).
    // Ascending ties break on custkey — mirrored, so exact.
    QueryDef(
      "q_gini_customer",
      (s, d) => {
        val cr = Tables.orders(s, d)
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("o_custkey").agg(sum("cents").as("cents"))
        val ord = Seq(col("cents").asc, col("o_custkey").asc)
        GlobalOrder.withGlobalRowNumber(cr, ord, "i")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(cents AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(i AS DECIMAL(38,0)) * cents")).as("six"))
          .select(col("n").cast("long").as("n_customers"),
            col("sx").cast("long").as("total_cents"),
            expr("""CAST((2000000 * six) div (n * sx)
                   |  - (1000000 * (n + 1)) div n AS BIGINT)""".stripMargin)
              .as("gini_micro"))
      },
      Some("""WITH cr AS (SELECT o_custkey,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT cents,
             |    CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
             |  FROM cr),
             |a AS (SELECT count(*) AS n, sum(CAST(cents AS HUGEINT)) AS sx,
             |    sum(CAST(i AS HUGEINT) * cents) AS six FROM r)
             |SELECT CAST(n AS BIGINT) AS n_customers,
             |  CAST(sx AS BIGINT) AS total_cents,
             |  CAST((2000000 * six) // (n * sx)
             |    - (1000000 * (n + 1)) // n AS BIGINT) AS gini_micro
             |FROM a""".stripMargin)),


    // Atkinson inequality index (ε = 1) of customer revenue — the
    // welfare-theoretic complement to q_gini_customer: A = 1 −
    // geomean(x)/mean(x), which unlike Gini is decomposable and weights
    // the LOW end of the distribution (ε picks the aversion; ε = 1 is
    // the log form). The geometric mean rides Σln x with each
    // customer's ln(cents) nano-quantized BEFORE the sum (house rule);
    // the index is one mirrored IEEE closed form over the two exact
    // sums. One grouped aggregate + one global aggregate — no windows,
    // no joins. Revenue cents ≥ 100 by fixture construction, so ln
    // never sees 0.
    QueryDef(
      "q_atkinson",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("o_custkey").agg(sum("cents").as("cents"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(cents AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(round(1e9 * ln(CAST(cents AS DOUBLE))) AS BIGINT)"))
              .as("sl"))
          .select(col("n").cast("long").as("n_customers"),
            expr("CAST(sx div n AS BIGINT)").as("mean_cents"),
            expr("""CAST(round(1000000 * (1 - exp(sl/1e9/n)
                   |  / (CAST(sx AS DOUBLE)/n))) AS BIGINT)""".stripMargin)
              .as("atkinson_micro"))
      },
      Some("""WITH cr AS (SELECT o_custkey,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1),
             |a AS (SELECT count(*) AS n, sum(CAST(cents AS HUGEINT)) AS sx,
             |    sum(CAST(round(1e9 * ln(CAST(cents AS DOUBLE))) AS BIGINT)) AS sl
             |  FROM cr)
             |SELECT CAST(n AS BIGINT) AS n_customers,
             |  CAST(sx // n AS BIGINT) AS mean_cents,
             |  CAST(round(1000000 * (1 - exp(sl/1e9/n)
             |    / (CAST(sx AS DOUBLE)/n))) AS BIGINT) AS atkinson_micro
             |FROM a""".stripMargin)),


    // half-life time-decay popularity per part — the feature-store
    // scoring every "trending items" surface runs: each sale's weight
    // halves per 30 days of age, anchored at the corpus max ship date
    // (reproducible — wall-clock NOW would make the score unstable).
    // The decay is the EXACT integer 10⁶ ≫ (age div 30) — a bit shift,
    // not exp(−age/τ): a smooth exponential's last nano digit rides
    // each engine's libm (Spark and DuckDB exp() disagree by 1 ulp on
    // real inputs — measured: one boundary age flipped the sf0.01
    // hash), while the stepped half-life is engine-free arithmetic
    // with the same decay law. Per-row terms are exact micro integers
    // summed exactly; the anchor rides a broadcast 1-row frame. Top-15
    // with the raw sale count alongside — the pair shows WHERE decay
    // reorders raw popularity.
    QueryDef(
      "q_decay_popularity",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_partkey"),
          datediff(col("l_shipdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("t"))
        val anchor = li.agg(max("t").as("t0"))
        li.crossJoin(anchor)
          .select(col("l_partkey"),
            // underflow-to-0 past ~20 half-lives is SAFE here (unlike
            // q_time_decay_attribution's clamped weights): the weight is
            // SUMMED, never a divisor — decay-to-zero is the intended law
            expr("""1000000 div shiftleft(CAST(1 AS BIGINT),
                   |  CAST(least((t0 - t) div 30, 62) AS INT))""".stripMargin)
              .as("s"))
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n_sales"), sum("s").as("score"))
          .select(col("l_partkey").cast("long").as("part_id"),
            col("n_sales").cast("long").as("n_sales"),
            col("score").cast("long").as("decay_score_micro"))
          .orderBy(col("decay_score_micro").desc, col("part_id")).limit(15)
      },
      Some("""WITH li AS (SELECT l_partkey,
             |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t
             |  FROM lineitem),
             |a AS (SELECT max(t) AS t0 FROM li),
             |sc AS (SELECT l_partkey,
             |    1000000 // (CAST(1 AS BIGINT) << least((t0 - t) // 30, 62)) AS s
             |  FROM li CROSS JOIN a)
             |SELECT CAST(l_partkey AS BIGINT) AS part_id,
             |  count(*) AS n_sales,
             |  CAST(sum(s) AS BIGINT) AS decay_score_micro
             |FROM sc GROUP BY 1
             |ORDER BY decay_score_micro DESC, part_id LIMIT 15""".stripMargin)),


    // UCB1 bandit scores over the event types as arms (reward = the
    // value > 250 conversion indicator, the bounded-[0,1] reward UCB1's
    // regret bound assumes) — the exploration-bonus ranking a
    // batch-updated bandit serves from: ucb = x̄ⱼ + √(2·ln N / nⱼ).
    // This is the SCORING step of the bandit loop (the arm-pull side is
    // a serving-time concern, not a batch query); the analytics
    // pipeline's job is to recompute these scores per batch. One
    // conditional-count pass, the total a broadcast 1-row frame, one
    // mirrored IEEE form per arm over exact (k, n) integers. On the
    // type-independent fixture all means tie ⇒ the bonus term alone
    // ranks arms by inverse pull count: the honest cold-start read.
    QueryDef(
      "q_ucb1",
      (s, d) => {
        val arms = Tables.events(s, d).where(col("value").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(when(col("value") > 250, 1)).as("k"))
        val tot = arms.agg(sum("n").as("nn"))
        arms.crossJoin(tot)
          .select(col("event_type").as("arm"),
            col("n").cast("long").as("pulls"),
            col("k").cast("long").as("successes"),
            expr("CAST((1000 * k) div n AS BIGINT)").as("mean_milli"),
            expr("""CAST(round(1000 * (CAST(k AS DOUBLE)/n
                   |  + sqrt(2 * ln(CAST(nn AS DOUBLE)) / n))) AS BIGINT)"""
              .stripMargin).as("ucb_milli"))
          .orderBy(col("ucb_milli").desc, col("arm"))
      },
      Some("""WITH arms AS (SELECT event_type, count(*) AS n,
             |    count(*) FILTER (WHERE value > 250) AS k
             |  FROM events WHERE value IS NOT NULL GROUP BY 1),
             |t AS (SELECT sum(n) AS nn FROM arms)
             |SELECT event_type AS arm, CAST(n AS BIGINT) AS pulls,
             |  CAST(k AS BIGINT) AS successes,
             |  CAST((1000 * k) // n AS BIGINT) AS mean_milli,
             |  CAST(round(1000 * (CAST(k AS DOUBLE)/n
             |    + sqrt(2 * ln(CAST(nn AS DOUBLE)) / n))) AS BIGINT) AS ucb_milli
             |FROM arms CROSS JOIN t
             |ORDER BY ucb_milli DESC, arm""".stripMargin)),


    // BCG growth-share matrix per brand — split the shipping calendar
    // at its midpoint date (deterministic, from min/max ship epochs),
    // score each brand's recent-half revenue share against its
    // half-over-half growth, and place it in the classic quadrant
    // (star / cash_cow / question_mark / dog) using the natural
    // thresholds: share above the uniform 1/|brands| line, growth above
    // 1.0. The portfolio readout that q_market_share_trend's monthly
    // series feeds in practice, here as one self-contained exact-cents
    // aggregate: one lineitem pass splits the halves conditionally, the
    // part dim broadcasts, totals ride 1-row broadcasts.
    QueryDef(
      "q_bcg_matrix",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("p_partkey") === col("l_partkey"))
          .select(col("p_brand").as("brand"),
            datediff(col("l_shipdate").cast("date"),
              lit("1970-01-01").cast("date")).cast("long").as("t"),
            expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
              .as("cents"))
        val span = li.agg(min("t").as("t0"), max("t").as("t1"))
        val b = li.crossJoin(span)
          .groupBy("brand")
          .agg(sum(when(expr("t * 2 >= t0 + t1"),
              expr("CAST(cents AS DECIMAL(38,0))")).otherwise(lit(0))).as("r2"),
            sum(when(expr("t * 2 < t0 + t1"),
              expr("CAST(cents AS DECIMAL(38,0))")).otherwise(lit(0))).as("r1"))
        val tot = b.agg(sum("r2").as("tr2"), count(lit(1)).as("nb"))
        b.crossJoin(tot)
          .select(col("brand"),
            expr("CAST(r2 AS BIGINT)").as("recent_cents"),
            expr("CAST((1000000 * r2) div tr2 AS BIGINT)").as("share_micro"),
            expr("CAST((1000 * r2) div greatest(r1, 1) AS BIGINT)").as("growth_milli"),
            expr("""CASE
                   |  WHEN (1000000 * r2) div tr2 >= 1000000 div nb
                   |   AND (1000 * r2) div greatest(r1, 1) >= 1000 THEN 'star'
                   |  WHEN (1000000 * r2) div tr2 >= 1000000 div nb THEN 'cash_cow'
                   |  WHEN (1000 * r2) div greatest(r1, 1) >= 1000 THEN 'question_mark'
                   |  ELSE 'dog' END""".stripMargin).as("quadrant"))
          .orderBy("brand")
      },
      Some("""WITH li AS (SELECT p.p_brand AS brand,
             |    CAST(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS cents
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
             |sp AS (SELECT min(t) AS t0, max(t) AS t1 FROM li),
             |b AS (SELECT brand,
             |    sum(CASE WHEN t * 2 >= t0 + t1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS r2,
             |    sum(CASE WHEN t * 2 < t0 + t1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS r1
             |  FROM li CROSS JOIN sp GROUP BY 1),
             |t AS (SELECT sum(r2) AS tr2, count(*) AS nb FROM b)
             |SELECT brand, CAST(r2 AS BIGINT) AS recent_cents,
             |  CAST((1000000 * r2) // tr2 AS BIGINT) AS share_micro,
             |  CAST((1000 * r2) // greatest(r1, 1) AS BIGINT) AS growth_milli,
             |  CASE
             |    WHEN (1000000 * r2) // tr2 >= 1000000 // nb
             |     AND (1000 * r2) // greatest(r1, 1) >= 1000 THEN 'star'
             |    WHEN (1000000 * r2) // tr2 >= 1000000 // nb THEN 'cash_cow'
             |    WHEN (1000 * r2) // greatest(r1, 1) >= 1000 THEN 'question_mark'
             |    ELSE 'dog' END AS quadrant
             |FROM b CROSS JOIN t ORDER BY brand""".stripMargin)),
  )

  /** Fixed-point Erlang-B/C oracle — the 32-step blocking recursion
    * unrolled as MATERIALIZED CTEs (each step references its predecessor
    * twice; without materialization DuckDB's default inlining goes
    * exponential), truncating nano arithmetic mirroring the Spark chain
    * term for term. */
  private def erlangOracle: String = {
    val steps = (1 to 32).map { k =>
      s"""b$k AS MATERIALIZED (SELECT CAST((SELECT p FROM pk) * (SELECT b FROM b${k - 1})
         |  // (CAST($k AS HUGEINT)*18000
         |     + ((SELECT p FROM pk) * (SELECT b FROM b${k - 1})) // 1000000000) AS BIGINT) AS b)"""
        .stripMargin
    }
    val union = (1 to 32).map(k => s"SELECT $k AS c, b FROM b$k")
      .mkString("\nUNION ALL ")
    s"""WITH pk AS MATERIALIZED (SELECT CAST(max(n) AS HUGEINT) AS p FROM
       |      (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, count(*) AS n
       |       FROM events GROUP BY 1)),
       |b0 AS MATERIALIZED (SELECT CAST(1000000000 AS BIGINT) AS b),
       |${steps.mkString(",\n")},
       |tab AS ($union)
       |SELECT CAST(c AS BIGINT) AS servers,
       |  CAST((SELECT p FROM pk) * 1000000 // (18000*c) AS BIGINT) AS util_micro,
       |  CAST(b AS BIGINT) AS erlang_b_nano,
       |  CAST(CAST(b AS HUGEINT)*c*18000
       |    // (CAST(c AS HUGEINT)*18000
       |        - (SELECT p FROM pk)*(1000000000 - b) // 1000000000) AS BIGINT)
       |    AS erlang_c_nano,
       |  CAST(3600 * (CAST(b AS HUGEINT)*c*18000
       |    // (CAST(c AS HUGEINT)*18000
       |        - (SELECT p FROM pk)*(1000000000 - b) // 1000000000))
       |    // (18000*c - (SELECT p FROM pk)) AS BIGINT) AS asa_micro_s
       |FROM tab WHERE 18000*c > (SELECT p FROM pk)
       |ORDER BY c""".stripMargin
  }
}
