package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational breadth beyond strict reference parity: multi-way joins,
  * semi/anti joins, window functions, rollup, distinct aggregates. The
  * reference's only join is a tiny dim lookup
  * (src/trv/transform.py:78-81; SURVEY §2.6 note), but a
  * drop-in engine at 100 TB needs the full relational algebra; plans here
  * are written so Catalyst can pick broadcast vs sort-merge per side
  * (explicit `broadcast()` only on genuinely small dims).
  */
object Relational {

  /** Per-part revenue with the global ABC running total — (l_partkey,
    * cents, cum) under (cents desc, partkey asc) — built ONCE per (JVM,
    * dataset) via GlobalOrder's two-phase range-partitioned running
    * total and published as a parquet artifact. q_abc_class and
    * q_abc_xyz both classify off this frame (each used to pay the
    * ranked-cumulative pass separately — the one non-graph entry in the
    * r12 close's worst-5 was exactly the duplicated pass); the grand
    * total re-derives as a one-column sum of the stored frame, so
    * neither consumer rescans lineitem. `ArtifactSpec` pins stored ≡
    * fresh. */
  private[graft] def abcRunningTotal(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.dirFor(s"abcrun:$d", { out =>
      abcRunningTotalRaw(s, d).write.parquet(s"$out/run")
    })
    s.read.parquet(s"$dir/run")
  }

  /** The uncached build path of [[abcRunningTotal]], kept callable for
    * `ArtifactSpec`'s stored-≡-fresh proof. */
  private[graft] def abcRunningTotalRaw(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pr = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .groupBy("l_partkey").agg(sum("cents").as("cents"))
    GlobalOrder.withRunningTotal(pr,
      Seq(col("cents").desc, col("l_partkey").asc), col("cents"), "cum")
  }

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q1-style pricing summary: partial (map-side) aggregation makes
    // this a single shuffle of ~|groups| rows regardless of input size.
    QueryDef(
      "q1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_price,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // revenue per nation: orders ⋈ customer (shuffle) ⋈ nation (broadcast)
    QueryDef(
      "q_join_agg",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXISTS → left-semi join (no row duplication, build side pruned)
    QueryDef(
      "q_semi_join",
      (s, d) => {
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d).where(col("l_quantity") > 45)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // NOT EXISTS → left-anti join (customers with no high-value order —
    // the unfiltered variant is empty on the fixtures)
    QueryDef(
      "q_anti_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).where(col("o_totalprice") > 250000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
             |ORDER BY c_custkey""".stripMargin)),

    // window functions: row_number / lag / running sum over a pinned total
    // order (ts, event_id) so the sequential float sum is deterministic
    QueryDef(
      "q_window_funcs",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(
            col("event_id"), col("user_id"),
            row_number().over(w).as("rn"),
            lag("value", 1).over(w).as("prev_value"),
            round(sum("value").over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("run_sum"))
          .orderBy("user_id", "rn")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(row_number() OVER w AS INT) AS rn,
             |  lag(value, 1) OVER w AS prev_value,
             |  round(sum(value) OVER (PARTITION BY user_id
             |    ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |ORDER BY user_id, rn""".stripMargin)),

    // rollup with pinned NULL ordering (Spark default = NULLS FIRST asc;
    // DuckDB default differs, so the oracle pins it explicitly)
    QueryDef(
      "q_rollup_count",
      (s, d) => Tables.events(s, d)
        .rollup(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("user_id")),
      Some("""SELECT event_type, user_id, count(*) AS n FROM events
             |GROUP BY ROLLUP (event_type, user_id)
             |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin)),

    // pivot: one column per event_type, count cells (null-filled to 0 to
    // match conditional-aggregation semantics)
    QueryDef(
      "q_pivot",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
             |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
             |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
             |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // exact median / interpolated percentile per group
    QueryDef(
      "q_median",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(median(col("value")), 4).as("med"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"))
        .orderBy("event_type"),
      Some("""SELECT event_type, round(median(value), 4) AS med,
             |  round(quantile_cont(value, 0.9), 4) AS p90
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // full quantile ladder per group (exact interpolated percentiles —
    // Spark `percentile` ≡ DuckDB `quantile_cont`); at 100 TB switch to
    // approx_percentile and drop the oracle, as with q_approx_distinct
    QueryDef(
      "q_percentiles",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.01)"), 4).as("p01"),
          round(expr("percentile(value, 0.25)"), 4).as("p25"),
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.75)"), 4).as("p75"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  round(quantile_cont(value, 0.01), 4) AS p01,
             |  round(quantile_cont(value, 0.25), 4) AS p25,
             |  round(quantile_cont(value, 0.5), 4) AS p50,
             |  round(quantile_cont(value, 0.75), 4) AS p75,
             |  round(quantile_cont(value, 0.99), 4) AS p99
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ranking-function suite over a pinned unique order
    QueryDef(
      "q_rank_suite",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
        Tables.events(s, d)
          .select(
            col("event_id"), col("user_id"),
            dense_rank().over(w).as("drank"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("prank"),
            round(cume_dist().over(w), 6).as("cdist"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(dense_rank() OVER w AS INT) AS drank,
             |  CAST(ntile(4) OVER w AS INT) AS quartile,
             |  round(percent_rank() OVER w, 6) AS prank,
             |  round(cume_dist() OVER w, 6) AS cdist
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
             |ORDER BY user_id, event_id""".stripMargin)),

    // calendar part extraction (dayofweek conventions differ between
    // engines — ISO day-of-week is the portable form)
    QueryDef(
      "q_date_parts",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          year(col("ts")).as("y"),
          month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("dom"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("mi"),
          (expr("weekday(ts)") + 1).as("isodow")) // weekday: 0=Monday
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(year(ts2) AS INT) AS y, CAST(month(ts2) AS INT) AS m,
             |  CAST(day(ts2) AS INT) AS dom, CAST(hour(ts2) AS INT) AS h,
             |  CAST(minute(ts2) AS INT) AS mi, CAST(isodow(ts2) AS INT) AS isodow
             |FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events)
             |ORDER BY event_id""".stripMargin)),

    // set operations: users who both errored and purchased / errored only
    QueryDef(
      "q_intersect",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.where(col("event_type") === "error").select("user_id")
          .intersect(ev.where(col("event_type") === "purchase").select("user_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id FROM events WHERE event_type = 'error'
             |INTERSECT
             |SELECT user_id FROM events WHERE event_type = 'purchase'
             |ORDER BY user_id""".stripMargin)),

    QueryDef(
      "q_except",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.where(col("event_type") === "error").select("user_id")
          .except(ev.where(col("event_type") === "purchase" && col("value") > 300)
            .select("user_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id FROM events WHERE event_type = 'error'
             |EXCEPT
             |SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 300
             |ORDER BY user_id""".stripMargin)),

    // bag-semantics set ops: EXCEPT ALL / INTERSECT ALL preserve
    // multiplicity (set-semantics except/intersect above collapse it) —
    // the distinction matters when rows ARE occurrences, e.g. removing
    // one processed batch from a work queue without deduplicating it.
    // Grouped to a multiplicity count for a deterministic output key.
    QueryDef(
      "q_except_all",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.where(col("event_type") === "error").select("user_id")
          .exceptAll(ev.where(col("event_type") === "signup").select("user_id"))
          .groupBy("user_id").agg(count(lit(1)).as("n"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n FROM (
             |  SELECT user_id FROM events WHERE event_type = 'error'
             |  EXCEPT ALL
             |  SELECT user_id FROM events WHERE event_type = 'signup')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef(
      "q_intersect_all",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.where(col("event_type") === "error").select("user_id")
          .intersectAll(ev.where(col("event_type") === "signup").select("user_id"))
          .groupBy("user_id").agg(count(lit(1)).as("n"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n FROM (
             |  SELECT user_id FROM events WHERE event_type = 'error'
             |  INTERSECT ALL
             |  SELECT user_id FROM events WHERE event_type = 'signup')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // chi-square independence statistic between event_type and a user
    // bucket: observed/expected from exact integer counts, each cell's
    // (o−e)²/e contribution quantized to integer micro-units before the
    // sum (order-free), one rounding at the end. The classic "is this
    // feature correlated with that label" screen over contingency counts.
    QueryDef(
      "q_chisq",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), pmod(col("user_id"), lit(4)).as("bucket"))
        val cells = ev.groupBy("event_type", "bucket").agg(count(lit(1)).as("o"))
        val rows = ev.groupBy("event_type").agg(count(lit(1)).as("r_n"))
        val cols = ev.groupBy("bucket").agg(count(lit(1)).as("c_n"))
        val total = ev.agg(count(lit(1)).as("t_n"))
        // full margin grid, NOT just observed cells: an absent
        // (event_type, bucket) pair still contributes (0−e)²/e = e
        rows.crossJoin(cols)
          .join(cells, Seq("event_type", "bucket"), "left")
          .na.fill(0L, Seq("o"))
          .crossJoin(total)
          .select(expr(
            """CAST(round(
              |  pow(o - r_n * c_n / CAST(t_n AS DOUBLE), 2)
              |    / (r_n * c_n / CAST(t_n AS DOUBLE)) * 1000000) AS BIGINT)"""
              .stripMargin).as("contrib_micro"))
          .agg(round(sum("contrib_micro") / 1e6, 4).as("chi2"),
            count(lit(1)).as("n_cells"))
      },
      Some("""WITH ev AS (SELECT event_type, ((user_id % 4) + 4) % 4 AS bucket FROM events),
             |cells AS (SELECT event_type, bucket, count(*) AS o FROM ev GROUP BY 1, 2),
             |r AS (SELECT event_type, count(*) AS r_n FROM ev GROUP BY 1),
             |c AS (SELECT bucket, count(*) AS c_n FROM ev GROUP BY 1),
             |t AS (SELECT count(*) AS t_n FROM ev),
             |grid AS (SELECT event_type, bucket, r_n, c_n,
             |    coalesce(o, 0) AS o
             |  FROM r CROSS JOIN c LEFT JOIN cells USING (event_type, bucket)),
             |k AS (SELECT CAST(round(
             |    pow(o - r_n * c_n / CAST(t_n AS DOUBLE), 2)
             |      / (r_n * c_n / CAST(t_n AS DOUBLE)) * 1000000) AS BIGINT) AS contrib_micro
             |  FROM grid CROSS JOIN t)
             |SELECT round(CAST(sum(contrib_micro) AS BIGINT) / 1e6, 4) AS chi2,
             |  count(*) AS n_cells
             |FROM k""".stripMargin)),

    // Cramér's V — q_chisq's effect size, on the source × lang pair of
    // the document corpus (is language mix source-dependent, and HOW
    // strongly — the number that stays comparable across table sizes
    // where raw χ² only grows). Same densified margin grid and per-cell
    // micro-rounded contributions as q_chisq (exact integer sum after
    // the one rounding); V = √(χ²/(n·min(r−1,c−1))) evaluated as one
    // fixed IEEE expression over the exact integers in both engines.
    QueryDef(
      "q_cramers_v",
      (s, d) => {
        val docs = Tables.documents(s, d).select("source", "lang")
        val cells = docs.groupBy("source", "lang").agg(count(lit(1)).as("o"))
        val rows = docs.groupBy("source").agg(count(lit(1)).as("r_n"))
        val cols = docs.groupBy("lang").agg(count(lit(1)).as("c_n"))
        val total = docs.agg(count(lit(1)).as("t_n"),
          countDistinct("source").as("r"), countDistinct("lang").as("c"))
        rows.crossJoin(broadcast(cols))
          .join(cells, Seq("source", "lang"), "left")
          .na.fill(0L, Seq("o"))
          .crossJoin(total)
          .select(col("t_n"), col("r"), col("c"), expr(
            """CAST(round(
              |  pow(o - r_n * c_n / CAST(t_n AS DOUBLE), 2)
              |    / (r_n * c_n / CAST(t_n AS DOUBLE)) * 1000000) AS BIGINT)"""
              .stripMargin).as("contrib_micro"))
          .groupBy()
          .agg(max("t_n").as("n"), count(lit(1)).as("n_cells"),
            sum("contrib_micro").as("chi2_micro"),
            expr("""CAST(round(sqrt(CAST(sum(contrib_micro) AS DOUBLE) / 1e6
                   |  / (max(t_n) * (least(max(r), max(c)) - 1))) * 1000) AS BIGINT)"""
              .stripMargin).as("cramers_v_milli"))
      },
      Some("""WITH d AS (SELECT source, lang FROM documents),
             |cells AS (SELECT source, lang, count(*) AS o FROM d GROUP BY 1, 2),
             |r AS (SELECT source, count(*) AS r_n FROM d GROUP BY 1),
             |c AS (SELECT lang, count(*) AS c_n FROM d GROUP BY 1),
             |t AS (SELECT count(*) AS t_n, count(DISTINCT source) AS r,
             |        count(DISTINCT lang) AS c FROM d),
             |grid AS (SELECT source, lang, r_n, c_n, coalesce(o, 0) AS o
             |  FROM r CROSS JOIN c LEFT JOIN cells USING (source, lang)),
             |k AS (SELECT t_n, r.r AS rr, r.c AS cc, CAST(round(
             |    pow(o - r_n * c_n / CAST(t_n AS DOUBLE), 2)
             |      / (r_n * c_n / CAST(t_n AS DOUBLE)) * 1000000) AS BIGINT) AS contrib_micro
             |  FROM grid CROSS JOIN t r)
             |SELECT CAST(max(t_n) AS BIGINT) AS n, count(*) AS n_cells,
             |  CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro,
             |  CAST(round(sqrt(CAST(sum(contrib_micro) AS DOUBLE) / 1e6
             |    / (max(t_n) * (least(max(rr), max(cc)) - 1))) * 1000) AS BIGINT)
             |    AS cramers_v_milli
             |FROM k""".stripMargin)),

    // fixed-width histogram binning (dashboard value distribution)
    QueryDef(
      "q_histogram_bins",
      (s, d) => Tables.events(s, d)
        .groupBy(floor(col("value") / 33).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("""SELECT CAST(floor(value / 33) AS INT) AS bucket, count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // cube with grouping markers (distinguishes "NULL because subtotal"
    // from NULL data)
    QueryDef(
      "q_cube_grouping",
      (s, d) => Tables.events(s, d)
        .cube(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          grouping("event_type").cast("int").as("g_et"),
          grouping("user_id").cast("int").as("g_u"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("user_id")),
      Some("""SELECT event_type, user_id, count(*) AS n,
             |  CAST(GROUPING(event_type) AS INT) AS g_et,
             |  CAST(GROUPING(user_id) AS INT) AS g_u
             |FROM events GROUP BY CUBE (event_type, user_id)
             |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin)),

    // approximate distinct (HyperLogLog++). No oracle: HLL sketches are
    // implementation-specific, so engines disagree by design — the driver
    // records the weaker rows-check and RelationalSpec bounds the error
    // against the exact count.
    QueryDef(
      "q_approx_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("n_users_approx"))
        .orderBy("event_type"),
      None),

    // the skew-salted distinct count must agree with the plain one —
    // declaring it puts Skew.saltedDistinctCount under the oracle gate
    QueryDef(
      "q_salted_distinct",
      (s, d) => Skew.saltedDistinctCount(
        Tables.events(s, d), Seq("event_type"), "user_id", 16)
        .withColumnRenamed("n_distinct_user_id", "n_users")
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // skew-salted join: events' 5-value event_type is the hot key; the
    // salted plan spreads each key over 8 reducers (row-hash salt on the
    // big side, 8× replication of the tiny dim side) and must produce
    // exactly the plain join's rows — declaring it puts
    // Skew.saltedJoinSides under the oracle gate
    QueryDef(
      "q_salted_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val dim = ev.groupBy("event_type")
          .agg(round(avg("value"), 4).as("type_avg"))
        val (big, small, joinCols) = Skew.saltedJoinSides(ev, dim, "event_type", 8)
        big.join(small, joinCols)
          .select(col("event_id"), col("event_type"), col("type_avg"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, event_type, type_avg
             |FROM events
             |JOIN (SELECT event_type, round(avg(value), 4) AS type_avg
             |      FROM events GROUP BY 1) USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // TPC-H Q3 shape (shipping-priority top-N): segment-filtered dim
    // broadcasts against the two fact tables' shuffle join, group on the
    // order key, rank by revenue, keep 10. Catalyst turns the
    // orderBy+limit into TakeOrderedAndProject (no global sort — each
    // partition keeps 10, the driver merges). Ranking uses the ROUNDED
    // revenue with the order key as tiebreak so double ulps can't flip
    // the cut line between engines.
    QueryDef(
      "q_tpch_q3",
      (s, d) => {
        val cutoff = lit("1998-06-01 00:00:00").cast("timestamp")
        val cust = Tables.customer(s, d)
          .where(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val ord = Tables.orders(s, d)
          .where(col("o_orderdate") < cutoff)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val li = Tables.lineitem(s, d)
          .where(col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        // broadcast-filter orders by the segment dim BEFORE the fact-fact
        // shuffle: the segment keeps ~1/5 of orders, so the shuffled
        // build side shrinks by that factor (inner joins commute; the
        // lineitem side is unchanged either way)
        li.join(
            ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"),
            col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
            col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
             |  o_orderpriority,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1998-06-01 00:00:00'
             |  AND CAST(l_shipdate AS TIMESTAMP) > TIMESTAMP '1998-06-01 00:00:00'
             |GROUP BY 1, 2, 3
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape (local-supplier revenue by nation): a 6-way join
    // where the planner should pick per-side strategies — fact⋈fact
    // (lineitem⋈orders⋈customer) shuffles, the supplier join carries the
    // compound local-supply condition (c_nationkey = s_nationkey), and
    // the nation/region dims broadcast. Filters reach every scan.
    QueryDef(
      "q_tpch_q5",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val asia = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),

    // 7-day rolling window per user (RANGE frame over event time, not
    // ROWS — frames are defined by the time axis, so ties and gaps are
    // handled identically however rows are laid out). The summed value is
    // integer cents: a sliding-frame SUM may combine in segment-tree
    // order, and integer addition is the only order-free way to make two
    // engines agree bit-for-bit.
    QueryDef(
      "q_rolling_7d",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"))
          .rangeBetween(-604800000000L, 0L) // 7 days in micros, inclusive
        Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("cents", round(col("value") * 100).cast("bigint"))
          .select(col("event_id"), col("user_id"), col("ts"),
            sum("cents").over(w).as("roll_cents"),
            count(lit(1)).over(w).as("roll_n"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS roll_cents,
             |  count(*) OVER w AS roll_n
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             |  RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    // each other instead of vanishing, and Spark still plans a hash join
    // (EqualNullSafe is a valid hash key — no nested-loop fallback)
    QueryDef(
      "q_null_safe_join",
      (s, d) => {
        val keyed = Tables.events(s, d)
          .withColumn("k", expr("nullif(event_type, 'error')"))
        val a = keyed.groupBy("k").agg(count(lit(1)).as("n_all"))
        val b = keyed.where(col("value") > 50)
          .groupBy(col("k").as("kb")).agg(count(lit(1)).as("n_hi"))
        a.join(b, col("k") <=> col("kb"))
          .select(col("k"), col("n_all"), col("n_hi"))
          .orderBy(asc_nulls_first("k"))
      },
      Some("""WITH a AS (SELECT nullif(event_type, 'error') AS k, count(*) AS n_all
             |          FROM events GROUP BY 1),
             |b AS (SELECT nullif(event_type, 'error') AS k, count(*) AS n_hi
             |      FROM events WHERE value > 50 GROUP BY 1)
             |SELECT a.k, n_all, n_hi
             |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
             |ORDER BY a.k NULLS FIRST""".stripMargin)),

    // unpivot (melt): wide metric columns → long (metric, value) rows —
    // the inverse of q_pivot and the shape dashboards and metric stores
    // ingest. Spark's native `unpivot` expands row-locally (an Expand
    // node, no shuffle beyond the source agg); values unify to double as
    // unpivot requires one common value type.
    QueryDef(
      "q_unpivot",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).cast("double").as("n_events"),
          round(avg("value"), 4).as("avg_value"),
          round(sum("value"), 2).as("sum_value"))
        .unpivot(Array(col("event_type")),
          Array(col("n_events"), col("avg_value"), col("sum_value")),
          "metric", "val")
        // Spark's Dataset.unpivot keeps NULL values; DuckDB's UNPIVOT
        // excludes them by default. These metrics are never NULL on this
        // data (count ≥ 1 per group, value is non-null), but pin the
        // EXCLUDE-NULLS semantics explicitly so the two sides can't
        // diverge on future inputs.
        .where(col("val").isNotNull)
        .orderBy("event_type", "metric"),
      Some("""WITH m AS (SELECT event_type,
             |    CAST(count(*) AS DOUBLE) AS n_events,
             |    round(avg(value), 4) AS avg_value,
             |    round(sum(value), 2) AS sum_value
             |  FROM events GROUP BY 1)
             |SELECT event_type, metric, val
             |FROM m UNPIVOT (val FOR metric IN (n_events, avg_value, sum_value))
             |ORDER BY event_type, metric""".stripMargin)),

    // argmax/argmin (max_by / arg_max): "which row had the extreme" in
    // ONE aggregation pass — no self-join back to the max, no window
    // sort. The ordering key packs exact cents with the unique event_id
    // (values ARE exact cents in this corpus — verified, and 8 rows tie
    // at group minima at sf0.1, so a bare value key would be
    // nondeterministic in both engines).
    QueryDef(
      "q_argmax",
      (s, d) => {
        val key = expr("CAST(round(value * 100) AS BIGINT)") * lit(1000000000L) +
          col("event_id")
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(
            max_by(col("event_id"), key).as("max_event"),
            min_by(col("event_id"), key).as("min_event"),
            max("value").as("max_v"),
            min("value").as("min_v"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  arg_max(event_id, CAST(round(value * 100) AS BIGINT) * 1000000000 + event_id) AS max_event,
             |  arg_min(event_id, CAST(round(value * 100) AS BIGINT) * 1000000000 + event_id) AS min_event,
             |  max(value) AS max_v,
             |  min(value) AS min_v
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // second-moment statistics suite: stddev / variance / covariance /
    // correlation per group, rounded to absorb aggregation-order ulps
    // (Spark's partial-merge order differs from DuckDB's sequential scan)
    QueryDef(
      "q_stats_suite",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(stddev_samp(col("value")), 4).as("sd"),
          round(var_samp(col("value")), 4).as("variance"),
          round(covar_samp(col("value"), col("user_id").cast("double")), 4).as("cov_vu"),
          round(corr(col("value"), col("user_id").cast("double")), 4).as("corr_vu"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  round(stddev_samp(value), 4) AS sd,
             |  round(var_samp(value), 4) AS variance,
             |  round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cov_vu,
             |  round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_vu
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // explicit GROUPING SETS (the general form cube/rollup specialize):
    // three grouping combinations in ONE pass over the input — Spark
    // expands the sets into a single Expand + hash aggregate, not three
    // scans. grouping() flags disambiguate "NULL because aggregated away"
    // from a genuine NULL key.
    QueryDef(
      "q_grouping_sets",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"))
        ev.groupingSets(
            Seq(Seq(col("event_type")), Seq(col("day")),
              Seq(col("event_type"), col("day"))),
            col("event_type"), col("day"))
          .agg(grouping("event_type").cast("int").as("g_type"),
            grouping("day").cast("int").as("g_day"),
            count(lit(1)).as("n"))
          .orderBy(col("g_type"), col("g_day"),
            asc_nulls_first("event_type"), asc_nulls_first("day"))
      },
      Some("""SELECT event_type,
             |  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             |  CAST(grouping(event_type) AS INT) AS g_type,
             |  CAST(grouping(day) AS INT) AS g_day,
             |  count(*) AS n
             |FROM events
             |GROUP BY GROUPING SETS ((event_type), (day), (event_type, day))
             |ORDER BY g_type, g_day, event_type NULLS FIRST, day NULLS FIRST""".stripMargin)),

    // order-deterministic string aggregation: the collect→sort→join form
    // pins element order inside the aggregate (collect_list alone is
    // partition-order-dependent — never comparable across engines or even
    // across runs). The struct sort key makes the fold reproducible; at
    // scale this is also the only defensible way to emit event sequences
    // for downstream sequence models.
    QueryDef(
      "q_string_agg",
      (s, d) => Tables.events(s, d)
        .where(col("user_id") < 20)
        .groupBy("user_id")
        .agg(
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("event_id"), col("event_type")))),
            x => x.getField("event_type"))).as("seq"),
          count(lit(1)).as("n"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |  string_agg(event_type, ',' ORDER BY event_id) AS seq,
             |  count(*) AS n
             |FROM events WHERE user_id < 20
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // frame-edge window navigation: first/last/nth over the full
    // partition. last_value needs the explicit UNBOUNDED FOLLOWING frame —
    // the default frame ends at CURRENT ROW, a classic cross-engine
    // semantics trap both engines agree on once pinned.
    QueryDef(
      "q_first_last",
      (s, d) => {
        val wDefault = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wFull = wDefault.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            first("value").over(wDefault).as("first_v"),
            last("value").over(wFull).as("last_v"),
            nth_value(col("value"), 2).over(wFull).as("second_v"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  first_value(value) OVER w AS first_v,
             |  last_value(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
             |  nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |ORDER BY event_id""".stripMargin)),

    // distinct aggregate (expands to a two-phase plan; at scale prefer
    // approx_count_distinct when exactness isn't required)
    QueryDef(
      "q_distinct_agg",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // market-basket pair mining over the fact table: the top-20 part
    // pairs co-purchased in the same order, with LIFT (observed co-rate
    // over the independence expectation, integer micros) — q_pmi_bigrams'
    // shape on relational data. The pair join is keyed on the order (pairs
    // per order ≈ C(items,2), items small), the top-20 cut is taken
    // BEFORE any dimension lookups, so the per-part counts and the
    // order total join onto 20 rows, not the pair space.
    QueryDef(
      "q_basket_pairs",
      (s, d) => {
        // MEASURED-BEST plan (r15 3-arm A/B, BENCH.md): lp re-derived
        // per consumer beats BOTH a partitioned cache of lp (cache
        // build over four cheap rescans: warm 2.0 → 2.8 s at 1×) AND a
        // collect_set array-pair form with no self-join (1 shuffle but
        // wide cached array rows: 100× 11.9 → 22.7 s on q_assoc_rules,
        // 17.2 → 22.0 s here). The scan+distinct is map-side combined
        // and columnar — re-running it 4× costs less than materializing
        // it once; the residual cost is the C(items,2) pair-space
        // aggregation, inherent to the question.
        val lp = Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey").distinct()
        val n = lp.agg(countDistinct("l_orderkey").as("n_orders"))
        val pc = lp.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        val pr = lp.select(col("l_orderkey"), col("l_partkey").as("p1"))
          .join(lp.select(col("l_orderkey"), col("l_partkey").as("p2")),
            "l_orderkey")
          .where(col("p1") < col("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("cnt"))
        val top = pr.orderBy(col("cnt").desc, col("p1"), col("p2")).limit(20)
        top
          .join(broadcast(pc.select(col("l_partkey").as("p1"), col("c").as("c1"))), "p1")
          .join(broadcast(pc.select(col("l_partkey").as("p2"), col("c").as("c2"))), "p2")
          .crossJoin(n)
          .select(col("p1"), col("p2"), col("cnt"),
            // 128-bit numerator: cnt·n_orders·1e6 passes int64 at corpus
            // order counts long before 100 TB (DuckDB widens to HUGEINT).
            expr("CAST((CAST(cnt AS DECIMAL(38,0)) * n_orders * 1000000) div (c1 * c2) AS BIGINT)")
              .as("lift_micro"))
          .orderBy(col("cnt").desc, col("p1"), col("p2"))
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp),
             |pc AS (SELECT l_partkey, count(*) AS c FROM lp GROUP BY 1),
             |pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS cnt
             |       FROM lp a JOIN lp b
             |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |       GROUP BY 1, 2),
             |top AS (SELECT p1, p2, cnt FROM pr ORDER BY cnt DESC, p1, p2 LIMIT 20)
             |SELECT t.p1, t.p2, t.cnt,
             |  CAST((CAST(t.cnt AS HUGEINT) * n.n_orders * 1000000) // (c1.c * c2.c) AS BIGINT)
             |    AS lift_micro
             |FROM top t JOIN pc c1 ON c1.l_partkey = t.p1
             |           JOIN pc c2 ON c2.l_partkey = t.p2
             |CROSS JOIN n ORDER BY cnt DESC, p1, p2""".stripMargin)),

    // fact-table shape profile: the lines-per-order distribution — the
    // first number a join planner wants about a fact table (it bounds
    // per-key fan-out in every orderkey join and sizes q_basket_pairs'
    // pair space at C(lines, 2) per order). Two map-combined aggregates.
    QueryDef(
      "q_order_shape",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_orderkey").agg(count(lit(1)).as("lines"))
        .groupBy("lines").agg(count(lit(1)).as("orders"))
        .orderBy("lines"),
      Some("""WITH c AS (SELECT l_orderkey, count(*) AS lines
             |           FROM lineitem GROUP BY 1)
             |SELECT lines, count(*) AS orders FROM c
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // referential-integrity audit — the dbt-style relationship test run
    // as one report: for every declared FK edge of the star schema, the
    // child row count and the orphan count (child keys with no parent).
    // All-zero orphans IS the assertion on consistent data; any nonzero
    // row is the broken-ingest alarm. Dimension parents broadcast
    // (skinny key projections); the fact-fact edge (lineitem→orders) is
    // left to the planner — at scale it's the one shuffle here.
    QueryDef(
      "q_fk_orphans",
      (s, d) => {
        def audit(rel: String, child: org.apache.spark.sql.DataFrame,
            childKey: String, parent: org.apache.spark.sql.DataFrame,
            parentKey: String, bcast: Boolean) = {
          val p0 = parent.select(col(parentKey).as("__pk")).distinct()
          val p = if (bcast) broadcast(p0) else p0
          child.select(col(childKey).as("__ck"))
            .join(p, col("__ck") === col("__pk"), "left")
            .agg(count(lit(1)).as("child_rows"),
              count(when(col("__pk").isNull, 1)).as("orphans"))
            .select(lit(rel).as("relation"), col("child_rows"), col("orphans"))
        }
        val li = Tables.lineitem(s, d)
        Seq(
          audit("lineitem.l_orderkey->orders", li, "l_orderkey",
            Tables.orders(s, d), "o_orderkey", bcast = false),
          audit("lineitem.l_partkey->part", li, "l_partkey",
            Tables.part(s, d), "p_partkey", bcast = true),
          audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
            Tables.supplier(s, d), "s_suppkey", bcast = true),
          audit("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey", bcast = true),
          audit("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
            Tables.nation(s, d), "n_nationkey", bcast = true))
          .reduce(_.unionByName(_))
          .orderBy("relation")
      },
      Some("""SELECT relation, child_rows, orphans FROM (
             |  SELECT 'lineitem.l_orderkey->orders' AS relation, count(*) AS child_rows,
             |    CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS orphans
             |  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey->part', count(*),
             |    CAST(count(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS BIGINT)
             |  FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
             |  UNION ALL
             |  SELECT 'lineitem.l_suppkey->supplier', count(*),
             |    CAST(count(CASE WHEN s.s_suppkey IS NULL THEN 1 END) AS BIGINT)
             |  FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |  UNION ALL
             |  SELECT 'orders.o_custkey->customer', count(*),
             |    CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
             |  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
             |  UNION ALL
             |  SELECT 'customer.c_nationkey->nation', count(*),
             |    CAST(count(CASE WHEN n.n_nationkey IS NULL THEN 1 END) AS BIGINT)
             |  FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
             |) ORDER BY relation""".stripMargin)),

    // product COMMUNITIES: connected components over the co-purchase
    // graph (edges = part pairs co-ordered ≥ 3 times), reported as the
    // community-size histogram — "market structure" mining reading the
    // PUBLISHED star-contraction CC labels artifact (support
    // thresholding is what keeps the edge set sparse; without it the
    // graph is one giant hairball and the histogram is meaningless).
    // The histogram is label-invariant, so sharing the stored map with
    // the other component consumers cannot change the answer.
    QueryDef(
      "q_product_communities",
      (s, d) => {
        Release.copurchaseCcLabels(s, d, 3L)
          .groupBy("cluster").agg(count(lit(1)).as("members"))
          .groupBy(col("members").as("community_size"))
          .agg(count(lit(1)).as("communities"))
          .orderBy("community_size")
      },
      Some("""WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |pr AS (SELECT a.l_partkey AS id1, b.l_partkey AS id2, count(*) AS cnt
             |       FROM lp a JOIN lp b
             |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |       GROUP BY 1, 2 HAVING count(*) >= 3),
             |e AS (SELECT id1, id2 FROM pr UNION SELECT id2, id1 FROM pr),
             |reach(id, r) AS (
             |  SELECT id1, id1 FROM e
             |  UNION
             |  SELECT e.id1, reach.r FROM e JOIN reach ON reach.id = e.id2),
             |lab AS (SELECT id, min(r) AS community FROM reach GROUP BY 1),
             |sz AS (SELECT community, count(*) AS members FROM lab GROUP BY 1)
             |SELECT members AS community_size, count(*) AS communities
             |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin)),

    // discount-band impact: net revenue (integer cents) and mean quantity
    // per whole-percent discount band — the pricing-analytics table that
    // says whether discounts move volume. The band is round(disc·100):
    // both engines evaluate the identical IEEE expression on the stored
    // double, so the banding cannot diverge cross-engine. One
    // map-combined aggregate over the bounded band domain.
    QueryDef(
      "q_discount_impact",
      (s, d) => Tables.lineitem(s, d)
        .select(round(col("l_discount") * 100).cast("int").as("disc_pct"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"),
          round(col("l_quantity") * 1e6).cast("long").as("qty_micro"))
        .groupBy("disc_pct")
        .agg(count(lit(1)).as("lines"),
          sum("rev_cents").as("revenue_cents"),
          expr("sum(qty_micro) div count(1)").as("avg_qty_micro"))
        .orderBy("disc_pct"),
      Some("""WITH b AS (SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
             |             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             |               AS rev_cents,
             |             CAST(round(l_quantity * 1000000) AS BIGINT) AS qty_micro
             |           FROM lineitem)
             |SELECT disc_pct, count(*) AS lines,
             |  CAST(sum(rev_cents) AS BIGINT) AS revenue_cents,
             |  CAST(sum(qty_micro) // count(*) AS BIGINT) AS avg_qty_micro
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // monthly RETURN-rate trend: share of lineitems flagged returned per
    // ship month in integer micros — the operations health line an
    // anomaly monitor watches (a month whose return rate jumps is a
    // product or logistics incident). One map-combined aggregate over
    // the calendar-bounded month domain.
    QueryDef(
      "q_return_rate",
      (s, d) => Tables.lineitem(s, d)
        .select(to_date(date_trunc("month", col("l_shipdate"))).as("month"),
          col("l_returnflag"))
        .groupBy("month")
        .agg(count(lit(1)).as("lines"),
          count(when(col("l_returnflag") === "R", 1)).as("returned"))
        .select(col("month"), col("lines"), col("returned"),
          expr("(returned * CAST(1000000 AS BIGINT)) div lines")
            .as("return_micro"))
        .orderBy("month"),
      Some("""WITH l AS (SELECT CAST(date_trunc('month', CAST(l_shipdate AS TIMESTAMP))
             |             AS DATE) AS month, l_returnflag FROM lineitem),
             |c AS (SELECT month, count(*) AS lines,
             |        count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS returned
             |      FROM l GROUP BY 1)
             |SELECT month, lines, CAST(returned AS BIGINT) AS returned,
             |  CAST((returned * 1000000) // lines AS BIGINT) AS return_micro
             |FROM c ORDER BY month""".stripMargin)),

    // revenue-concentration curve: how many parts (ranked by revenue)
    // cover 50% / 90% / 99% of total revenue — the long-tail number that
    // decides hot-set caching, assortment cuts, and whether a "top-N
    // parts" materialization is worth its storage. Per-part cents from
    // one map-combined aggregate; the global rank AND running total ride
    // GlobalOrder's range shuffle (parts are data-sized — a partitionless
    // window here would be the single-task trap); the three threshold
    // probes and the part count land on a broadcast. The crossing
    // comparison runs in DECIMAL(38,0): cum·100 passes int64 at
    // warehouse-scale revenue.
    QueryDef(
      "q_volume_concentration",
      (s, d) => {
        // r15 optimization (guide §2.4): rank and running total share
        // ONE range shuffle via the fused GlobalOrder helper — the old
        // chain range-shuffled, sorted and persisted the per-part frame
        // twice under the identical total order. `pr` is pinned because
        // its consumers span GlobalOrder's SEPARATE jobs (the ranked
        // projection build + the totals branch) — exchange reuse cannot
        // cross a job boundary, so this is the q_conformal case, not
        // the in-action case (A/B: 0.94 s pinned vs 1.37 s unpinned).
        val pr = GlobalOrder.pinPersisted(Tables.lineitem(s, d)
          .select(col("l_partkey"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long").as("cents"))
          .groupBy("l_partkey").agg(sum("cents").as("cents"))
          .cache())
        val ord = Seq(col("cents").desc, col("l_partkey").asc)
        val ranked = GlobalOrder.withRunningTotalAndRowNumber(
          pr, ord, col("cents"), "cum", "rnk")
        val tot = pr.agg(sum("cents").as("tot"),
          count(lit(1)).as("total_parts"))
        val th = ranked.sparkSession.range(1).select(
          explode(array(lit(50), lit(90), lit(99))).as("threshold_pct"))
        ranked.crossJoin(tot).crossJoin(th)
          .where(expr("CAST(cum AS DECIMAL(38,0)) * 100 >= CAST(tot AS DECIMAL(38,0)) * threshold_pct"))
          .groupBy("threshold_pct")
          .agg(min("rnk").as("parts_needed"), max("total_parts").as("total_parts"))
          .orderBy("threshold_pct")
      },
      Some("""WITH pr AS (SELECT l_partkey,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM lineitem GROUP BY 1),
             |r AS (SELECT l_partkey, cents,
             |        sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum,
             |        row_number() OVER (ORDER BY cents DESC, l_partkey) AS rnk
             |      FROM pr),
             |t AS (SELECT sum(cents) AS tot, count(*) AS total_parts FROM pr)
             |SELECT th.threshold_pct, min(r.rnk) AS parts_needed,
             |  CAST(max(t.total_parts) AS BIGINT) AS total_parts
             |FROM r CROSS JOIN t
             |CROSS JOIN (VALUES (50), (90), (99)) AS th(threshold_pct)
             |WHERE CAST(r.cum AS HUGEINT) * 100 >= CAST(t.tot AS HUGEINT) * th.threshold_pct
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // customer-decile lift: order volume and revenue by account-balance
    // decile — the "does wealth band predict spend" sanity screen every
    // targeting model starts from (and on this uniform fixture the flat
    // answer IS the audit, the q_benford convention). Deciles come from
    // GlobalOrder's closed-form ntile over the range shuffle (customers
    // are data-sized); per-customer order rollups shuffle on o_custkey
    // and join the decile table on the same key. Revenue accumulates in
    // DECIMAL(38,0) — per-decile cents pass int64 at warehouse scale.
    QueryDef(
      "q_decile_lift",
      (s, d) => {
        val c = GlobalOrder.withGlobalNtile(
          Tables.customer(s, d).select("c_custkey", "c_acctbal"),
          Seq(col("c_acctbal").asc, col("c_custkey").asc), 10, "decile")
        val o = Tables.orders(s, d)
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("decile")
          .agg(count(lit(1)).as("n_cust"),
            coalesce(sum("n_orders"), lit(0L)).as("orders"),
            expr("CAST(coalesce(sum(CAST(cents AS DECIMAL(38,0))), 0) AS BIGINT)")
              .as("revenue_cents"))
          .orderBy("decile")
      },
      Some("""WITH c AS (SELECT c_custkey,
             |    CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS decile
             |  FROM customer),
             |o AS (SELECT o_custkey, count(*) AS n_orders,
             |        sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |      FROM orders GROUP BY 1)
             |SELECT c.decile, count(*) AS n_cust,
             |  CAST(coalesce(sum(o.n_orders), 0) AS BIGINT) AS orders,
             |  CAST(coalesce(sum(o.cents), 0) AS BIGINT) AS revenue_cents
             |FROM c LEFT JOIN o ON o.o_custkey = c.c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // order→ship lag histogram (whole weeks, truncation toward zero —
    // `div` and DuckDB `//` agree on negatives): the fulfillment-latency
    // distribution, and on THIS fixture a data-quality audit — the
    // synthetic dates are drawn independently, so the histogram shows a
    // ±340-week symmetric spread where real fulfillment would be a tight
    // non-negative band; a regeneration that introduces causality shows
    // up as the histogram collapsing. The one fact-fact join rides the
    // l_orderkey shuffle (orders projected to two columns first).
    QueryDef(
      "q_ship_lag",
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
        Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
          .join(o, col("o_orderkey") === col("l_orderkey"))
          .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("lag_days"))
          .groupBy(expr("lag_days div 7").as("lag_week"))
          .agg(count(lit(1)).as("lines"),
            min("lag_days").as("min_days"), max("lag_days").as("max_days"))
          .orderBy("lag_week")
      },
      Some("""WITH l AS (SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
             |                  CAST(li.l_shipdate AS DATE)) AS lag_days
             |           FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey)
             |SELECT lag_days // 7 AS lag_week, count(*) AS lines,
             |  min(lag_days) AS min_days, max(lag_days) AS max_days
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // price-realization by brand: realized revenue over quantity-scaled
    // retail value (integer micros) — the discount-netted pricing-power
    // number merchandising tracks per brand. Per-line integers first
    // (cents, quantity-scaled retail cents), then one brand rollup; the
    // part dim broadcasts onto the lineitem scan. The ratio numerator
    // runs in DECIMAL(38,0)/HUGEINT — Σcents·1e6 passes int64 at
    // warehouse scale.
    QueryDef(
      "q_price_realization",
      (s, d) => {
        val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
          round(col("p_retailprice") * 100).cast("long").as("retail_cents"))
        Tables.lineitem(s, d)
          .select(col("l_partkey"),
            round(col("l_extendedprice") * 100).cast("long").as("ext_cents"),
            col("l_quantity").as("qty"))
          .join(broadcast(p), col("p_partkey") === col("l_partkey"))
          .select(col("p_brand"), col("ext_cents"),
            round(col("qty") * col("retail_cents")).cast("long").as("scaled_retail"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("lines"),
            expr("CAST(sum(CAST(ext_cents AS DECIMAL(38,0))) * 1000000 div sum(scaled_retail) AS BIGINT)")
              .as("realization_micro"))
          .orderBy("p_brand")
      },
      Some("""WITH u AS (SELECT p.p_brand,
             |    CAST(round(li.l_extendedprice * 100) AS BIGINT) AS ext_cents,
             |    CAST(round(li.l_quantity * CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT)
             |      AS scaled_retail
             |  FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey)
             |SELECT p_brand, count(*) AS lines,
             |  CAST(CAST(sum(ext_cents) AS HUGEINT) * 1000000 // sum(scaled_retail) AS BIGINT)
             |    AS realization_micro
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // market-concentration gate: the Herfindahl–Hirschman index of brand
    // revenue shares (micro) plus the top brand's share — the one-row
    // monopoly screen (uniform fixture ⇒ HHI ≈ 1/n_brands ≈ 40,000 µ;
    // a reconcentration after regeneration moves it loudly). Shares are
    // integer micros over a broadcast total, HHI is Σ share² rescaled —
    // all exact. One brand rollup on the broadcast part dim, then a
    // 25-row reduction.
    QueryDef(
      "q_brand_hhi",
      (s, d) => {
        val p = Tables.part(s, d).select("p_partkey", "p_brand")
        val b = Tables.lineitem(s, d)
          .select(col("l_partkey"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .join(broadcast(p), col("p_partkey") === col("l_partkey"))
          .groupBy("p_brand").agg(sum("cents").as("cents"))
        val t = b.agg(sum("cents").as("tot"), count(lit(1)).as("n_brands"))
        b.crossJoin(t)
          .select(col("n_brands"),
            expr("(CAST(cents AS DECIMAL(38,0)) * 1000000) div tot").cast("long")
              .as("share_micro"))
          .groupBy()
          .agg(max("n_brands").as("n_brands"),
            expr("CAST(sum(share_micro * share_micro) div 1000000 AS BIGINT)")
              .as("hhi_micro"),
            max("share_micro").as("top_share_micro"))
      },
      Some("""WITH b AS (SELECT p.p_brand,
             |    sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey GROUP BY 1),
             |t AS (SELECT sum(cents) AS tot, count(*) AS n_brands FROM b),
             |sh AS (SELECT p_brand,
             |         CAST(CAST(b.cents AS HUGEINT) * 1000000 // t.tot AS BIGINT) AS share_micro
             |       FROM b CROSS JOIN t)
             |SELECT max(t.n_brands) AS n_brands,
             |  CAST(sum(share_micro * share_micro) // 1000000 AS BIGINT) AS hhi_micro,
             |  max(share_micro) AS top_share_micro
             |FROM sh CROSS JOIN t""".stripMargin)),

    // domain-bounds audit — the dbt accepted_range test suite as ONE
    // report (q_fk_orphans' column-domain sibling): for every documented
    // value constraint of the star schema, rows checked and rows in
    // violation. All-zero violations IS the assertion on consistent
    // data; any nonzero row names the broken column. One multi-counter
    // scan per table (stack() fans the counters into rows — no second
    // scan), four tables total.
    QueryDef(
      "q_domain_bounds",
      (s, d) => {
        def rules(df: org.apache.spark.sql.DataFrame,
            rs: Seq[(String, org.apache.spark.sql.Column)]) = {
          val aggCols = count(lit(1)).as("checked") +:
            rs.zipWithIndex.map { case ((_, c), i) => c.as(s"v$i") }
          val agg = df.agg(aggCols.head, aggCols.tail: _*)
          val stackArgs = rs.zipWithIndex
            .map { case ((name, _), i) => s"'$name', v$i" }.mkString(", ")
          agg.select(col("checked"),
            expr(s"stack(${rs.size}, $stackArgs) AS (rule, violations)"))
            .select("rule", "checked", "violations")
        }
        def bad(c: org.apache.spark.sql.Column) = count(when(c, 1))
        val l = rules(Tables.lineitem(s, d), Seq(
          "lineitem.l_quantity in [1,50]" ->
            bad(col("l_quantity") < 1 || col("l_quantity") > 50),
          "lineitem.l_discount in [0,0.1]" ->
            bad(col("l_discount") < 0 || col("l_discount") > 0.1),
          "lineitem.l_tax in [0,0.08]" ->
            bad(col("l_tax") < 0 || col("l_tax") > 0.08),
          "lineitem.l_extendedprice > 0" -> bad(col("l_extendedprice") <= 0)))
        val o = rules(Tables.orders(s, d), Seq(
          "orders.o_totalprice > 0" -> bad(col("o_totalprice") <= 0)))
        val c = rules(Tables.customer(s, d), Seq(
          "customer.c_acctbal in [-1000,10000]" ->
            bad(col("c_acctbal") < -1000 || col("c_acctbal") > 10000)))
        val e = rules(Tables.events(s, d), Seq(
          "events.value >= 0 or null" -> bad(col("value") < 0)))
        l.unionByName(o).unionByName(c).unionByName(e).orderBy("rule")
      },
      Some("""SELECT rule, checked, violations FROM (
             |  SELECT 'lineitem.l_quantity in [1,50]' AS rule, count(*) AS checked,
             |    count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) AS violations
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.l_discount in [0,0.1]', count(*),
             |    count(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END) FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.l_tax in [0,0.08]', count(*),
             |    count(CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 END) FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.l_extendedprice > 0', count(*),
             |    count(CASE WHEN l_extendedprice <= 0 THEN 1 END) FROM lineitem
             |  UNION ALL
             |  SELECT 'orders.o_totalprice > 0', count(*),
             |    count(CASE WHEN o_totalprice <= 0 THEN 1 END) FROM orders
             |  UNION ALL
             |  SELECT 'customer.c_acctbal in [-1000,10000]', count(*),
             |    count(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000 THEN 1 END) FROM customer
             |  UNION ALL
             |  SELECT 'events.value >= 0 or null', count(*),
             |    count(CASE WHEN value < 0 THEN 1 END) FROM events
             |) ORDER BY rule""".stripMargin)),

    // primary-key uniqueness audit — the dbt `unique` test suite as one
    // report (q_domain_bounds' key sibling): per table, rows vs distinct
    // declared-key tuples. On THIS fixture lineitem's documented
    // composite key (l_orderkey, l_linenumber) is NOT unique (≈24% of
    // rows collide) — the audit genuinely fires, which is the point: a
    // dedup or merge stage keyed on a non-key silently drops data. Each
    // count-distinct is one hash-agg shuffle on the key; eight small
    // one-row aggs union after.
    QueryDef(
      "q_key_uniqueness",
      (s, d) => {
        def one(name: String, df: org.apache.spark.sql.DataFrame,
            keys: Seq[String]) =
          df.agg(count(lit(1)).as("n_rows"),
              count_distinct(col(keys.head), keys.tail.map(col): _*)
                .as("distinct_keys"))
            .select(lit(name).as("tbl"), col("n_rows"), col("distinct_keys"),
              (col("n_rows") - col("distinct_keys")).as("dup_rows"))
        one("orders", Tables.orders(s, d), Seq("o_orderkey"))
          .unionByName(one("lineitem", Tables.lineitem(s, d),
            Seq("l_orderkey", "l_linenumber")))
          .unionByName(one("customer", Tables.customer(s, d), Seq("c_custkey")))
          .unionByName(one("part", Tables.part(s, d), Seq("p_partkey")))
          .unionByName(one("supplier", Tables.supplier(s, d), Seq("s_suppkey")))
          .unionByName(one("events", Tables.events(s, d), Seq("event_id")))
          .unionByName(one("documents", Tables.documents(s, d), Seq("doc_id")))
          .unionByName(one("embeddings", Tables.embeddings(s, d), Seq("vec_id")))
          .orderBy("tbl")
      },
      Some("""WITH k AS (
             | SELECT 'orders' AS tbl, count(*) AS n_rows,
             |   count(DISTINCT o_orderkey) AS distinct_keys FROM orders
             | UNION ALL SELECT 'lineitem', count(*),
             |   count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
             | UNION ALL SELECT 'customer', count(*), count(DISTINCT c_custkey) FROM customer
             | UNION ALL SELECT 'part', count(*), count(DISTINCT p_partkey) FROM part
             | UNION ALL SELECT 'supplier', count(*), count(DISTINCT s_suppkey) FROM supplier
             | UNION ALL SELECT 'events', count(*), count(DISTINCT event_id) FROM events
             | UNION ALL SELECT 'documents', count(*), count(DISTINCT doc_id) FROM documents
             | UNION ALL SELECT 'embeddings', count(*), count(DISTINCT vec_id) FROM embeddings)
             |SELECT tbl, n_rows, distinct_keys, n_rows - distinct_keys AS dup_rows
             |FROM k ORDER BY tbl""".stripMargin)),

    // freshness audit — per time-bearing table, the newest row and its
    // staleness in days against the corpus-wide newest timestamp (a
    // deterministic anchor: no wall clock in a reproducible pipeline).
    // The synthetic domains land decades apart — faithfully reported;
    // on production data this is the "did yesterday's load run" SLA
    // check. Three max() scans, one 3-row reduction.
    QueryDef(
      "q_freshness",
      (s, d) => {
        val m = Tables.events(s, d).agg(max(col("ts")).as("max_ts"))
          .select(lit("events").as("tbl"), col("max_ts"))
          .unionByName(Tables.orders(s, d)
            .agg(max(col("o_orderdate").cast("timestamp_ntz")).as("max_ts"))
            .select(lit("orders").as("tbl"), col("max_ts")))
          .unionByName(Tables.lineitem(s, d)
            .agg(max(col("l_shipdate").cast("timestamp_ntz")).as("max_ts"))
            .select(lit("lineitem").as("tbl"), col("max_ts")))
        val g = m.agg(max("max_ts").as("anchor"))
        m.crossJoin(g)
          .select(col("tbl"), col("max_ts"),
            datediff(to_date(col("anchor")), to_date(col("max_ts")))
              .cast("long").as("staleness_days"))
          .orderBy("tbl")
      },
      Some("""WITH m AS (
             |  SELECT 'events' AS tbl, max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events
             |  UNION ALL SELECT 'orders', max(CAST(o_orderdate AS TIMESTAMP)) FROM orders
             |  UNION ALL SELECT 'lineitem', max(CAST(l_shipdate AS TIMESTAMP)) FROM lineitem),
             |g AS (SELECT max(max_ts) AS anchor FROM m)
             |SELECT tbl, max_ts,
             |  date_diff('day', CAST(max_ts AS DATE), CAST(anchor AS DATE)) AS staleness_days
             |FROM m CROSS JOIN g ORDER BY tbl""".stripMargin)),

    // discount→quantity elasticity — the OLS slope q_discount_impact's
    // per-band means only gesture at: Δqty per whole discount point,
    // from five exact 128-bit integer moments in ONE map-combined pass
    // over the fact table (the regression never sees a row twice, no
    // per-band intermediate). The near-zero slope on the independent
    // synthetic fixture is the honest null; on real data this is the
    // promo-planning number.
    QueryDef(
      "q_price_elasticity",
      (s, d) => Tables.lineitem(s, d)
        .select(expr("CAST(round(l_discount * 100) AS BIGINT)").as("x"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("y"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .select(col("n").as("n_lines"),
          expr("CAST((n*sxy - sx*sy) * 1000000 div (n*sxx - sx*sx) AS BIGINT)")
            .as("slope_micro"),
          expr("CAST(sy * 1000 div n AS BIGINT)").as("mean_qty_milli")),
      Some("""WITH l AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
             |                  CAST(round(l_quantity) AS BIGINT) AS y FROM lineitem),
             |m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             |        sum(CAST(x AS HUGEINT)*y) AS sxy, sum(CAST(x AS HUGEINT)*x) AS sxx FROM l)
             |SELECT CAST(n AS BIGINT) AS n_lines,
             |  CAST((n*sxy - sx*sy) * 1000000 // (n*sxx - sx*sx) AS BIGINT) AS slope_micro,
             |  CAST(sy * 1000 // n AS BIGINT) AS mean_qty_milli
             |FROM m""".stripMargin)),

    // Hill tail-index estimator on the top-100 order values — the
    // heavy-tail screen beside q_benford / q_source_gini / q_zipf_fit:
    // α = k / Σ ln(xᵢ/x_k) over the k largest order totals (α ≲ 3 means
    // a tail fat enough that means mislead and percentile SLOs are
    // mandatory; the synthetic fixture's α ≈ 332 says thin tail —
    // honest reading). The top-k is one TakeOrderedAndProject with a
    // total order; the ln terms come from exact integer cents pairs,
    // summed over the fixed 100-row frame in both engines.
    QueryDef(
      "q_hill_tail",
      (s, d) => {
        val t = Tables.orders(s, d)
          .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
            col("o_orderkey"))
          .orderBy(col("cents").desc, col("o_orderkey")).limit(100)
        val mn = t.agg(min("cents").as("xk"))
        // each ln term is nano-quantized BEFORE the sum, so the reduction
        // is an exact integer sum — no cross-engine float-addition-order
        // hazard (the house convention for every Σln in the registry)
        val h = t.crossJoin(mn).where(col("cents") > col("xk"))
          .agg(count(lit(1)).as("k_in"),
            sum(expr("CAST(round(ln(CAST(cents AS DOUBLE) / xk) * 1e9) AS BIGINT)"))
              .as("s_nano"))
        val base = t.agg(count(lit(1)).as("k_all"))
        h.crossJoin(base).crossJoin(mn)
          .select(col("xk").as("xmin_cents"), col("k_all").as("k"),
            expr("CAST(CAST(k_in AS DECIMAL(38,0)) * 1000000000000 div s_nano AS BIGINT)")
              .as("alpha_milli"))
      },
      Some("""WITH t AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
             |           FROM orders ORDER BY cents DESC, o_orderkey LIMIT 100),
             |mn AS (SELECT min(cents) AS xk FROM t),
             |h AS (SELECT count(*) AS k_in,
             |        sum(CAST(round(ln(CAST(cents AS DOUBLE) / xk) * 1e9) AS BIGINT)) AS s_nano
             |      FROM t CROSS JOIN mn WHERE cents > xk),
             |base AS (SELECT count(*) AS k_all FROM t)
             |SELECT CAST((SELECT xk FROM mn) AS BIGINT) AS xmin_cents,
             |  CAST(base.k_all AS BIGINT) AS k,
             |  CAST(CAST(h.k_in AS HUGEINT) * 1000000000000 // s_nano AS BIGINT) AS alpha_milli
             |FROM h CROSS JOIN base""".stripMargin)),

    // monthly Laspeyres vs Paasche price indices against the first
    // shipping month — the inflation readout a revenue dashboard
    // decomposes price from mix with: Laspeyres reweights each month's
    // unit prices by BASE-month quantities, Paasche by the month's own.
    // Per-(month, part) unit prices come from one map-combined fact
    // aggregate (rev div qty, exact micro); the base column joins on
    // l_partkey (one-month slice — AQE broadcasts it at fixture scale,
    // shuffles it at warehouse scale, both correct); index numerators/
    // denominators accumulate in 128-bit. Output bounded by the
    // calendar.
    QueryDef(
      "q_price_index",
      (s, d) => {
        val pm = Tables.lineitem(s, d)
          .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("m"),
            col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"),
            sum(round(col("l_quantity")).cast("long")).as("qty"))
        val p = pm.select(col("m"), col("l_partkey"),
          expr("rev * 10000 div qty").as("p_micro"), col("qty"))
        val m0 = p.agg(min("m").as("m0"))
        val base = p.crossJoin(m0).where(col("m") === col("m0"))
          .select(col("l_partkey"), col("p_micro").as("p0"), col("qty").as("q0"))
        p.join(base, "l_partkey")
          .groupBy(col("m").as("month"))
          .agg(count(lit(1)).as("n_parts"),
            sum(expr("CAST(p_micro AS DECIMAL(38,0)) * q0")).as("lnum"),
            sum(expr("CAST(p0 AS DECIMAL(38,0)) * q0")).as("lden"),
            sum(expr("CAST(p_micro AS DECIMAL(38,0)) * qty")).as("pnum"),
            sum(expr("CAST(p0 AS DECIMAL(38,0)) * qty")).as("pden"))
          .select(col("month"), col("n_parts"),
            expr("CAST(lnum * 1000000 div lden AS BIGINT)").as("laspeyres_micro"),
            expr("CAST(pnum * 1000000 div pden AS BIGINT)").as("paasche_micro"))
          .orderBy("month")
      },
      Some("""WITH pm AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m, l_partkey,
             |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev,
             |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
             |  FROM lineitem GROUP BY 1, 2),
             |p AS (SELECT m, l_partkey, rev * 10000 // qty AS p_micro, qty FROM pm),
             |base AS (SELECT l_partkey, p_micro AS p0, qty AS q0 FROM p
             |         WHERE m = (SELECT min(m) FROM p))
             |SELECT p.m AS month, count(*) AS n_parts,
             |  CAST(sum(CAST(p.p_micro AS HUGEINT) * b.q0) * 1000000
             |    // sum(CAST(b.p0 AS HUGEINT) * b.q0) AS BIGINT) AS laspeyres_micro,
             |  CAST(sum(CAST(p.p_micro AS HUGEINT) * p.qty) * 1000000
             |    // sum(CAST(b.p0 AS HUGEINT) * p.qty) AS BIGINT) AS paasche_micro
             |FROM p JOIN base b USING (l_partkey) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // join-key skew audit — the pre-join report a 100 TB pipeline runs
    // before shuffling on a key: top-10 hottest o_custkey values with
    // each key's skew multiple vs the mean key (n·n_keys/total, milli).
    // The hot-key list drives salting / AQE-skew-join decisions
    // (q_salted_join is the downstream fix this report justifies).
    // One grouped count, a broadcast one-row total, and a sort-limit
    // top-10 — the rank window runs AFTER the limit, over 10 rows, so
    // no row-scaled partitionless window exists in the plan.
    QueryDef(
      "q_key_skew",
      (s, d) => {
        val k = Tables.orders(s, d).groupBy(col("o_custkey").as("key"))
          .agg(count(lit(1)).as("n"))
        val t = k.agg(count(lit(1)).as("nk"), sum("n").as("total"))
        val top = k.orderBy(col("n").desc, col("key")).limit(10)
        top.withColumn("rank",
            row_number().over(Window.orderBy(col("n").desc, col("key"))))
          .crossJoin(t)
          .select(col("rank"), col("key"), col("n"),
            expr("CAST(n * CAST(nk AS DECIMAL(38,0)) * 1000 div total AS BIGINT)")
              .as("skew_x_milli"))
          .orderBy("rank")
      },
      Some("""WITH k AS (SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1),
             |t AS (SELECT count(*) AS nk, sum(n) AS total FROM k),
             |top AS (SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS r FROM k)
             |SELECT CAST(r AS BIGINT) AS rank, key, CAST(n AS BIGINT) AS n,
             |  CAST(n * CAST((SELECT nk FROM t) AS HUGEINT) * 1000
             |    // (SELECT total FROM t) AS BIGINT) AS skew_x_milli
             |FROM top WHERE r <= 10 ORDER BY r""".stripMargin)),

    // cohort lifetime-value curve — cumulative revenue per customer by
    // (first-order cohort month × months-since-first-order age): the LTV
    // chart finance reads beside q_orders_cohort's flat rollup. The grid
    // is calendar-bounded (≤ 80 cohorts × ≤ 80 ages) after ONE orders
    // scan each for cohorts and revenue; the cumulative window is
    // cohort-partitioned. Cents stay exact integers; per-customer LTV is
    // one integer division at centi-cent grain.
    QueryDef(
      "q_cohort_ltv",
      (s, d) => {
        val o = Tables.orders(s, d)
        val fo = o.groupBy("o_custkey")
          .agg(to_date(date_trunc("month", min(col("o_orderdate")))).as("cm"))
        val rev = o.select(col("o_custkey"),
          to_date(date_trunc("month", col("o_orderdate"))).as("om"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val g = rev.join(fo, "o_custkey")
          .groupBy(col("cm"), expr("CAST(months_between(om, cm) AS BIGINT)").as("age_months"))
          .agg(sum("cents").as("cents"))
        val cs = fo.groupBy("cm").agg(count(lit(1)).as("n_cust"))
        val wc = Window.partitionBy("cm").orderBy("age_months")
        g.join(cs, "cm")
          .select(date_format(col("cm"), "yyyy-MM").as("cohort_month"),
            col("age_months"),
            sum("cents").over(wc).as("cum_cents"),
            expr("n_cust").as("n_cust"))
          .select(col("cohort_month"), col("age_months"), col("cum_cents"),
            expr("cum_cents * 100 div n_cust").as("ltv_per_cust_centi_cents"))
          .orderBy("cohort_month", "age_months")
      },
      Some("""WITH fo AS (SELECT o_custkey,
             |      date_trunc('month', min(CAST(o_orderdate AS DATE))) AS cm
             |    FROM orders GROUP BY 1),
             |rev AS (SELECT o_custkey, date_trunc('month', CAST(o_orderdate AS DATE)) AS om,
             |      CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
             |g AS (SELECT fo.cm, datediff('month', fo.cm, rev.om) AS age, sum(cents) AS cents
             |      FROM rev JOIN fo USING (o_custkey) GROUP BY 1, 2),
             |cs AS (SELECT cm, count(*) AS n_cust FROM fo GROUP BY 1),
             |c AS (SELECT g.cm, age, sum(cents) OVER (PARTITION BY g.cm ORDER BY age) AS cum,
             |        n_cust FROM g JOIN cs USING (cm))
             |SELECT strftime(cm, '%Y-%m') AS cohort_month, CAST(age AS BIGINT) AS age_months,
             |  CAST(cum AS BIGINT) AS cum_cents,
             |  CAST(cum * 100 // n_cust AS BIGINT) AS ltv_per_cust_centi_cents
             |FROM c ORDER BY cohort_month, age_months""".stripMargin)),

    // per-supplier operations scorecard — the dbt-style mart row: line
    // volume, exact-cents revenue, return rate, and mean discount per
    // supplier with the nation dim attached. One lineitem scan with
    // map-side combine on the supplier key; both dims broadcast. Top-20
    // by revenue via TakeOrdered.
    QueryDef(
      "q_supplier_scorecard",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val sup = Tables.supplier(s, d)
        val nat = Tables.nation(s, d)
        l.groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_lines"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"),
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returns"),
            sum(round(col("l_discount") * 100).cast("long")).as("disc_pts"))
          .join(broadcast(sup.select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"), col("n_lines"),
            col("revenue_cents"),
            expr("returns * 1000 div n_lines").as("return_milli"),
            expr("disc_pts * 10 div n_lines").as("avg_disc_milli"))
          .orderBy(col("revenue_cents").desc, col("s_suppkey")).limit(20)
      },
      Some("""SELECT s.s_suppkey, n.n_name AS nation, count(*) AS n_lines,
             |  CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cents,
             |  CAST(sum(CASE WHEN l.l_returnflag='R' THEN 1 ELSE 0 END) * 1000
             |    // count(*) AS BIGINT) AS return_milli,
             |  CAST(sum(CAST(round(l.l_discount*100) AS BIGINT)) * 10 // count(*) AS BIGINT)
             |    AS avg_disc_milli
             |FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |JOIN nation n ON n.n_nationkey = s.s_nationkey
             |GROUP BY 1, 2 ORDER BY revenue_cents DESC, s.s_suppkey LIMIT 20""".stripMargin)),

    // monthly market-share trend by customer nation — each nation's
    // revenue share of its month (micro), the share delta vs the prior
    // month, and the within-month rank: the competitive-dashboard query.
    // One orders scan (customer + nation dims broadcast) feeds a
    // calendar-bounded month×nation grid (≤ 80×25 rows); both windows
    // are partitioned (by nation for the lag, by month for the rank).
    QueryDef(
      "q_market_share_trend",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
        val rev = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("mo"),
            col("n_name").as("nation"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        val tot = rev.groupBy("mo").agg(sum("cents").as("tot"))
        val sh = rev.join(tot, "mo")
          .select(col("mo"), col("nation"),
            expr("cents * 1000000 div tot").as("share_micro"))
        val wl = Window.partitionBy("nation").orderBy("mo")
        val wr = Window.partitionBy("mo").orderBy(col("share_micro").desc, col("nation"))
        sh.select(date_format(col("mo"), "yyyy-MM").as("month"), col("nation"),
            col("share_micro"),
            coalesce(col("share_micro") - lag("share_micro", 1).over(wl), lit(0L))
              .as("delta_micro"),
            row_number().over(wr).cast("long").as("rk"))
          .orderBy("month", "rk")
      },
      Some("""WITH rev AS (SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS mo,
             |        n.n_name AS nation,
             |        sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS cents
             |      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             |      JOIN nation n ON n.n_nationkey = c.c_nationkey GROUP BY 1, 2),
             |t AS (SELECT mo, sum(cents) AS tot FROM rev GROUP BY 1),
             |s AS (SELECT rev.mo, nation, CAST(cents * 1000000 // tot AS BIGINT) AS share_micro
             |      FROM rev JOIN t USING (mo))
             |SELECT strftime(mo, '%Y-%m') AS month, nation, share_micro,
             |  CAST(coalesce(share_micro - lag(share_micro)
             |    OVER (PARTITION BY nation ORDER BY mo), 0) AS BIGINT) AS delta_micro,
             |  CAST(row_number() OVER (PARTITION BY mo
             |    ORDER BY share_micro DESC, nation) AS BIGINT) AS rk
             |FROM s ORDER BY month, rk""".stripMargin)),

    // ABC inventory classification — parts bucketed A/B/C at the 80/95 %
    // cumulative-revenue breakpoints, reported as the 3-row class rollup
    // (count, revenue, share): the named analysis behind
    // q_volume_concentration's threshold probes. The cumulative reads
    // the published [[abcRunningTotal]] artifact (GlobalOrder two-phase
    // range-partitioned running total — parts are data-sized, so a
    // partitionless window here would be the single-task trap), shared
    // with q_abc_xyz. Breakpoint compares stay exact in DECIMAL(38,0).
    QueryDef(
      "q_abc_class",
      (s, d) => {
        val run = abcRunningTotal(s, d)
        val tot = run.agg(sum("cents").as("tot"))
        run.crossJoin(tot)
          .select(col("cents"), col("tot"),
            expr("""CASE WHEN CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(tot AS DECIMAL(38,0)) * 80
                   |     THEN 'A'
                   |     WHEN CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(tot AS DECIMAL(38,0)) * 95
                   |     THEN 'B' ELSE 'C' END""".stripMargin).as("cls"))
          .groupBy("cls")
          .agg(count(lit(1)).as("n_parts"), sum("cents").as("revenue_cents"))
          .crossJoin(tot)
          .select(col("cls"), col("n_parts"), col("revenue_cents"),
            expr("revenue_cents * 1000 div tot").as("share_milli"))
          .orderBy("cls")
      },
      Some("""WITH p AS (SELECT l_partkey,
             |      sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS cents
             |    FROM lineitem GROUP BY 1),
             |t AS (SELECT sum(cents) AS tot FROM p),
             |c AS (SELECT l_partkey, cents,
             |        sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum FROM p),
             |cl AS (SELECT cents,
             |        CASE WHEN CAST(cum AS HUGEINT) * 100 <= CAST((SELECT tot FROM t) AS HUGEINT) * 80
             |             THEN 'A'
             |             WHEN CAST(cum AS HUGEINT) * 100 <= CAST((SELECT tot FROM t) AS HUGEINT) * 95
             |             THEN 'B' ELSE 'C' END AS cls FROM c)
             |SELECT cls, count(*) AS n_parts,
             |  CAST(sum(cents) AS BIGINT) AS revenue_cents,
             |  CAST(sum(cents) * 1000 // (SELECT tot FROM t) AS BIGINT) AS share_milli
             |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin)),

    // XYZ demand-variability classification — per-part coefficient of
    // variation of monthly shipped quantity from ONE map-combined moment
    // pass (n, Σq, Σq²), bucketed X (<0.5), Y (<1.0), Z (≥1.0) with each
    // class's CV range. The only doubles are one sqrt and one division on
    // exact integer moments, micro-rounded once (the q_anova convention);
    // parts under 6 active months are excluded as too sparse to classify.
    // Pairs with q_abc_class: ABC ranks value, XYZ ranks predictability.
    QueryDef(
      "q_demand_cv",
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"),
            to_date(date_trunc("month", col("l_shipdate"))).as("mo"))
          .agg(sum(col("l_quantity").cast("long")).as("q"))
        val st = m.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_months"), sum("q").as("sq"),
            sum(expr("q*q")).as("sqq"))
          .where(col("n_months") >= 6 && col("sq") > 0)
        st.select(
            expr("""CAST(round(sqrt(CAST(n_months*sqq - sq*sq AS DOUBLE)/(n_months*n_months))
                   | * 1000000 / (CAST(sq AS DOUBLE)/n_months)) AS BIGINT)""".stripMargin)
              .as("cv_micro"))
          .select(
            expr("""CASE WHEN cv_micro < 500000 THEN 'X'
                   |     WHEN cv_micro < 1000000 THEN 'Y' ELSE 'Z' END""".stripMargin)
              .as("cls"), col("cv_micro"))
          .groupBy("cls")
          .agg(count(lit(1)).as("n_parts"),
            min("cv_micro").as("cv_min_micro"), max("cv_micro").as("cv_max_micro"))
          .orderBy("cls")
      },
      Some("""WITH m AS (SELECT l_partkey, date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             |      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
             |    FROM lineitem GROUP BY 1, 2),
             |st AS (SELECT l_partkey, count(*) AS n_months, sum(q) AS sq, sum(q*q) AS sqq
             |       FROM m GROUP BY 1 HAVING count(*) >= 6 AND sum(q) > 0),
             |cv AS (SELECT CAST(round(sqrt(CAST(n_months*sqq - sq*sq AS DOUBLE)/(n_months*n_months))
             |         * 1000000 / (CAST(sq AS DOUBLE)/n_months)) AS BIGINT) AS cv_micro
             |       FROM st)
             |SELECT CASE WHEN cv_micro < 500000 THEN 'X'
             |            WHEN cv_micro < 1000000 THEN 'Y' ELSE 'Z' END AS cls,
             |  count(*) AS n_parts,
             |  CAST(min(cv_micro) AS BIGINT) AS cv_min_micro,
             |  CAST(max(cv_micro) AS BIGINT) AS cv_max_micro
             |FROM cv GROUP BY 1 ORDER BY 1""".stripMargin)),

    // price/volume/mix revenue bridge — the FP&A decomposition of the
    // 1996→1997 revenue change per brand: for parts traded both years,
    // price effect = rev₁ − rev₀·q₁/q₀ and volume effect = rev₀·q₁/q₀ − rev₀
    // (so the two sum to the part's Δ exactly); parts entering or exiting
    // land whole in the new/churn buckets. ONE conditional-sum aggregate
    // per (brand, part, both years) replaces the classic year self-join —
    // no second scan, no join at all beyond the part-dim lookup. All
    // arithmetic is exact cents; the interaction product widens through
    // DECIMAL(38,0) and uses truncating div on positives (both engines
    // agree). The per-brand identity price+volume+new+churn = Δ is
    // structural — the oracle hash would catch any drift.
    QueryDef(
      "q_gmv_bridge",
      (s, d) => {
        val ly = Tables.lineitem(s, d)
          .withColumn("y", year(col("l_shipdate")))
          .where(col("y").isin(1996, 1997))
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand").as("brand"), col("l_partkey"))
          .agg(
            sum(when(col("y") === 1996,
              round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
                .cast("long"))).as("rev0"),
            sum(when(col("y") === 1996, col("l_quantity").cast("long"))).as("q0"),
            sum(when(col("y") === 1997,
              round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
                .cast("long"))).as("rev1"),
            sum(when(col("y") === 1997, col("l_quantity").cast("long"))).as("q1"))
        ly.select(col("brand"),
            expr("""CASE WHEN rev0 IS NOT NULL AND rev1 IS NOT NULL
                   | THEN rev1 - CAST(CAST(rev0 AS DECIMAL(38,0))*q1 div q0 AS BIGINT)
                   | ELSE CAST(0 AS BIGINT) END""".stripMargin).as("price_eff"),
            expr("""CASE WHEN rev0 IS NOT NULL AND rev1 IS NOT NULL
                   | THEN CAST(CAST(rev0 AS DECIMAL(38,0))*q1 div q0 AS BIGINT) - rev0
                   | ELSE CAST(0 AS BIGINT) END""".stripMargin).as("volume_eff"),
            expr("CASE WHEN rev0 IS NULL THEN rev1 ELSE CAST(0 AS BIGINT) END").as("new_eff"),
            expr("CASE WHEN rev1 IS NULL THEN -rev0 ELSE CAST(0 AS BIGINT) END").as("churn_eff"),
            expr("coalesce(rev1, CAST(0 AS BIGINT)) - coalesce(rev0, CAST(0 AS BIGINT))").as("delta"))
          .groupBy("brand")
          .agg(sum("price_eff").as("price_eff_cents"),
            sum("volume_eff").as("volume_eff_cents"),
            sum("new_eff").as("new_eff_cents"),
            sum("churn_eff").as("churn_eff_cents"),
            sum("delta").as("delta_cents"))
          .orderBy("brand")
      },
      Some("""WITH ly AS (SELECT p.p_brand AS brand, l.l_partkey,
             |      sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1996
             |        THEN CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT) END) AS rev0,
             |      sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1996
             |        THEN CAST(l_quantity AS BIGINT) END) AS q0,
             |      sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1997
             |        THEN CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT) END) AS rev1,
             |      sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1997
             |        THEN CAST(l_quantity AS BIGINT) END) AS q1
             |    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |    WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997) GROUP BY 1, 2),
             |eff AS (SELECT brand,
             |    CASE WHEN rev0 IS NOT NULL AND rev1 IS NOT NULL
             |         THEN rev1 - CAST(CAST(rev0 AS HUGEINT)*q1 // q0 AS BIGINT)
             |         ELSE 0 END AS price_eff,
             |    CASE WHEN rev0 IS NOT NULL AND rev1 IS NOT NULL
             |         THEN CAST(CAST(rev0 AS HUGEINT)*q1 // q0 AS BIGINT) - rev0
             |         ELSE 0 END AS volume_eff,
             |    CASE WHEN rev0 IS NULL THEN rev1 ELSE 0 END AS new_eff,
             |    CASE WHEN rev1 IS NULL THEN -rev0 ELSE 0 END AS churn_eff,
             |    coalesce(rev1, 0) - coalesce(rev0, 0) AS delta FROM ly)
             |SELECT brand, CAST(sum(price_eff) AS BIGINT) AS price_eff_cents,
             |  CAST(sum(volume_eff) AS BIGINT) AS volume_eff_cents,
             |  CAST(sum(new_eff) AS BIGINT) AS new_eff_cents,
             |  CAST(sum(churn_eff) AS BIGINT) AS churn_eff_cents,
             |  CAST(sum(delta) AS BIGINT) AS delta_cents
             |FROM eff GROUP BY 1 ORDER BY 1""".stripMargin)),

    // classical ratio-to-moving-average seasonal indices — the monthly
    // multiplicative calendar profile of shipped revenue (the forecasting
    // prep that feeds deseasonalized trend models; q_stl_lite is the
    // additive daily sibling). Centered 12-month MA as the average of the
    // two offset 12-windows (the textbook 2×12 MA), full windows only;
    // ratios average per calendar month and re-normalize to mean 1. All
    // windows ride the ≤ #months calendar frame after ONE map-combined
    // grouped sum (q_changepoint convention).
    QueryDef(
      "q_seasonal_index",
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .groupBy(to_date(date_trunc("month", col("l_shipdate"))).as("mo"))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).as("rev"))
        val wa = Window.orderBy("mo").rowsBetween(-6, 5)
        val wb = Window.orderBy("mo").rowsBetween(-5, 6)
        val rt = m.select(col("mo"), col("rev"),
            sum("rev").over(wa).as("s12a"), sum("rev").over(wb).as("s12b"),
            count(lit(1)).over(wa).as("k1"), count(lit(1)).over(wb).as("k2"))
          .where(col("k1") === 12 && col("k2") === 12)
          .select(month(col("mo")).as("cal_month"),
            expr("CAST(round(1000000.0 * rev / ((s12a + s12b) / 24.0)) AS BIGINT)")
              .as("ratio_micro"))
        val ix = rt.groupBy("cal_month")
          .agg(count(lit(1)).as("n_obs"),
            expr("CAST(round(avg(CAST(ratio_micro AS DOUBLE))) AS BIGINT)").as("idx_micro"))
        val nrm = ix.agg(
          expr("CAST(round(avg(CAST(idx_micro AS DOUBLE))) AS BIGINT)").as("mean_idx"))
        ix.crossJoin(nrm)
          .select(col("cal_month").cast("long").as("cal_month"), col("n_obs"),
            col("idx_micro"),
            expr("CAST(round(1000000.0 * idx_micro / mean_idx) AS BIGINT)")
              .as("idx_norm_micro"))
          .orderBy("cal_month")
      },
      Some("""WITH m AS (SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             |      sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS rev
             |    FROM lineitem GROUP BY 1),
             |ma AS (SELECT mo, rev,
             |    sum(rev) OVER (ORDER BY mo ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS s12a,
             |    sum(rev) OVER (ORDER BY mo ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS s12b,
             |    count(*) OVER (ORDER BY mo ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS k1,
             |    count(*) OVER (ORDER BY mo ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS k2
             |  FROM m),
             |rt AS (SELECT month(mo) AS cal_month,
             |    CAST(round(1000000.0 * rev / ((s12a + s12b) / 24.0)) AS BIGINT) AS ratio_micro
             |  FROM ma WHERE k1 = 12 AND k2 = 12),
             |ix AS (SELECT cal_month, count(*) AS n_obs,
             |    CAST(round(avg(CAST(ratio_micro AS DOUBLE))) AS BIGINT) AS idx_micro
             |  FROM rt GROUP BY 1),
             |nrm AS (SELECT CAST(round(avg(CAST(idx_micro AS DOUBLE))) AS BIGINT) AS mean_idx
             |       FROM ix)
             |SELECT CAST(cal_month AS BIGINT) AS cal_month, n_obs, idx_micro,
             |  CAST(round(1000000.0 * idx_micro / (SELECT mean_idx FROM nrm)) AS BIGINT)
             |    AS idx_norm_micro
             |FROM ix ORDER BY cal_month""".stripMargin)),

    // new-item velocity — parts shipping for the FIRST time each month and
    // the revenue share they capture: the assortment-freshness mart row
    // (pairs with q_gmv_bridge's new/churn buckets at the monthly grain).
    // Two grouped passes over lineitem (first-ship month, then
    // month×part revenue) joined on partkey — shuffle ∝ |parts| after the
    // map-combined aggs, never the line count.
    QueryDef(
      "q_item_intro",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey"),
            to_date(date_trunc("month", col("l_shipdate"))).as("mo"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val fs = li.groupBy("l_partkey").agg(min("mo").as("intro_mo"))
        val mrev = li.groupBy("mo", "l_partkey").agg(sum("cents").as("rev"))
        mrev.join(fs, "l_partkey")
          .groupBy("mo")
          .agg(sum(when(col("intro_mo") === col("mo"), 1L).otherwise(0L)).as("new_parts"),
            count(lit(1)).as("active_parts"),
            sum(when(col("intro_mo") === col("mo"), col("rev")).otherwise(0L)).as("new_rev"),
            sum("rev").as("tot_rev"))
          .select(col("mo").as("month"), col("new_parts"), col("active_parts"),
            expr("new_rev * 1000000 div tot_rev").as("new_rev_share_micro"))
          .orderBy("month")
      },
      Some("""WITH li AS (SELECT l_partkey,
             |      date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             |      CAST(round(l_extendedprice*100) AS BIGINT) AS cents
             |    FROM lineitem),
             |fs AS (SELECT l_partkey, min(mo) AS intro_mo FROM li GROUP BY 1),
             |mrev AS (SELECT mo, l_partkey, sum(cents) AS rev FROM li GROUP BY 1, 2)
             |SELECT mo AS month,
             |  CAST(sum(CASE WHEN intro_mo = mo THEN 1 ELSE 0 END) AS BIGINT) AS new_parts,
             |  count(*) AS active_parts,
             |  CAST(sum(CASE WHEN intro_mo = mo THEN rev ELSE 0 END) * 1000000
             |    // sum(rev) AS BIGINT) AS new_rev_share_micro
             |FROM mrev JOIN fs USING (l_partkey) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Moran's I spatial autocorrelation — do nations in the SAME region
    // have correlated average order values? Binary same-region weights
    // collapse the O(n²) double sum to per-region closed form:
    // ΣΣ wᵢⱼzᵢzⱼ = Σᵣ((Σz)² − Σz²) — so the whole statistic falls out of
    // one grouped-moment pass over the 25-nation frame, no pair join at
    // any scale. Reported against the null expectation E[I] = −1/(n−1).
    QueryDef(
      "q_morans_i",
      (s, d) => {
        val nv = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"),
            count(lit(1)).as("n"))
        val x = broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk")))
          .join(nv, "nk")
          .select(col("rk"), expr("CAST(rev AS DOUBLE)/n").as("v"))
        val m = x.agg(avg("v").as("mu"), count(lit(1)).as("k"))
        val rg = x.crossJoin(m)
          .select(col("rk"), (col("v") - col("mu")).as("z"), col("k"))
          .groupBy("rk").agg(sum("z").as("sz"), sum(expr("z*z")).as("szz"),
            count(lit(1)).as("nr"), max("k").as("k"))
        rg.agg(max("k").as("k"),
            sum(expr("sz*sz - szz")).as("cross_sum"), sum("szz").as("s2"),
            sum(expr("nr*(nr-1)")).as("w_tot"))
          .select(col("k").as("n_nations"), col("w_tot").as("w_pairs"),
            expr("CAST(round(1000000.0 * k * cross_sum / (w_tot * s2)) AS BIGINT)")
              .as("morans_i_micro"),
            expr("CAST(round(-1000000.0 / (k - 1)) AS BIGINT)").as("expected_i_micro"))
      },
      Some("""WITH nv AS (SELECT c.c_nationkey AS nk,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev, count(*) AS n
             |    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey GROUP BY 1),
             |x AS (SELECT n.n_regionkey AS rk, CAST(nv.rev AS DOUBLE)/nv.n AS v
             |      FROM nation n JOIN nv ON nv.nk = n.n_nationkey),
             |m AS (SELECT avg(v) AS mu, count(*) AS k FROM x),
             |z AS (SELECT rk, v - (SELECT mu FROM m) AS z FROM x),
             |rg AS (SELECT rk, sum(z) AS sz, sum(z*z) AS szz, count(*) AS nr
             |       FROM z GROUP BY 1),
             |agg AS (SELECT sum(sz*sz - szz) AS cross_sum, sum(szz) AS s2,
             |    sum(nr*(nr-1)) AS w_tot FROM rg)
             |SELECT CAST((SELECT k FROM m) AS BIGINT) AS n_nations,
             |  CAST(w_tot AS BIGINT) AS w_pairs,
             |  CAST(round(1000000.0 * (SELECT k FROM m) * cross_sum / (w_tot * s2))
             |    AS BIGINT) AS morans_i_micro,
             |  CAST(round(-1000000.0 / ((SELECT k FROM m) - 1)) AS BIGINT)
             |    AS expected_i_micro
             |FROM agg""".stripMargin)),

    // safety-stock recommendation — z·σ_monthly·√(LT/month) at a 95 %
    // service level for the top-10 parts by mean monthly demand: the
    // inventory-planning composite of q_demand_cv's variability and the
    // ship-lag lead time. Lead time averages only NONNEGATIVE
    // order→ship lags (the synthetic fixture's dates are uncorrelated, so
    // negative lags exist and are operationally meaningless — documented);
    // the variance numerator floors at 0 against float cancellation.
    // Two map-combined grouped passes + one broadcast-joined margin.
    QueryDef(
      "q_safety_stock",
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"),
            to_date(date_trunc("month", col("l_shipdate"))).as("mo"))
          .agg(sum(col("l_quantity").cast("long")).as("q"))
        val st = m.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_mo"), sum("q").as("sq"),
            sum(expr("q*q")).as("sqq"))
          .where(col("n_mo") >= 6)
        val lt = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey"),
            datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
              .as("lag"))
          .where(col("lag") >= 0)
          .groupBy("l_partkey")
          .agg(expr("avg(CAST(lag AS DOUBLE))").as("lt_days"))
        st.join(lt, "l_partkey")
          .select(col("l_partkey").as("partkey"), col("n_mo").as("n_months"),
            expr("CAST(round(CAST(sq AS DOUBLE)/n_mo) AS BIGINT)")
              .as("mean_monthly_qty"),
            expr("""CAST(round(sqrt(greatest(sqq - CAST(sq AS DOUBLE)*sq/n_mo, 0)
                   | /(n_mo-1))) AS BIGINT)""".stripMargin).as("sd_monthly_qty"),
            expr("CAST(round(lt_days*100) AS BIGINT)").as("lead_time_centi_days"),
            expr("""CAST(round(1.644854 * sqrt(greatest(sqq - CAST(sq AS DOUBLE)*sq/n_mo, 0)
                   | /(n_mo-1)) * sqrt(lt_days/30.0)) AS BIGINT)""".stripMargin)
              .as("safety_stock_units"))
          .orderBy(col("mean_monthly_qty").desc, col("partkey")).limit(10)
      },
      Some("""WITH m AS (SELECT l_partkey,
             |      date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             |      sum(CAST(l_quantity AS BIGINT)) AS q FROM lineitem GROUP BY 1, 2),
             |st AS (SELECT l_partkey, count(*) AS n_mo, sum(q) AS sq, sum(q*q) AS sqq
             |       FROM m GROUP BY 1 HAVING count(*) >= 6),
             |lt AS (SELECT l.l_partkey,
             |    avg(CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
             |        CAST(l.l_shipdate AS DATE)) AS DOUBLE)) AS lt_days
             |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
             |  WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
             |        CAST(l.l_shipdate AS DATE)) >= 0
             |  GROUP BY 1)
             |SELECT st.l_partkey AS partkey, CAST(st.n_mo AS BIGINT) AS n_months,
             |  CAST(round(CAST(st.sq AS DOUBLE)/st.n_mo) AS BIGINT) AS mean_monthly_qty,
             |  CAST(round(sqrt(greatest(st.sqq - CAST(st.sq AS DOUBLE)*st.sq/st.n_mo, 0)
             |    /(st.n_mo-1))) AS BIGINT) AS sd_monthly_qty,
             |  CAST(round(lt.lt_days*100) AS BIGINT) AS lead_time_centi_days,
             |  CAST(round(1.644854 * sqrt(greatest(st.sqq - CAST(st.sq AS DOUBLE)*st.sq/st.n_mo, 0)
             |    /(st.n_mo-1)) * sqrt(lt.lt_days/30.0)) AS BIGINT) AS safety_stock_units
             |FROM st JOIN lt ON lt.l_partkey = st.l_partkey
             |ORDER BY mean_monthly_qty DESC, partkey LIMIT 10""".stripMargin)),

    // ABC × XYZ strategy matrix — the 9-cell cross of value concentration
    // (q_abc_class) and demand predictability (q_demand_cv) per part, with
    // each cell's part count and revenue share: AX = automate, CZ =
    // make-to-order, the standard inventory-policy grid. The ABC
    // cumulative reads the published [[abcRunningTotal]] artifact; the
    // XYZ side is one map-combined moment pass; they meet in one partkey
    // equi-join.
    QueryDef(
      "q_abc_xyz",
      (s, d) => {
        // the ABC side reads the published running-total artifact shared
        // with q_abc_class — the duplicated GlobalOrder pass was the one
        // non-graph entry in the r12 close's worst-5
        val run = abcRunningTotal(s, d)
        val tot = run.agg(sum("cents").as("tot"))
        val abc = run.crossJoin(tot)
          .select(col("l_partkey"), col("cents"),
            expr("""CASE WHEN CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(tot AS DECIMAL(38,0)) * 80
                   |     THEN 'A'
                   |     WHEN CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(tot AS DECIMAL(38,0)) * 95
                   |     THEN 'B' ELSE 'C' END""".stripMargin).as("abc"))
        val m = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"),
            to_date(date_trunc("month", col("l_shipdate"))).as("mo"))
          .agg(sum(col("l_quantity").cast("long")).as("q"))
        val xyz = m.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_mo"), sum("q").as("sq"), sum(expr("q*q")).as("sqq"))
          .where(col("n_mo") >= 6 && col("sq") > 0)
          .select(col("l_partkey"),
            expr("""CAST(round(sqrt(CAST(n_mo*sqq - sq*sq AS DOUBLE)/(n_mo*n_mo))
                   | * 1000000 / (CAST(sq AS DOUBLE)/n_mo)) AS BIGINT)""".stripMargin)
              .as("cv"))
          .select(col("l_partkey"),
            expr("""CASE WHEN cv < 500000 THEN 'X'
                   |     WHEN cv < 1000000 THEN 'Y' ELSE 'Z' END""".stripMargin).as("xyz"))
        abc.join(xyz, "l_partkey")
          .groupBy("abc", "xyz")
          .agg(count(lit(1)).as("n_parts"), sum("cents").as("cellrev"))
          .crossJoin(tot)
          .select(col("abc"), col("xyz"), col("n_parts"),
            expr("cellrev * 1000000 div tot").as("revenue_share_micro"))
          .orderBy("abc", "xyz")
      },
      Some("""WITH p AS (SELECT l_partkey,
             |      sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS cents
             |    FROM lineitem GROUP BY 1),
             |t AS (SELECT sum(cents) AS tot FROM p),
             |cum AS (SELECT l_partkey, cents,
             |    sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum FROM p),
             |abc AS (SELECT l_partkey, cents,
             |    CASE WHEN CAST(cum AS HUGEINT)*100 <= CAST((SELECT tot FROM t) AS HUGEINT)*80
             |         THEN 'A'
             |         WHEN CAST(cum AS HUGEINT)*100 <= CAST((SELECT tot FROM t) AS HUGEINT)*95
             |         THEN 'B' ELSE 'C' END AS abc FROM cum),
             |m AS (SELECT l_partkey, date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             |      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
             |    FROM lineitem GROUP BY 1, 2),
             |st AS (SELECT l_partkey, count(*) AS n_mo, sum(q) AS sq, sum(q*q) AS sqq
             |       FROM m GROUP BY 1 HAVING count(*) >= 6 AND sum(q) > 0),
             |xyz AS (SELECT l_partkey,
             |    CASE WHEN cv < 500000 THEN 'X' WHEN cv < 1000000 THEN 'Y' ELSE 'Z' END AS xyz
             |  FROM (SELECT l_partkey,
             |      CAST(round(sqrt(CAST(n_mo*sqq - sq*sq AS DOUBLE)/(n_mo*n_mo))
             |        * 1000000 / (CAST(sq AS DOUBLE)/n_mo)) AS BIGINT) AS cv FROM st))
             |SELECT a.abc, x.xyz, count(*) AS n_parts,
             |  CAST(sum(a.cents) * 1000000 // (SELECT tot FROM t) AS BIGINT)
             |    AS revenue_share_micro
             |FROM abc a JOIN xyz x USING (l_partkey)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // trade-flow lift matrix — supplier-nation × customer-nation revenue
    // against the independence expectation (observed·total / row·col
    // margins, the gravity-model null): which trade lanes are genuinely
    // preferred vs just big. The star join runs dims-broadcast; margins
    // are two grouped sums over the ≤ |nations|² cell table; lift is
    // exact 128-bit integer milli. Top-15 lanes by lift, TakeOrdered.
    QueryDef(
      "q_trade_flows",
      (s, d) => {
        val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
        val f = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
            col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
          .join(broadcast(nat.select(col("n_nationkey").as("snk"),
            col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
          .select(col("supp_nation"), col("cust_nation"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long").as("cents"))
        val cell = f.groupBy("supp_nation", "cust_nation").agg(sum("cents").as("rev"))
        val ms = cell.groupBy("supp_nation").agg(sum("rev").as("sr"))
        val mc = cell.groupBy("cust_nation").agg(sum("rev").as("cr"))
        val t = cell.agg(sum("rev").as("tot"))
        cell.join(broadcast(ms), "supp_nation").join(broadcast(mc), "cust_nation")
          .crossJoin(t)
          .select(col("supp_nation"), col("cust_nation"),
            col("rev").as("rev_cents"),
            expr("""CAST(CAST(rev AS DECIMAL(38,0)) * tot * 1000
                   | div (CAST(sr AS DECIMAL(38,0)) * cr) AS BIGINT)""".stripMargin)
              .as("lift_milli"))
          .orderBy(col("lift_milli").desc, col("supp_nation"), col("cust_nation"))
          .limit(15)
      },
      Some("""WITH f AS (SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             |      CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT) AS cents
             |    FROM lineitem l
             |    JOIN orders o ON o.o_orderkey = l.l_orderkey
             |    JOIN customer c ON c.c_custkey = o.o_custkey
             |    JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
             |    JOIN nation ns ON ns.n_nationkey = s.s_nationkey),
             |cell AS (SELECT supp_nation, cust_nation, sum(cents) AS rev FROM f
             |         GROUP BY 1, 2),
             |ms AS (SELECT supp_nation, sum(rev) AS sr FROM cell GROUP BY 1),
             |mc AS (SELECT cust_nation, sum(rev) AS cr FROM cell GROUP BY 1),
             |t AS (SELECT sum(rev) AS tot FROM cell)
             |SELECT cell.supp_nation, cell.cust_nation,
             |  CAST(cell.rev AS BIGINT) AS rev_cents,
             |  CAST(CAST(cell.rev AS HUGEINT) * (SELECT tot FROM t) * 1000
             |    // (CAST(ms.sr AS HUGEINT) * mc.cr) AS BIGINT) AS lift_milli
             |FROM cell JOIN ms USING (supp_nation) JOIN mc USING (cust_nation)
             |ORDER BY lift_milli DESC, supp_nation, cust_nation LIMIT 15""".stripMargin)),

    // supply-risk audit — per-part supplier concentration (HHI over
    // line-count shares) rolled up to the procurement dashboard row:
    // single-sourced part share, mean HHI, and the count of parts above
    // the 0.5 concentration bar. One grouped pass per level, exact
    // 128-bit integer HHI. The fixture's parts all multi-source (0
    // single-sourced) — the honest baseline this gate exists to watch.
    QueryDef(
      "q_supply_risk",
      (s, d) => {
        val ps = Tables.lineitem(s, d)
          .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("n"))
        val h = ps.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_supp"), sum("n").as("tot"),
            sum(expr("CAST(n AS DECIMAL(38,0))*n")).as("ss"))
          .select(col("l_partkey"), col("n_supp"),
            expr("""CAST(ss * 1000000 div (CAST(tot AS DECIMAL(38,0))*tot) AS BIGINT)"""
              ).as("hhi_micro"))
        h.agg(count(lit(1)).as("n_parts"),
            sum(when(col("n_supp") === 1, 1L).otherwise(0L)).as("single_sourced"),
            expr("CAST(round(avg(CAST(hhi_micro AS DOUBLE))) AS BIGINT)")
              .as("mean_hhi_micro"),
            sum(when(col("hhi_micro") > 500000, 1L).otherwise(0L))
              .as("concentrated_parts"))
          .select(col("n_parts"), col("single_sourced"),
            expr("single_sourced * 1000000 div n_parts").as("single_share_micro"),
            col("mean_hhi_micro"), col("concentrated_parts"))
      },
      Some("""WITH ps AS (SELECT l_partkey, l_suppkey, count(*) AS n FROM lineitem
             |      GROUP BY 1, 2),
             |h AS (SELECT l_partkey, count(*) AS n_supp, sum(n) AS tot,
             |      sum(CAST(n AS HUGEINT)*n) AS ss FROM ps GROUP BY 1),
             |hh AS (SELECT l_partkey, n_supp,
             |    CAST(CAST(ss AS HUGEINT) * 1000000 // (CAST(tot AS HUGEINT)*tot)
             |      AS BIGINT) AS hhi_micro FROM h)
             |SELECT CAST(count(*) AS BIGINT) AS n_parts,
             |  CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS single_sourced,
             |  CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) * 1000000
             |    // count(*) AS BIGINT) AS single_share_micro,
             |  CAST(round(avg(CAST(hhi_micro AS DOUBLE))) AS BIGINT) AS mean_hhi_micro,
             |  CAST(sum(CASE WHEN hhi_micro > 500000 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS concentrated_parts
             |FROM hh""".stripMargin)),

    // directional association rules — q_basket_pairs reports symmetric
    // lift; recommendations need the DIRECTED strengths: confidence
    // p1→p2 and p2→p1 (which way does the basket pull?) plus leverage
    // (co-rate above independence in absolute probability, the measure
    // that doesn't explode on rare items). Same orderkey-keyed pair
    // join, top-20 cut BEFORE the margin lookups, exact integer micro
    // everywhere.
    QueryDef(
      "q_assoc_rules",
      (s, d) => {
        // MEASURED-BEST plan (r15 3-arm A/B, BENCH.md): lp re-derived
        // per consumer beats BOTH a partitioned cache of lp (cache
        // build over four cheap rescans: warm 2.0 → 2.8 s at 1×) AND a
        // collect_set array-pair form with no self-join (1 shuffle but
        // wide cached array rows: 100× 11.9 → 22.7 s on q_assoc_rules,
        // 17.2 → 22.0 s here). The scan+distinct is map-side combined
        // and columnar — re-running it 4× costs less than materializing
        // it once; the residual cost is the C(items,2) pair-space
        // aggregation, inherent to the question.
        val lp = Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey").distinct()
        val n = lp.agg(countDistinct("l_orderkey").as("n_orders"))
        val pc = lp.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        val pr = lp.select(col("l_orderkey"), col("l_partkey").as("p1"))
          .join(lp.select(col("l_orderkey"), col("l_partkey").as("p2")),
            "l_orderkey")
          .where(col("p1") < col("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("cnt"))
        val top = pr.orderBy(col("cnt").desc, col("p1"), col("p2")).limit(20)
        top
          .join(broadcast(pc.select(col("l_partkey").as("p1"), col("c").as("c1"))), "p1")
          .join(broadcast(pc.select(col("l_partkey").as("p2"), col("c").as("c2"))), "p2")
          .crossJoin(n)
          .select(col("p1"), col("p2"), col("cnt"),
            expr("CAST(cnt * 1000000 div c1 AS BIGINT)").as("conf_fwd_micro"),
            expr("CAST(cnt * 1000000 div c2 AS BIGINT)").as("conf_bwd_micro"),
            expr("""CAST((CAST(cnt AS DECIMAL(38,0)) * n_orders
                   | - CAST(c1 AS DECIMAL(38,0)) * c2) * 1000000
                   | div (CAST(n_orders AS DECIMAL(38,0)) * n_orders) AS BIGINT)"""
              .stripMargin).as("leverage_micro"))
          .orderBy(col("cnt").desc, col("p1"), col("p2"))
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp),
             |pc AS (SELECT l_partkey, count(*) AS c FROM lp GROUP BY 1),
             |pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS cnt
             |       FROM lp a JOIN lp b
             |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |       GROUP BY 1, 2),
             |top AS (SELECT p1, p2, cnt FROM pr ORDER BY cnt DESC, p1, p2 LIMIT 20)
             |SELECT t.p1, t.p2, t.cnt,
             |  CAST(t.cnt * 1000000 // c1.c AS BIGINT) AS conf_fwd_micro,
             |  CAST(t.cnt * 1000000 // c2.c AS BIGINT) AS conf_bwd_micro,
             |  CAST((CAST(t.cnt AS HUGEINT) * n.n_orders
             |      - CAST(c1.c AS HUGEINT) * c2.c) * 1000000
             |    // (CAST(n.n_orders AS HUGEINT) * n.n_orders) AS BIGINT)
             |    AS leverage_micro
             |FROM top t JOIN pc c1 ON c1.l_partkey = t.p1
             |JOIN pc c2 ON c2.l_partkey = t.p2 CROSS JOIN n
             |ORDER BY t.cnt DESC, t.p1, t.p2""".stripMargin)),

    // Theil inequality index with exact between/within decomposition —
    // how unequal is customer revenue, and how much of the inequality is
    // BETWEEN nations vs within them? The generalized-entropy measure
    // whose decomposition is exact (Gini's isn't), which is why data
    // sheets report it alongside q_source_gini. Per-customer ln terms
    // quantize to nano before the one exact 128-bit Σr·ln r; the
    // between-group term is a double sum over the ≤ |nations| margin.
    QueryDef(
      "q_theil_index",
      (s, d) => {
        val cr = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("c"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
          .where(col("r") > 0)
        val cg = cr.join(
          Tables.customer(s, d).select(col("c_custkey").as("c"),
            col("c_nationkey").as("g")), "c")
        val tot = cg.agg(count(lit(1)).as("n"), sum("r").as("x"))
        val s1 = cg.select(col("r"),
            expr("CAST(round(1e9*ln(CAST(r AS DOUBLE))) AS BIGINT)").as("lnr"))
          .agg(sum(expr("CAST(r AS DECIMAL(38,0))*lnr")).as("srl"))
        val gr = cg.groupBy("g").agg(count(lit(1)).as("ng"), sum("r").as("xg"))
        val tb = gr.crossJoin(tot)
          .agg(sum(expr("""(CAST(xg AS DOUBLE)/x)
                          | * ln((CAST(xg AS DOUBLE)/x)
                          |   / (CAST(ng AS DOUBLE)/n))""".stripMargin)).as("bt"))
        tot.crossJoin(s1).crossJoin(tb)
          .select(col("n").as("n_customers"),
            expr("""CAST(round(1000000.0*(CAST(srl AS DOUBLE)/1e9/x
                   | + ln(CAST(n AS DOUBLE)/x))) AS BIGINT)""".stripMargin)
              .as("theil_micro"),
            expr("CAST(round(1000000.0*bt) AS BIGINT)").as("between_micro"),
            expr("""CAST(round(1000000.0*(CAST(srl AS DOUBLE)/1e9/x
                   | + ln(CAST(n AS DOUBLE)/x) - bt)) AS BIGINT)""".stripMargin)
              .as("within_micro"),
            expr("""CAST(round(1000000.0*bt/(CAST(srl AS DOUBLE)/1e9/x
                   | + ln(CAST(n AS DOUBLE)/x))) AS BIGINT)""".stripMargin)
              .as("between_share_micro"))
      },
      Some("""WITH cr AS (SELECT o_custkey AS c,
             |      sum(CAST(round(o_totalprice*100) AS BIGINT)) AS r
             |    FROM orders GROUP BY 1
             |    HAVING sum(CAST(round(o_totalprice*100) AS BIGINT)) > 0),
             |cg AS (SELECT cr.c, cr.r, c_nationkey AS g FROM cr
             |       JOIN customer ON c_custkey = cr.c),
             |tot AS (SELECT count(*) AS n, sum(r) AS x FROM cg),
             |rl AS (SELECT g, r, CAST(round(1e9*ln(CAST(r AS DOUBLE))) AS BIGINT) AS lnr
             |       FROM cg),
             |s1 AS (SELECT sum(CAST(r AS HUGEINT)*lnr) AS srl FROM rl),
             |gr AS (SELECT g, count(*) AS ng, sum(r) AS xg FROM cg GROUP BY 1),
             |tb AS (SELECT sum((CAST(xg AS DOUBLE)/(SELECT x FROM tot))
             |        * ln((CAST(xg AS DOUBLE)/(SELECT x FROM tot))
             |          / (CAST(ng AS DOUBLE)/(SELECT n FROM tot)))) AS bt FROM gr),
             |tt AS (SELECT CAST((SELECT srl FROM s1) AS DOUBLE)/1e9/(SELECT x FROM tot)
             |        + ln(CAST((SELECT n FROM tot) AS DOUBLE)/(SELECT x FROM tot)) AS t)
             |SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_customers,
             |  CAST(round(1000000.0*t) AS BIGINT) AS theil_micro,
             |  CAST(round(1000000.0*(SELECT bt FROM tb)) AS BIGINT) AS between_micro,
             |  CAST(round(1000000.0*(t - (SELECT bt FROM tb))) AS BIGINT) AS within_micro,
             |  CAST(round(1000000.0*(SELECT bt FROM tb)/t) AS BIGINT)
             |    AS between_share_micro
             |FROM tt""".stripMargin)),

    // ranking-stability gate — recompute the top-20 parts by revenue on
    // two deterministic md5 half-samples of ORDERS and measure agreement:
    // overlap@20, Jaccard, and Spearman's footrule over the common
    // members. The poor man's bootstrap for leaderboards: a dashboard
    // ranking that doesn't survive a half-sample split isn't a ranking,
    // it's noise — this gate says so BEFORE anyone acts on it. Two
    // grouped sums and two bounded 20-row TopKs; no corpus-scaled tail.
    QueryDef(
      "q_rank_stability",
      (s, d) => {
        val h = Tables.lineitem(s, d)
          .select(col("l_partkey"),
            (conv(substring(md5(concat(lit("rs:"),
              col("l_orderkey").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 2).as("half"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long").as("cents"))
        val g = h.groupBy("half", "l_partkey").agg(sum("cents").as("rev"))
        def topRanked(side: Int) = g.where(col("half") === side)
          .orderBy(col("rev").desc, col("l_partkey")).limit(20)
          .select(col("l_partkey"),
            row_number().over(Window.orderBy(col("rev").desc, col("l_partkey")))
              .cast("long").as(s"rk$side"))
        topRanked(0).join(topRanked(1), "l_partkey")
          .agg(count(lit(1)).as("overlap_at_20"),
            expr("CAST(count(1) * 1000000 div (40 - count(1)) AS BIGINT)")
              .as("jaccard_micro"),
            coalesce(sum(abs(col("rk0") - col("rk1"))), lit(0L)).as("footrule"))
      },
      Some("""WITH h AS (SELECT l_partkey,
             |      CAST(('0x' || substr(md5('rs:' || l_orderkey), 1, 12)) AS BIGINT) % 2
             |        AS half,
             |      CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT) AS cents
             |    FROM lineitem),
             |g AS (SELECT half, l_partkey, sum(cents) AS rev FROM h GROUP BY 1, 2),
             |ra AS (SELECT l_partkey, row_number() OVER (ORDER BY rev DESC, l_partkey)
             |         AS rk FROM g WHERE half = 0 ORDER BY rev DESC, l_partkey LIMIT 20),
             |rb AS (SELECT l_partkey, row_number() OVER (ORDER BY rev DESC, l_partkey)
             |         AS rk FROM g WHERE half = 1 ORDER BY rev DESC, l_partkey LIMIT 20),
             |j AS (SELECT ra.rk AS rka, rb.rk AS rkb FROM ra JOIN rb USING (l_partkey))
             |SELECT CAST(count(*) AS BIGINT) AS overlap_at_20,
             |  CAST(count(*) * 1000000 // (40 - count(*)) AS BIGINT) AS jaccard_micro,
             |  CAST(coalesce(sum(abs(rka - rkb)), 0) AS BIGINT) AS footrule
             |FROM j""".stripMargin)),

    // Simpson's-paradox detector — does the pooled revenue-over-time
    // trend point the same way as the per-nation trends? Slope SIGNS are
    // decided by the exact integer OLS numerator n·Σxy − Σx·Σy (no
    // division ever decides a direction); the paradox flag fires when
    // the pooled sign disagrees with the majority of group signs — the
    // aggregation artifact every dashboard drill-down should check
    // before narrating a trend. One grouped-moments pass over the
    // fact join; the group table is ≤ |nations|.
    QueryDef(
      "q_simpson_check",
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("g"),
            datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("x"),
            round(col("o_totalprice") * 100).cast("long").as("y"))
        def moments(df: org.apache.spark.sql.RelationalGroupedDataset) =
          df.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0))*x")).as("sxx"),
            sum(expr("CAST(x AS DECIMAL(38,0))*y")).as("sxy"))
        val sgnExpr = expr(
          """CASE WHEN CAST(n AS DECIMAL(38,0))*sxy - CAST(sx AS DECIMAL(38,0))*sy > 0 THEN 1
            | WHEN CAST(n AS DECIMAL(38,0))*sxy - CAST(sx AS DECIMAL(38,0))*sy < 0 THEN -1
            | ELSE 0 END""".stripMargin)
        val gs = moments(o.groupBy("g")).where(col("n") >= 3)
          .select(sgnExpr.as("sgn"))
        val ps = moments(o.groupBy())
          .select(sgnExpr.as("psgn"),
            expr("""CAST(round(1000000.0
                   | * CAST(CAST(n AS DECIMAL(38,0))*sxy - CAST(sx AS DECIMAL(38,0))*sy AS DOUBLE)
                   | / CAST(CAST(n AS DECIMAL(38,0))*sxx - CAST(sx AS DECIMAL(38,0))*sx AS DOUBLE))
                   | AS BIGINT)""".stripMargin).as("slope_micro"))
        gs.crossJoin(ps)
          .agg(max("slope_micro").as("pooled_slope_micro"),
            max("psgn").cast("long").as("pooled_sign"),
            count(lit(1)).as("n_groups"),
            sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos_groups"),
            sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg_groups"))
          .withColumn("paradox_flag",
            expr("""CAST(CASE WHEN pooled_sign = 1 AND n_neg_groups > n_pos_groups THEN 1
                   | WHEN pooled_sign = -1 AND n_pos_groups > n_neg_groups THEN 1
                   | ELSE 0 END AS BIGINT)""".stripMargin))
      },
      Some("""WITH o AS (SELECT c_nationkey AS g,
             |      date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
             |      CAST(round(o_totalprice*100) AS BIGINT) AS y
             |    FROM orders JOIN customer ON c_custkey = o_custkey),
             |gm AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |        sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(x AS HUGEINT)*y) AS sxy
             |      FROM o GROUP BY 1 HAVING count(*) >= 3),
             |gs AS (SELECT g,
             |        CASE WHEN CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy > 0 THEN 1
             |             WHEN CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy < 0 THEN -1
             |             ELSE 0 END AS sgn
             |      FROM gm),
             |pm AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |        sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(x AS HUGEINT)*y) AS sxy
             |      FROM o),
             |ps AS (SELECT
             |    CASE WHEN CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy > 0 THEN 1
             |         WHEN CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy < 0 THEN -1
             |         ELSE 0 END AS sgn,
             |    CAST(round(1000000.0
             |      * CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
             |      / CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE))
             |      AS BIGINT) AS slope_micro
             |  FROM pm)
             |SELECT CAST((SELECT slope_micro FROM ps) AS BIGINT) AS pooled_slope_micro,
             |  CAST((SELECT sgn FROM ps) AS BIGINT) AS pooled_sign,
             |  CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_groups,
             |  CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_groups,
             |  CAST(CASE WHEN (SELECT sgn FROM ps) = 1
             |         AND sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
             |           > sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) THEN 1
             |       WHEN (SELECT sgn FROM ps) = -1
             |         AND sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
             |           > sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) THEN 1
             |       ELSE 0 END AS BIGINT) AS paradox_flag
             |FROM gs""".stripMargin)),

    // newsvendor order quantity — the classic OR stocking rule: at
    // critical ratio 0.75 (underage 3× overage), stock the 75th
    // percentile of observed daily demand. Exact type-1 quantile per
    // part via the integer rank test 4·rk ≥ 3·n on the (part)-partitioned
    // demand ranks — no float quantile estimator, both engines agree by
    // construction. The empirical-quantile companion to q_safety_stock's
    // normal-theory z formula; reported for the top-10 volume parts, the
    // quantile machinery runs for all.
    QueryDef(
      "q_newsvendor",
      (s, d) => {
        val pd = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"), col("l_shipdate").as("d"))
          .agg(sum("l_quantity").cast("long").as("q"))
        val topp = pd.groupBy("l_partkey").agg(sum("q").as("tq"))
          .orderBy(col("tq").desc, col("l_partkey")).limit(10)
          .select("l_partkey")
        val r = pd.join(topp, "l_partkey")
          .select(col("l_partkey"), col("q"),
            row_number().over(Window.partitionBy("l_partkey")
              .orderBy("q", "d")).as("rk"),
            count(lit(1)).over(Window.partitionBy("l_partkey")).as("n"))
        val qs = r.groupBy("l_partkey")
          .agg(max("n").as("n_days"),
            min(when(expr("4*rk >= 3*n"), col("q"))).as("q_star"))
        val mn = pd.join(topp, "l_partkey")
          .groupBy("l_partkey")
          .agg(expr("sum(q) * 1000 div count(1)").as("mean_q_milli"))
        qs.join(mn, "l_partkey")
          .select(col("l_partkey"), col("n_days").cast("long").as("n_days"),
            col("q_star").as("q_star_75"),
            col("mean_q_milli").as("mean_daily_q_milli"))
          .orderBy("l_partkey")
      },
      Some("""WITH pd AS (SELECT l_partkey, l_shipdate AS d,
             |      CAST(sum(l_quantity) AS BIGINT) AS q
             |    FROM lineitem GROUP BY 1, 2),
             |topp AS (SELECT l_partkey FROM (
             |    SELECT l_partkey, sum(q) AS tq FROM pd GROUP BY 1
             |    ORDER BY tq DESC, l_partkey LIMIT 10)),
             |r AS (SELECT pd.l_partkey, q,
             |        row_number() OVER (PARTITION BY pd.l_partkey ORDER BY q, d) AS rk,
             |        count(*) OVER (PARTITION BY pd.l_partkey) AS n
             |      FROM pd JOIN topp USING (l_partkey)),
             |qs AS (SELECT l_partkey, max(n) AS n_days,
             |        min(CASE WHEN 4*rk >= 3*n THEN q END) AS q_star
             |      FROM r GROUP BY 1),
             |mn AS (SELECT pd.l_partkey, sum(q) * 1000 // count(*) AS mean_q_milli
             |       FROM pd JOIN topp USING (l_partkey) GROUP BY 1)
             |SELECT qs.l_partkey, CAST(n_days AS BIGINT) AS n_days,
             |  CAST(q_star AS BIGINT) AS q_star_75,
             |  CAST(mn.mean_q_milli AS BIGINT) AS mean_daily_q_milli
             |FROM qs JOIN mn USING (l_partkey) ORDER BY qs.l_partkey""".stripMargin)),

    // price-ending profile — the psychological-pricing audit: which
    // cents endings dominate order totals, and how far above the
    // uniform 1 % each sits. On synthetic TPC-H prices the honest
    // answer is "uniform within noise" — the gate exists so a pricing
    // engine that starts rounding to .99 shows up as drift. One
    // map-combined grouped count over the 100-value ending domain.
    QueryDef(
      "q_price_endings",
      (s, d) => {
        val c = Tables.orders(s, d)
          .select((round(col("o_totalprice") * 100).cast("long") % 100)
            .as("ending"))
        val n = c.agg(count(lit(1)).as("n"))
        c.groupBy("ending").agg(count(lit(1)).as("cnt"))
          .crossJoin(n)
          .select(col("ending"), col("cnt").as("n_orders"),
            expr("CAST(cnt * 1000000 div n AS BIGINT)").as("share_micro"),
            expr("CAST(cnt * 100000000 div n div 1000 AS BIGINT)")
              .as("lift_vs_uniform_milli"))
          .orderBy(col("n_orders").desc, col("ending"))
          .limit(10)
      },
      Some("""WITH c AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) % 100 AS ending
             |      FROM orders),
             |n AS (SELECT count(*) AS n FROM c),
             |g AS (SELECT ending, count(*) AS cnt FROM c GROUP BY 1)
             |SELECT ending, CAST(cnt AS BIGINT) AS n_orders,
             |  CAST(cnt * 1000000 // (SELECT n FROM n) AS BIGINT) AS share_micro,
             |  CAST(cnt * 100000000 // (SELECT n FROM n) // 1000 AS BIGINT)
             |    AS lift_vs_uniform_milli
             |FROM g ORDER BY cnt DESC, ending LIMIT 10""".stripMargin)),

    // join-cardinality estimation audit: the textbook optimizer
    // estimate |A⋈B| ≈ n_A·n_B / max(d_A, d_B) for orders⋈lineitem on
    // the order key, against the EXACT output size Σ_k c_A(k)·c_B(k) —
    // the number every cost-based planner bets its join order on, here
    // made inspectable (a ratio far from 1 on YOUR keys means the
    // uniform-frequency assumption is lying and broadcast/shuffle
    // decisions inherit the error). Exact side is one key-count join
    // (both sides pre-aggregated to skinny (key, count) tables, shuffle
    // ∝ distinct keys, never the raw rows); products widen through
    // DECIMAL(38,0).
    QueryDef(
      "q_join_size_est",
      (s, d) => {
        val a = Tables.orders(s, d).groupBy("o_orderkey")
          .agg(count(lit(1)).as("ca"))
        val b = Tables.lineitem(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(count(lit(1)).as("cb"))
        val sa = a.agg(sum("ca").as("na"), count(lit(1)).as("da"))
        val sb = b.agg(sum("cb").as("nb"), count(lit(1)).as("db"))
        val actual = a.join(b, "o_orderkey")
          .agg(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")).as("act"))
        sa.crossJoin(sb).crossJoin(actual)
          .select(col("na").cast("long").as("n_orders"),
            col("nb").cast("long").as("n_lineitems"),
            col("da").cast("long").as("d_orders"),
            col("db").cast("long").as("d_lineitem_keys"),
            expr("""CAST((CAST(na AS DECIMAL(38,0)) * nb)
                   |  div greatest(da, db) AS BIGINT)""".stripMargin).as("est_rows"),
            col("act").cast("long").as("actual_rows"),
            expr("""CAST((1000 * (CAST(na AS DECIMAL(38,0)) * nb)
                   |  div greatest(da, db)) div act AS BIGINT)""".stripMargin)
              .as("est_over_actual_milli"))
      },
      Some("""WITH a AS (SELECT o_orderkey, count(*) AS ca FROM orders GROUP BY 1),
             |b AS (SELECT l_orderkey AS o_orderkey, count(*) AS cb FROM lineitem GROUP BY 1),
             |sa AS (SELECT sum(ca) AS na, count(*) AS da FROM a),
             |sb AS (SELECT sum(cb) AS nb, count(*) AS db FROM b),
             |act AS (SELECT sum(CAST(ca AS HUGEINT) * cb) AS act
             |        FROM a JOIN b USING (o_orderkey))
             |SELECT CAST(na AS BIGINT) AS n_orders, CAST(nb AS BIGINT) AS n_lineitems,
             |  CAST(da AS BIGINT) AS d_orders, CAST(db AS BIGINT) AS d_lineitem_keys,
             |  CAST((CAST(na AS HUGEINT) * nb) // greatest(da, db) AS BIGINT) AS est_rows,
             |  CAST(act AS BIGINT) AS actual_rows,
             |  CAST((1000 * (CAST(na AS HUGEINT) * nb) // greatest(da, db)) // act AS BIGINT)
             |    AS est_over_actual_milli
             |FROM sa CROSS JOIN sb CROSS JOIN act""".stripMargin))
  )
}
