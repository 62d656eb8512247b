package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Adapted TPC-H decision-support suite — with Q1/Q3/Q5 in `Relational`,
  * all 22 query shapes are declared. The adaptations where the fixture
  * schema diverges from full TPC-H: correlated EXISTS with date arithmetic
  * (Q4), nation-pair self-join of a dimension (Q7), market-share ratio
  * over an 8-table join (Q8), profit rollup by nation-year (Q9, unit cost
  * adapted to a `p_retailprice` fraction — the fixture has no `partsupp`
  * — preserving the plan shape), top-N by aggregated revenue (Q10),
  * outer-join count distribution (Q13), conditional-ratio aggregate
  * (Q14), max-over-aggregated-view (Q15), correlated scalar average (Q17),
  * HAVING-driven semi-join (Q18), disjunctive pushdown (Q19), and
  * anti-join under a global scalar threshold (Q22).
  *
  * Q2/Q11/Q16/Q20 run over a DERIVED partsupp ([[derivedPartsupp]]): the
  * distinct (l_partkey, l_suppkey) pairs with an availability proxy
  * (total shipped quantity) and a unit-cost proxy (minimum observed
  * per-unit price, integer cents) — the same relation shape, derived
  * from the fact instead of loaded, so the four partsupp plan shapes
  * (correlated min join-back, value-share threshold, excluded-supplier
  * count-distinct, nested semi under a correlated quantity bound) are
  * exercised for real. Q12/Q21 adapt "late" — the fixtures have no
  * commit/receipt dates — to shipped >N days after the order date, and
  * Q12's ship-mode axis to `l_linestatus` (the categorical the schema
  * has).
  *
  * Determinism (FIXTURES.md): revenue terms `l_extendedprice*(1-l_discount)`
  * are per-row rounded to integer cents and summed as BIGINT — integer
  * addition is order-free, so Spark's partial-merge order and DuckDB's
  * sequential scan agree bit-for-bit. `l_quantity` is integral in the
  * corpus (verified), so quantity sums/averages are exact doubles.
  */
object TpchSuite {

  /** Per-row exact cents of the discounted price — the only order-free
    * way to aggregate a product of doubles across two engines. */
  private def revCents(price: String = "l_extendedprice",
      disc: String = "l_discount") =
    expr(s"CAST(round($price * (1 - $disc) * 100) AS BIGINT)")

  private val revCentsSql =
    "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"

  /** Derived partsupp for Q2/Q11/Q16/Q20: the distinct part-supplier
    * relationships observed in the fact, with `ps_availqty` = total
    * shipped quantity (BIGINT — order-free sum) and `ps_supplycost_c` =
    * minimum observed unit price in integer cents (per-row round, then
    * BIGINT min — both order-free, so Spark's partial-merge order and
    * DuckDB's scan agree bit-for-bit). One shuffle on the composite key;
    * at scale this is the same aggregation any partsupp-less warehouse
    * uses to reconstruct the relationship table. */
  private def derivedPartsupp(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(
        sum(col("l_quantity").cast("long")).as("ps_availqty"),
        min(expr("CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)"))
          .as("ps_supplycost_c"))

  private val derivedPartsuppSql =
    """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty,
      |  CAST(min(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS ps_supplycost_c
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Q4: order-priority checking. "Late line" = shipped >60 days after
    // the order date (the fixtures lack commit/receipt dates, so the
    // correlated predicate compares the two dates we do have). EXISTS →
    // left-semi join; the date arithmetic stays on the probe side so the
    // join is a plain equi-join on orderkey.
    QueryDef(
      "q_tpch_q4",
      (s, d) => {
        val o = Tables.orders(s, d)
          .where(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
        val late = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.join(late,
            o("o_orderkey") === late("l_orderkey") &&
              late("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders o
             |WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-04-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND CAST(l.l_shipdate AS TIMESTAMP)
             |                    > CAST(o.o_orderdate AS TIMESTAMP) + INTERVAL 60 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q6: forecasting revenue change — the pure scan shape: three range
    // predicates that must ALL reach the parquet scan as pushed filters,
    // then a single partial-aggregated sum. No join, no shuffle beyond
    // the 1-row final merge.
    QueryDef(
      "q_tpch_q6",
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(expr("CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)"))
          .as("revenue_c"), count(lit(1)).as("n_lines")),
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
             |    AS revenue_c,
             |  count(*) AS n_lines
             |FROM lineitem
             |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // Q7: volume shipping between two nations, by direction and ship year.
    // The 25-row nation dim joins twice (supplier side, customer side) —
    // both broadcast; the nation-pair filter prunes before the fact
    // shuffle. One orderkey shuffle joins the two fact legs.
    QueryDef(
      "q_tpch_q7",
      (s, d) => {
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        // superset pre-filters: the OR pair condition spans both legs so
        // Catalyst can't split it — prune each leg to the two nations
        // before the fact shuffle, apply the exact pairing after
        val supp = Tables.supplier(s, d).join(broadcast(n1),
          col("s_nationkey") === col("s_nk")).select("s_suppkey", "supp_nation")
          .where(col("supp_nation").isin("NATION_18", "NATION_19"))
        val cust = Tables.customer(s, d).join(broadcast(n2),
          col("c_nationkey") === col("c_nk")).select("c_custkey", "cust_nation")
          .where(col("cust_nation").isin("NATION_18", "NATION_19"))
        Tables.lineitem(s, d)
          .where(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
          .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).as("l_year"),
            revCents().as("cents"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .where((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
            (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(sum("cents").as("revenue_c"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT supp_nation, cust_nation, l_year, CAST(sum(cents) AS BIGINT) AS revenue_c
             |FROM (
             |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |    CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS INT) AS l_year,
             |    $revCentsSql AS cents
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01 00:00:00'
             |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '2000-01-01 00:00:00'
             |    AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
             |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')))
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Q8 national market share: the widest join in the suite (lineitem ×
    // orders × part × customer × supplier, nation/region pre-folded onto
    // the dimension legs as broadcasts). The share is a ratio of two
    // exact BIGINT cent sums — one IEEE division of integers, identical
    // in both engines. Dimension legs filter BEFORE the fact shuffle
    // (region prune on customers, type prune on parts); the fact join
    // order follows selectivity so AQE sizes each exchange off a
    // pre-pruned side.
    QueryDef(
      "q_tpch_q8",
      (s, d) => {
        val nations = Tables.nation(s, d)
        val custEur = Tables.customer(s, d)
          .join(broadcast(nations
            .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))),
            col("c_nationkey") === col("c_nk"))
          .join(Tables.region(s, d)
            .where(col("r_name") === "EUROPE").select("r_regionkey"),
            col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey")
        val suppN = Tables.supplier(s, d)
          .join(broadcast(nations
            .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))),
            col("s_nationkey") === col("s_nk"))
          .select("s_suppkey", "nation")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            revCents().as("cents"))
          .join(Tables.part(s, d).where(col("p_type") === "ECONOMY")
            .select("p_partkey"), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d)
            .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") <= lit("1997-12-31 00:00:00").cast("timestamp"))
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .join(custEur, col("o_custkey") === col("c_custkey"))
          .join(suppN, col("l_suppkey") === col("s_suppkey"))
          .groupBy("o_year")
          .agg(round(
            sum(when(col("nation") === "NATION_7", col("cents")).otherwise(0L))
              .cast("double") / sum("cents").cast("double"), 6).as("mkt_share"))
          .orderBy("o_year")
      },
      Some(s"""SELECT o_year,
             |  round(CAST(sum(CASE WHEN nation = 'NATION_7' THEN cents ELSE 0 END) AS DOUBLE)
             |    / CAST(sum(cents) AS DOUBLE), 6) AS mkt_share
             |FROM (
             |  SELECT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS INT) AS o_year,
             |    $revCentsSql AS cents, n2.n_name AS nation
             |  FROM lineitem
             |  JOIN part ON p_partkey = l_partkey
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |  JOIN region ON n1.n_regionkey = r_regionkey
             |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
             |  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
             |    AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND CAST(o_orderdate AS TIMESTAMP) <= TIMESTAMP '1997-12-31 00:00:00')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q9 product-type profit: the fixture has no partsupp, so unit cost
    // adapts to 60% of p_retailprice (integer cents — order-free), which
    // preserves Q9's plan shape: a 5-way fact join rolled up by supplier
    // nation × order year. Part filter adapts LIKE '%green%' to the
    // PROMO type bucket.
    QueryDef(
      "q_tpch_q9",
      (s, d) => {
        val suppN = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))),
            col("s_nationkey") === col("s_nk"))
          .select("s_suppkey", "nation")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), revCents().as("rev_c"))
          .join(Tables.part(s, d).where(col("p_type") === "PROMO")
            .select("p_partkey", "p_retailprice"),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .join(suppN, col("l_suppkey") === col("s_suppkey"))
          .withColumn("profit_c", col("rev_c") -
            expr("CAST(round(p_retailprice * 60) AS BIGINT) * CAST(l_quantity AS BIGINT)"))
          .groupBy("nation", "o_year")
          .agg(sum("profit_c").as("profit_c"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""SELECT nation, o_year, CAST(sum(profit_c) AS BIGINT) AS profit_c
             |FROM (
             |  SELECT n_name AS nation,
             |    CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS INT) AS o_year,
             |    $revCentsSql
             |      - CAST(round(p_retailprice * 60) AS BIGINT) * CAST(l_quantity AS BIGINT)
             |      AS profit_c
             |  FROM lineitem
             |  JOIN part ON p_partkey = l_partkey
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  WHERE p_type = 'PROMO')
             |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),

    // Q10: returned-item reporting — top 20 customers by revenue lost to
    // returns in a quarter. Fact-fact shuffle on orderkey, customer join,
    // broadcast nation, then TakeOrderedAndProject (no global sort).
    QueryDef(
      "q_tpch_q10",
      (s, d) => {
        val o = Tables.orders(s, d)
          .where(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        Tables.lineitem(s, d)
          .where(col("l_returnflag") === "R")
          .select(col("l_orderkey"), revCents().as("cents"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum("cents").as("revenue_c"))
          .orderBy(col("revenue_c").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name, CAST(sum($revCentsSql) AS BIGINT) AS revenue_c
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-04-01 00:00:00'
             |GROUP BY 1, 2, 3 ORDER BY revenue_c DESC, c_custkey LIMIT 20""".stripMargin)),

    // Q13: customer order-count distribution. LEFT OUTER join (customers
    // with zero qualifying orders must survive as count 0), then a second
    // aggregation over the first — two shuffles by construction, the
    // second over at most |distinct counts| rows.
    QueryDef(
      "q_tpch_q13",
      (s, d) => {
        val o = Tables.orders(s, d)
          .where(col("o_orderpriority") =!= "5-LOW")
          .select("o_orderkey", "o_custkey")
        Tables.customer(s, d).select("c_custkey")
          .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist
             |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             |      FROM customer LEFT OUTER JOIN orders
             |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
             |      GROUP BY 1)
             |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q14: promo-revenue share for one ship month. Two integer-cents sums
    // in one pass (conditional aggregation), ratio taken once at the end —
    // a single scan, a single 1-row result.
    QueryDef(
      "q_tpch_q14",
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1998-03-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1998-04-01 00:00:00").cast("timestamp"))
        .join(Tables.part(s, d).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", revCents()).otherwise(lit(0L)))
            .as("promo_c"),
          sum(revCents()).as("total_c"))
        .select(col("promo_c"), col("total_c"),
          round(lit(100.0) * col("promo_c") / col("total_c"), 4).as("promo_pct")),
      Some(s"""SELECT promo_c, total_c, round(100.0 * promo_c / total_c, 4) AS promo_pct
             |FROM (SELECT
             |    CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revCentsSql ELSE 0 END) AS BIGINT) AS promo_c,
             |    CAST(sum($revCentsSql) AS BIGINT) AS total_c
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1998-03-01 00:00:00'
             |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-04-01 00:00:00')""".stripMargin)),

    // Q15: top supplier(s) by quarterly revenue. The revenue view
    // aggregates once; the global max is a second 1-row aggregate joined
    // back by exact equality (cents are integers, so equality is sound).
    // Two passes — NOT a single-partition window over every supplier,
    // which would serialize at real supplier cardinality.
    QueryDef(
      "q_tpch_q15",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .where(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-04-01 00:00:00").cast("timestamp"))
          .groupBy("l_suppkey")
          .agg(sum(revCents()).as("total_revenue_c"))
        val mx = rev.agg(max("total_revenue_c").as("mx"))
        rev.join(mx, col("total_revenue_c") === col("mx"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select("s_suppkey", "s_name", "total_revenue_c")
          .orderBy("s_suppkey")
      },
      Some(s"""WITH rev AS (
             |  SELECT l_suppkey, CAST(sum($revCentsSql) AS BIGINT) AS total_revenue_c
             |  FROM lineitem
             |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01 00:00:00'
             |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-04-01 00:00:00'
             |  GROUP BY 1)
             |SELECT s_suppkey, s_name, total_revenue_c
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_revenue_c = (SELECT max(total_revenue_c) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    // Q17: small-quantity-order revenue. Correlated scalar average →
    // per-part aggregate joined back to the fact (Catalyst's decorrelation
    // does the same). Quantities are integral so the 0.5·avg threshold is
    // bit-identical across engines.
    QueryDef(
      "q_tpch_q17",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val partSel = Tables.part(s, d)
          .where(col("p_brand") === "Brand#4" && col("p_size") < 10)
          .select("p_partkey")
        val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
          .agg(avg("l_quantity").as("avg_qty"))
        li.select(col("l_partkey"), col("l_quantity"), revCents().as("cents"))
          .join(partSel, col("l_partkey") === col("p_partkey"))
          .join(avgQty, col("l_partkey") === col("ap_partkey"))
          .where(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg(count(lit(1)).as("n_lines"), sum("cents").as("revenue_c"))
      },
      Some(s"""SELECT count(*) AS n_lines, CAST(sum($revCentsSql) AS BIGINT) AS revenue_c
             |FROM lineitem l JOIN part ON l_partkey = p_partkey
             |WHERE p_brand = 'Brand#4' AND p_size < 10
             |  AND l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
             |                          WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),

    // Q18: large-volume customers. HAVING over the fact aggregate first
    // (cheapest reduction), then joins to orders/customer only for the
    // surviving keys; top 100 via TakeOrderedAndProject.
    QueryDef(
      "q_tpch_q18",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sum_qty"))
          .where(col("sum_qty") > 300)
        big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate"), col("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_custkey, c_name, o_orderkey,
             |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, sum_qty
             |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
             |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin)),

    // Q19: disjunctive revenue — OR of three (brand, size, quantity)
    // conjunctions. The whole disjunction evaluates against the joined
    // row; brand/size legs push into the part scan, quantity legs into
    // the lineitem scan as a superset OR-filter.
    QueryDef(
      "q_tpch_q19",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), revCents().as("cents"))
        .join(Tables.part(s, d).select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(count(lit(1)).as("n_lines"), sum("cents").as("revenue_c")),
      Some(s"""SELECT count(*) AS n_lines, CAST(sum($revCentsSql) AS BIGINT) AS revenue_c
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
             |       AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
             |       AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
             |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // Q22: global-acctbal threshold + anti-join. The positive-balance
    // average is one broadcast scalar; the NOT EXISTS is a left-anti join
    // on custkey ("lapsed" = no order since 2000 — every fixture customer
    // has SOME order, so the unscoped form is empty). Integer-cents
    // convention throughout: balances quantized per row to BIGINT cents,
    // summed exactly, and the "above average" test is the exact rational
    // comparison cents*n > sum(cents) — no double ever enters an
    // aggregation, so no partial-agg merge order can flip a boundary row
    // between engines.
    QueryDef(
      "q_tpch_q22",
      (s, d) => {
        val c = Tables.customer(s, d)
          .withColumn("cents", round(col("c_acctbal") * 100, 0).cast("long"))
        val thr = c.where(col("cents") > 0)
          .agg(sum("cents").as("s"), count(lit(1)).as("n"))
        c.crossJoin(thr).where(col("cents") * col("n") > col("s"))
          .join(Tables.orders(s, d)
              .where(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp"))
              .select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"),
            sum("cents").as("totacctbal_c"))
          .orderBy("c_nationkey")
      },
      Some("""WITH c2 AS (SELECT *, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
             |            FROM customer),
             |t AS (SELECT CAST(sum(cents) AS BIGINT) AS s, count(*) AS n
             |      FROM c2 WHERE cents > 0)
             |SELECT c_nationkey, count(*) AS numcust,
             |  CAST(sum(cents) AS BIGINT) AS totacctbal_c
             |FROM c2, t
             |WHERE cents * n > s
             |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c2.c_custkey
             |    AND CAST(o.o_orderdate AS TIMESTAMP) >= TIMESTAMP '2000-01-01 00:00:00')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q2: minimum-cost supplier per part. The correlated min subquery
    // decorrelates to a per-part aggregate of the EUROPE-restricted
    // derived partsupp, joined back on exact (part, cost) equality —
    // sound because costs are integer cents. Dimension legs (supplier →
    // nation → region, part filter) are broadcasts; the only fact-sized
    // shuffles are the partsupp derivation and the per-part min.
    QueryDef(
      "q_tpch_q2",
      (s, d) => {
        // ONE pass over lineitem: both the part predicate and the
        // Europe supplier set are broadcast semi-joins BELOW the big
        // aggregation (the correlated "min cost for this part" then
        // falls out of a per-part window over the already-aggregated
        // rows — valid because the part filter drops whole partkeys,
        // never individual supplier rows of a kept part). The naive
        // translation aggregates all of lineitem twice, once for the
        // subquery and once for the outer block.
        val eur = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_acctbal", "s_name", "n_name")
        val ps = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
              .where(col("p_size") < 10 && col("p_type") === "LARGE")
              .select("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .join(broadcast(eur.select("s_suppkey")),
            col("l_suppkey") === col("s_suppkey"), "left_semi")
          .groupBy(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .agg(min(expr("CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)"))
            .as("ps_supplycost_c"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("ps_partkey")
        ps.withColumn("min_cost_c", min("ps_supplycost_c").over(w))
          .where(col("ps_supplycost_c") === col("min_cost_c"))
          .join(broadcast(eur), col("ps_suppkey") === col("s_suppkey"))
          .select("s_acctbal", "s_name", "n_name", "ps_partkey", "ps_supplycost_c")
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("ps_partkey"))
          .limit(100)
      },
      Some(s"""WITH ps AS ($derivedPartsuppSql),
             |eur AS (
             |  SELECT s_suppkey, s_acctbal, s_name, n_name FROM supplier
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE')
             |SELECT s_acctbal, s_name, n_name, ps_partkey, ps_supplycost_c
             |FROM ps JOIN eur ON ps_suppkey = s_suppkey
             |JOIN part ON p_partkey = ps_partkey AND p_size < 10 AND p_type = 'LARGE'
             |WHERE ps_supplycost_c = (
             |  SELECT min(ps2.ps_supplycost_c)
             |  FROM ps ps2 JOIN eur e2 ON ps2.ps_suppkey = e2.s_suppkey
             |  WHERE ps2.ps_partkey = ps.ps_partkey)
             |ORDER BY s_acctbal DESC, n_name, s_name, ps_partkey LIMIT 100""".stripMargin)),

    // Q11: important stock — parts whose value share within one nation
    // exceeds 1/500 of the nation total. The global total is a 1-row
    // broadcast; the share test is the exact integer cross-multiplication
    // value·500 > total (no double division, so no boundary-row flake).
    QueryDef(
      "q_tpch_q11",
      (s, d) => {
        val natSupp = Tables.supplier(s, d)
          .join(Tables.nation(s, d).where(col("n_name") === "NATION_3"),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")
        val value = derivedPartsupp(s, d)
          .join(natSupp, col("ps_suppkey") === col("s_suppkey"), "left_semi")
          .groupBy("ps_partkey")
          .agg(sum(col("ps_supplycost_c") * col("ps_availqty")).as("value_c"))
        val total = value.agg(sum("value_c").as("total_c"))
        value.crossJoin(total)
          .where(col("value_c") * 500 > col("total_c"))
          .select("ps_partkey", "value_c")
          .orderBy(col("value_c").desc, col("ps_partkey"))
      },
      Some(s"""WITH ps AS ($derivedPartsuppSql),
             |natps AS (
             |  SELECT ps_partkey, ps_supplycost_c * ps_availqty AS value_c
             |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3')
             |SELECT ps_partkey, CAST(sum(value_c) AS BIGINT) AS value_c
             |FROM natps GROUP BY 1
             |HAVING sum(value_c) * 500 > (SELECT sum(value_c) FROM natps)
             |ORDER BY value_c DESC, ps_partkey""".stripMargin)),

    // Q12: late-shipment priority counting. The ship-mode axis adapts to
    // l_linestatus; "late" adapts to shipped >60 days after the order
    // date (no commit/receipt dates in the fixture). The date range is a
    // pushed lineitem filter; the lateness predicate is a residual on the
    // orderkey equi-join; one conditional aggregation finishes it.
    QueryDef(
      "q_tpch_q12",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .where(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1999-01-01 00:00:00").cast("timestamp"))
          .select("l_orderkey", "l_linestatus", "l_shipdate")
        li.join(Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy("l_linestatus")
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("low_line_count"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE CAST(l_shipdate AS TIMESTAMP)
             |    > CAST(o_orderdate AS TIMESTAMP) + INTERVAL 60 DAY
             |  AND CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01 00:00:00'
             |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1999-01-01 00:00:00'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q16: supplier-relationship counting with an exclusion list. The
    // derived partsupp joins a broadcast part filter; excluded suppliers
    // (negative balance — the fixture has no comment text) drop via a
    // broadcast anti-join BEFORE the count-distinct shuffle.
    QueryDef(
      "q_tpch_q16",
      (s, d) => {
        val excluded = Tables.supplier(s, d)
          .where(col("s_acctbal") < 0).select("s_suppkey")
        derivedPartsupp(s, d)
          .join(broadcast(Tables.part(s, d)
              .where(col("p_brand") =!= "Brand#4" && col("p_type") =!= "PROMO" &&
                col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
              .select("p_partkey", "p_brand", "p_type", "p_size")),
            col("ps_partkey") === col("p_partkey"))
          .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      },
      Some(s"""WITH ps AS ($derivedPartsuppSql)
             |SELECT p_brand, p_type, p_size,
             |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
             |FROM ps JOIN part ON p_partkey = ps_partkey
             |WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
             |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
             |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q20: excess-inventory suppliers. "Available" adapts to the 1996
    // shipped quantity, the demand bound to half the 1997 quantity for
    // the same (part, supplier): an exact integer cross-multiplication
    // 2·q96 > q97 over two year-sliced aggregates equi-joined on the
    // composite key. Qualifying supplier keys reach the EUROPE supplier
    // dim as a semi-join — the dim never fans out.
    QueryDef(
      "q_tpch_q20",
      (s, d) => {
        def yearQty(y0: String, y1: String, qn: String) = Tables.lineitem(s, d)
          .where(col("l_shipdate") >= lit(y0).cast("timestamp") &&
            col("l_shipdate") < lit(y1).cast("timestamp"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(sum(col("l_quantity").cast("long")).as(qn))
        val q96 = yearQty("1996-01-01 00:00:00", "1997-01-01 00:00:00", "q96")
        val q97 = yearQty("1997-01-01 00:00:00", "1998-01-01 00:00:00", "q97")
          .withColumnsRenamed(Map("l_partkey" -> "p2", "l_suppkey" -> "s2"))
        val qual = q96
          .join(q97, col("l_partkey") === col("p2") && col("l_suppkey") === col("s2"))
          .join(broadcast(Tables.part(s, d).where(col("p_type") === "SMALL")
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
          .where(col("q96") * 2 > col("q97"))
          .select("l_suppkey")
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_name", "s_acctbal")
          .orderBy("s_name")
      },
      Some("""WITH q96 AS (
             |  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
             |  FROM lineitem
             |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-01-01 00:00:00'
             |  GROUP BY 1, 2),
             |q97 AS (
             |  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
             |  FROM lineitem
             |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01 00:00:00'
             |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01 00:00:00'
             |  GROUP BY 1, 2)
             |SELECT s_name, s_acctbal FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
             |WHERE s_suppkey IN (
             |  SELECT q96.l_suppkey
             |  FROM q96 JOIN q97 ON q96.l_partkey = q97.l_partkey AND q96.l_suppkey = q97.l_suppkey
             |  JOIN part ON p_partkey = q96.l_partkey AND p_type = 'SMALL'
             |  WHERE 2 * q96.q > q97.q)
             |ORDER BY s_name""".stripMargin)),

    // Q21: suppliers who kept orders waiting — the only supplier late on
    // a multi-supplier order. The textbook form is two correlated EXISTS
    // against the fact (two extra fact self-joins); here both collapse
    // into ONE per-order aggregate — distinct suppliers and distinct LATE
    // suppliers — and the pair of subqueries becomes the predicate
    // nsupp ≥ 2 ∧ nlate = 1 on a single orderkey equi-join (the waiting
    // line's supplier is late, so it is the one late supplier exactly
    // when no OTHER supplier is late). One agg shuffle + one join instead
    // of three fact shuffles; the oracle keeps the literal EXISTS form to
    // pin the equivalence. "Late" adapts to shipped >90 days after the
    // order date.
    QueryDef(
      "q_tpch_q21",
      (s, d) => {
        val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
        val fLines = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(Tables.orders(s, d).where(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
        val ordStats = fLines
          .groupBy(col("l_orderkey").as("g_orderkey"))
          .agg(
            countDistinct("l_suppkey").as("nsupp"),
            countDistinct(when(late, col("l_suppkey"))).as("nlate"))
        fLines.where(late)
          .join(Tables.supplier(s, d)
              .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
              .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
                col("n_regionkey") === col("r_regionkey"))
              .select("s_suppkey", "s_name"),
            col("l_suppkey") === col("s_suppkey"))
          .join(ordStats, col("l_orderkey") === col("g_orderkey"))
          .where(col("nsupp") >= 2 && col("nlate") === 1)
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some("""SELECT s_name, count(*) AS numwait
             |FROM lineitem l1
             |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
             |JOIN supplier ON s_suppkey = l1.l_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
             |WHERE CAST(l1.l_shipdate AS TIMESTAMP)
             |    > CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |      AND CAST(l3.l_shipdate AS TIMESTAMP)
             |          > CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 DAY)
             |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),

    // Q5: local-supplier volume — revenue from lineitems where the
    // customer and the supplier sit in the SAME nation, by nation, one
    // order year. The classic 6-way snowflake join: lineitem drives,
    // orders filters the year, customer/supplier bring their nation
    // keys (the equality c_nationkey = s_nationkey IS the query), and
    // the nation/region dims broadcast. Completes the suite's TPC-H
    // coverage (Q1-Q22 minus the ones the fixture's columns cannot
    // express). Revenue in exact integer cents.
    QueryDef(
      "q_tpch_q5",
      (s, d) => {
        val o = Tables.orders(s, d)
          .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), revCents().as("cents"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum("cents").as("revenue_c"))
          .orderBy(col("revenue_c").desc, col("n_name"))
      },
      Some(s"""SELECT n_name, CAST(sum($revCentsSql) AS BIGINT) AS revenue_c
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY 1 ORDER BY revenue_c DESC, n_name""".stripMargin))
  )
}
