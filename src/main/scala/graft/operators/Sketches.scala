package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.SketchProbe
import org.apache.spark.sql.functions._

/** Approximate-sketch accuracy gates. A sketch's VALUE is engine-specific
  * (DuckDB cannot replay HLL++ registers or a CMS binary), but its error
  * GUARANTEE is checkable: compute estimate and exact in the same query
  * and emit the bound-check as a boolean next to the exact value. The
  * oracle recomputes the exact side and expects `true` — if the sketch
  * ever drifts out of its contract, the row hash breaks and the driver's
  * gate goes red. Same pattern as `q_minhash_est` (DedupOps).
  *
  * All three sketches are merge-order-independent, which is what makes
  * the booleans stable under Spark's nondeterministic partial-agg order:
  * HLL++ merges by register-max, CMS by counter-addition (both exactly
  * commutative), and percentile_approx's rank error ≤ 1/accuracy holds
  * for ANY merge order — the gates assert the contract, not one ordering.
  *
  * At 100 TB these are the operators that replace their exact siblings
  * (`q_distinct_agg`, `q_percentiles`, `q_topk_groups`): one pass, fixed
  * memory, no giant shuffle.
  */
object Sketches {

  /** DuckDB horner-expansion of `conv(substr(md5(expr),1,12),16,10)` —
    * 12 hex chars = 48 bits, the KMV hash width. */
  private def hex12Sql(expr: String): String =
    (0 until 12).map(i =>
      s"(instr('0123456789abcdef', substr(md5($expr),${1 + i},1))-1)*${math.pow(16, 11 - i).toLong}")
      .mkString(" + ")

  val defs: Seq[QueryDef] = Seq(

    // KMV (K-minimum-values) distinct-count sketch, k = 256 — the
    // distinct sketch that, unlike HLL (q_hll_gate is spec-bounded
    // because registers are engine-private), is EXACTLY oracle-able:
    // the k smallest 48-bit md5 hashes are a deterministic set in both
    // engines, and the estimator (k−1)·2⁴⁸ div h₍ₖ₎ is one integer
    // division. The plan is the sketch's own story at scale: a
    // map-combined distinct, then a TakeOrdered of 256 skinny hashes —
    // no giant shuffle, fixed memory. When the true cardinality is
    // below k the sketch is exact by definition (the CASE arm).
    QueryDef(
      "q_kmv_distinct",
      (s, d) => {
        val h = Tables.events(s, d).select(col("user_id")).distinct()
          .select(conv(substring(md5(col("user_id").cast("string")), 1, 12),
            16, 10).cast("long").as("h"))
        val kmin = h.orderBy("h").limit(256)
        val hk = kmin.agg(max("h").as("hk"), count(lit(1)).as("kk"))
        val exact = h.agg(count(lit(1)).as("exact"))
        hk.crossJoin(exact)
          .select(col("exact").cast("long").as("exact_distinct"),
            col("kk").cast("long").as("k_used"),
            expr("""CAST(CASE WHEN kk < 256 THEN exact
                   |ELSE (255 * 281474976710656) div hk END AS BIGINT)"""
              .stripMargin).as("kmv_estimate"),
            expr("""CAST(CASE WHEN kk < 256 THEN 1000
                   |ELSE (1000 * ((255 * 281474976710656) div hk)) div exact
                   |END AS BIGINT)""".stripMargin).as("est_over_exact_milli"))
      },
      Some(s"""WITH u AS (SELECT DISTINCT user_id FROM events),
             |h AS (SELECT ${hex12Sql("CAST(user_id AS VARCHAR)")} AS h FROM u),
             |kmin AS (SELECT h FROM h ORDER BY h LIMIT 256),
             |a AS (SELECT max(h) AS hk, count(*) AS kk FROM kmin),
             |e AS (SELECT count(*) AS exact FROM h)
             |SELECT CAST(exact AS BIGINT) AS exact_distinct,
             |  CAST(kk AS BIGINT) AS k_used,
             |  CAST(CASE WHEN kk < 256 THEN exact
             |    ELSE (255 * 281474976710656) // hk END AS BIGINT) AS kmv_estimate,
             |  CAST(CASE WHEN kk < 256 THEN 1000
             |    ELSE (1000 * ((255 * 281474976710656) // hk)) // exact
             |  END AS BIGINT) AS est_over_exact_milli
             |FROM a CROSS JOIN e""".stripMargin)),

    // HyperLogLog++ distinct-count gate: |est − exact| ≤ 5·rsd·exact per
    // group (rsd = 0.02 → the bound is ±10% = 5σ — deterministic data +
    // deterministic registers keep the margin fixed, verified at every
    // fixture sf).
    QueryDef(
      "q_hll_gate",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_n"),
          approx_count_distinct(col("user_id"), 0.02).as("est"))
        .select(col("event_type"), col("exact_n"),
          (abs(col("est") - col("exact_n")) <=
            lit(0.10) * col("exact_n")).as("within_bound"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
             |  true AS within_bound
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // count-min-sketch heavy-hitter gate: for the exact top-10 keys, the
    // sketch estimate must sit in [exact, exact + ε·N] (one-sided
    // overcount is the CMS contract; ε = 0.001, depth from confidence
    // 0.999, seed pinned). The probe runs distributed through the native
    // cms_estimate expression — no driver-side sketch collect.
    QueryDef(
      "q_cms_topk",
      (s, d) => {
        val ev = Tables.events(s, d)
        val sk = ev.agg(
          expr("count_min_sketch(user_id, 0.001d, 0.999d, 42)").as("sk"),
          count(lit(1)).as("total"))
        val top = ev.groupBy("user_id")
          .agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("user_id"))
          .limit(10)
        top.crossJoin(sk)
          .select(col("user_id"), col("exact_n"),
            SketchProbe.cmsEstimate(col("sk"), col("user_id")).as("est"),
            col("total"))
          .select(col("user_id"), col("exact_n"),
            (col("est") >= col("exact_n")).as("no_undercount"),
            (col("est") <= col("exact_n") +
              ceil(lit(0.001) * col("total"))).as("within_eps"))
          .orderBy(col("exact_n").desc, col("user_id"))
      },
      Some("""SELECT user_id, exact_n, true AS no_undercount, true AS within_eps
             |FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
             |      FROM events GROUP BY 1
             |      ORDER BY exact_n DESC, user_id LIMIT 10)
             |ORDER BY exact_n DESC, user_id""".stripMargin)),

    // sketch REAGGREGATION gate — the pattern that matters at 100 TB:
    // per-segment DataSketches HLL sketches (in production, stored in a
    // rollup table) union into a global distinct estimate WITHOUT
    // touching raw data again. Register-max union is commutative, so the
    // estimate is stable under any merge order; the gate bounds it
    // against the exact global distinct (±10% at lgK=12 ≈ 6σ).
    QueryDef(
      "q_hll_union_gate",
      (s, d) => {
        val ev = Tables.events(s, d)
        val perSegment = ev.groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = perSegment
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = ev.agg(countDistinct(col("user_id")).as("exact_n"))
        exact.crossJoin(merged)
          .select(col("exact_n"),
            (abs(col("est") - col("exact_n")) <=
              lit(0.10) * col("exact_n")).as("within_bound"))
      },
      Some("""SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
             |  true AS within_bound
             |FROM events""".stripMargin)),

    // Space-Saving heavy-hitter gate (the streaming summary run in batch
    // mode, same pattern as q_sessionize_custom): for every item whose
    // true frequency exceeds N/capacity, the Metwally guarantee says the
    // summary MUST monitor it with exact_n ≤ est ≤ exact_n + err. The
    // estimates themselves are fold-order-dependent (not emitted); the
    // guarantees are not — the oracle recomputes the exact heavy set and
    // expects all three booleans true.
    QueryDef(
      "q_ss_topk",
      (s, d) => {
        import s.implicits._
        val capacity = 128
        val items = Tables.events(s, d)
          .select(col("event_type").as("group"), col("user_id").as("item"))
          .as[graft.streaming.TopK.Item]
        val summary = graft.streaming.TopK.heavyHitters(items, capacity).toDF()
        val exact = Tables.events(s, d)
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("exact_n"))
        val totals = Tables.events(s, d)
          .groupBy("event_type").agg(count(lit(1)).as("n_group"))
        exact.join(totals, "event_type")
          .where(col("exact_n") > col("n_group") / capacity.toDouble)
          .join(summary,
            col("event_type") === col("group") && col("user_id") === col("item"),
            "left")
          .select(col("event_type"), col("user_id"), col("exact_n"),
            col("est").isNotNull.as("monitored"),
            (col("est") >= col("exact_n")).as("no_undercount"),
            (col("est") - col("err") <= col("exact_n")).as("within_err"))
          .orderBy("event_type", "user_id")
      },
      Some("""WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS exact_n
             |          FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type, count(*) AS n_group FROM events GROUP BY 1)
             |SELECT c.event_type, c.user_id, c.exact_n,
             |  true AS monitored, true AS no_undercount, true AS within_err
             |FROM c JOIN t ON c.event_type = t.event_type
             |WHERE c.exact_n > t.n_group / 128.0
             |ORDER BY 1, 2""".stripMargin)),

    // approx-quantile gate: percentile_approx(accuracy = 10⁴) guarantees
    // rank error ≤ 1/accuracy = 10⁻⁴; the gate grants ±0.005 quantile
    // slack (50× the contract) by bracketing each estimate between the
    // EXACT quantiles at q ∓ 0.005 — both engines compute the exact
    // brackets, only Spark computes the sketch.
    QueryDef(
      "q_quantile_gate",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          expr("percentile_approx(value, array(0.5D, 0.9D), 10000)").as("apx"),
          expr("percentile(value, 0.495)").as("lo50"),
          expr("percentile(value, 0.505)").as("hi50"),
          expr("percentile(value, 0.895)").as("lo90"),
          expr("percentile(value, 0.905)").as("hi90"))
        .select(col("event_type"),
          round(col("lo50"), 4).as("lo50"), round(col("hi50"), 4).as("hi50"),
          (element_at(col("apx"), 1).between(col("lo50"), col("hi50")))
            .as("p50_in_bracket"),
          (element_at(col("apx"), 2).between(col("lo90"), col("hi90")))
            .as("p90_in_bracket"))
        .select(col("event_type"), col("lo50"), col("hi50"),
          col("p50_in_bracket"), col("p90_in_bracket"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  round(quantile_cont(value, 0.495), 4) AS lo50,
             |  round(quantile_cont(value, 0.505), 4) AS hi50,
             |  true AS p50_in_bracket,
             |  true AS p90_in_bracket
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
