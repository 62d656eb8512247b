package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Similarity.{asDouble, bruteTopK}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking-quality and multi-rater agreement metrics — the evaluation
  * side of the retrieval stack: average precision completes the
  * hits@k / MRR / NDCG scorecard ([[graft.functions.Similarity]]
  * q_retrieval_eval / q_ndcg), rank-biased overlap compares two FULL
  * rankings (the metric for "did the index rebuild change what users
  * see"), and Fleiss' kappa generalizes q_cohens_kappa's two-rater
  * agreement to k raters — the label-quality gate for crowd-sourced or
  * multi-model annotation pipelines.
  *
  * Determinism: every per-rank/per-item rational term quantizes to micro
  * BEFORE any cross-row sum (the q_anova convention), so no unordered
  * double addition exists in either engine.
  */
object RankEval {

  val defs: Seq[QueryDef] = Seq(

    // average precision @10 per query vector, label relevance (the
    // q_retrieval_eval relevance model): AP = Σ_{rel ranks} P@r /
    // min(R, 10) with R the query's total relevant corpus count. P@r =
    // hit_idx/r quantizes to micro per rank (≤10 exact-integer terms);
    // the division by min(R, 10) is one integer div. Brute-force
    // exactness path; the metric only sees (qid, rank, label) pairs, so
    // the same scorecard runs over any ANN candidate stream at scale.
    QueryDef(
      "q_avg_precision",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("ed"))
        val q2 = e.where(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("ed").as("qe"))
        val nrel = q2.select("qid", "qlabel")
          .join(e, e("label") === col("qlabel") && e("vec_id") =!= col("qid"))
          .groupBy("qid").agg(count(lit(1)).as("r"))
        val w = Window.partitionBy("qid").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, 0)
        val agg = bruteTopK(e, q2, 10)
          .withColumn("rel", when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .withColumn("hit_idx", sum("rel").over(w))
          .groupBy("qid")
          .agg(sum("rel").as("hits"),
            sum(expr("CASE WHEN rel = 1 THEN CAST(round(1000000.0 * hit_idx / rn) AS BIGINT) ELSE 0 END"))
              .as("psum_micro"))
        agg.join(nrel, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("r"), lit(0L)).as("n_rel"),
            col("hits"),
            coalesce(expr("psum_micro div nullif(least(r, 10), 0)"), lit(0L))
              .as("ap_micro"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, ed AS qe FROM e WHERE vec_id < 50),
             |nrel AS (SELECT q.qid, count(*) AS r FROM q
             |  JOIN e ON e.label = q.qlabel AND e.vec_id <> q.qid GROUP BY 1),
             |sims AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
             |           round(list_dot_product(q.qe, e.ed), 4) AS sim
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |top AS (SELECT qid, qlabel, vec_id, label,
             |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |        FROM sims QUALIFY rn <= 10),
             |rel AS (SELECT qid, rn, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
             |          sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY qid ORDER BY rn
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_idx
             |        FROM top),
             |agg AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS hits,
             |          sum(CASE WHEN rel = 1
             |            THEN CAST(round(1000000.0 * hit_idx / rn) AS BIGINT) ELSE 0 END) AS psum_micro
             |        FROM rel GROUP BY qid)
             |SELECT a.qid, CAST(coalesce(n.r, 0) AS BIGINT) AS n_rel, a.hits,
             |  CAST(coalesce(a.psum_micro // nullif(least(n.r, 10), 0), 0) AS BIGINT) AS ap_micro
             |FROM agg a LEFT JOIN nrel n ON n.qid = a.qid ORDER BY a.qid""".stripMargin)),

    // rank-biased overlap (p = 0.9, depth 20) between the volume
    // ranking and the frequency ranking of parts — "do the two views of
    // demand agree, weighted toward the top". X_d (overlap of the two
    // depth-d prefixes) comes from an exact ≤20×20 rank join; each
    // (1−p)·p^(d−1)·X_d/d term is the same IEEE expression in both
    // engines, micro-rounded per depth and integer-summed. Both
    // rankings are sort-limit top-20s BEFORE their rank windows, so the
    // windows run on 20 rows by construction (q_rank_stability
    // convention); per-part sums are exact integers (quantities round
    // per row).
    QueryDef(
      "q_rbo",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .groupBy("l_partkey")
          .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sq"),
            count(lit(1)).as("cnt"))
        val a = li.orderBy(col("sq").desc, col("l_partkey")).limit(20)
          .withColumn("ra",
            row_number().over(Window.orderBy(col("sq").desc, col("l_partkey"))))
          .select(col("l_partkey").as("item"), col("ra"))
        val b = li.orderBy(col("cnt").desc, col("l_partkey")).limit(20)
          .withColumn("rb",
            row_number().over(Window.orderBy(col("cnt").desc, col("l_partkey"))))
          .select(col("l_partkey").as("item"), col("rb"))
        val j = a.join(b, "item")
          .select(greatest(col("ra"), col("rb")).as("m"))
        val depths = li.sparkSession.range(1, 21).select(col("id").as("depth"))
        val x = depths.join(j, col("m") <= col("depth"), "left")
          .groupBy("depth").agg(count(col("m")).as("xd"))
        x.select(col("depth"), col("xd"),
            expr("CAST(round(0.1 * pow(0.9, depth - 1) * xd / depth * 1000000) AS BIGINT)")
              .as("t_micro"))
          .agg(max(when(col("depth") === 20, col("xd"))).as("overlap_at_20"),
            sum("t_micro").as("rbo_micro"))
          .select(lit(20L).as("depth"),
            col("overlap_at_20").cast("long").as("overlap_at_20"),
            col("rbo_micro").cast("long").as("rbo_micro"))
      },
      Some("""WITH li AS (SELECT l_partkey, sum(CAST(round(l_quantity) AS BIGINT)) AS sq,
             |    count(*) AS cnt FROM lineitem GROUP BY 1),
             |a AS (SELECT l_partkey AS item,
             |    row_number() OVER (ORDER BY sq DESC, l_partkey) AS ra
             |  FROM li QUALIFY ra <= 20),
             |b AS (SELECT l_partkey AS item,
             |    row_number() OVER (ORDER BY cnt DESC, l_partkey) AS rb
             |  FROM li QUALIFY rb <= 20),
             |j AS (SELECT greatest(ra, rb) AS m FROM a JOIN b USING (item)),
             |d AS (SELECT unnest(range(1, 21)) AS depth),
             |x AS (SELECT depth, count(m) AS xd FROM d
             |  LEFT JOIN j ON j.m <= d.depth GROUP BY 1),
             |terms AS (SELECT depth, xd,
             |    CAST(round(0.1 * pow(0.9, depth - 1) * xd / depth * 1000000) AS BIGINT) AS t_micro
             |  FROM x)
             |SELECT CAST(20 AS BIGINT) AS depth,
             |  CAST(max(CASE WHEN depth = 20 THEN xd END) AS BIGINT) AS overlap_at_20,
             |  CAST(sum(t_micro) AS BIGINT) AS rbo_micro
             |FROM terms""".stripMargin)),

    // Fleiss' kappa for three deterministic "raters" assigning each
    // document to a length band (md5-jittered 20% of the time — the
    // q_cohens_kappa noise convention, so both engines derive identical
    // labels). P̄ rides per-item micro-rounded (Σn²−3)/6 terms; P̄ₑ is
    // ≤3 per-category micro terms; kappa is one IEEE closed form. The
    // k-rater generalization of q_cohens_kappa — the agreement gate a
    // multi-annotator labeling pipeline is accepted on.
    QueryDef(
      "q_fleiss_kappa",
      (s, d) => {
        val base = Tables.documents(s, d).select(col("doc_id"),
          when(col("n_chars") < 250, 0L).when(col("n_chars") < 400, 1L)
            .otherwise(2L).as("b"))
        val cat = base
          .select(col("doc_id"), col("b"),
            explode(sequence(lit(1), lit(3))).as("rater"))
          .withColumn("h",
            conv(substring(md5(concat(lit("fk"), col("rater").cast("string"),
              lit(":"), col("doc_id").cast("string"))), 1, 2), 16, 10)
              .cast("long"))
          .select(col("doc_id"),
            when(col("h") % 10 < 2, (col("b") + 1 + col("h") % 2) % 3)
              .otherwise(col("b")).as("c"))
        val nij = cat.groupBy("doc_id", "c").agg(count(lit(1)).as("n"))
        val pit = nij.groupBy("doc_id")
          .agg(expr("CAST(round((sum(n*n) - 3) * 1000000.0 / 6) AS BIGINT)")
            .as("p_micro"))
        val pbar = pit.agg(count(lit(1)).as("nitems"), sum("p_micro").as("psum"))
        val pe = nij.groupBy("c").agg(sum("n").as("cnt"))
          .crossJoin(pbar.select("nitems"))
          .agg(sum(expr(
            "CAST(round(1000000.0 * cnt * cnt / (9.0 * nitems * nitems)) AS BIGINT)"))
            .as("pe_micro"))
        pbar.crossJoin(pe)
          .select(col("nitems").cast("long").as("n_items"),
            expr("psum div nitems").cast("long").as("pbar_micro"),
            col("pe_micro").cast("long").as("pe_micro"),
            expr("""CAST(round(1000.0 * (CAST(psum AS DOUBLE) / nitems - pe_micro)
                   |  / (1000000.0 - pe_micro)) AS BIGINT)""".stripMargin)
              .as("kappa_milli"))
      },
      Some("""WITH base AS (SELECT doc_id,
             |    CASE WHEN n_chars < 250 THEN 0 WHEN n_chars < 400 THEN 1 ELSE 2 END AS b
             |  FROM documents),
             |r AS (SELECT doc_id, b, unnest([1,2,3]) AS rater FROM base),
             |cat AS (SELECT doc_id,
             |    CASE WHEN CAST(('0x' || substr(md5('fk' || rater || ':' || doc_id), 1, 2)) AS BIGINT) % 10 < 2
             |      THEN (b + 1 + CAST(('0x' || substr(md5('fk' || rater || ':' || doc_id), 1, 2)) AS BIGINT) % 2) % 3
             |      ELSE b END AS c
             |  FROM r),
             |nij AS (SELECT doc_id, c, count(*) AS n FROM cat GROUP BY 1, 2),
             |pit AS (SELECT doc_id, CAST(round((sum(n*n) - 3) * 1000000.0 / 6) AS BIGINT) AS p_micro
             |  FROM nij GROUP BY 1),
             |pbar AS (SELECT count(*) AS nitems, sum(p_micro) AS psum FROM pit),
             |cj AS (SELECT c, sum(n) AS cnt FROM nij GROUP BY 1),
             |pe AS (SELECT sum(CAST(round(1000000.0 * cnt * cnt
             |    / (9.0 * (SELECT nitems FROM pbar) * (SELECT nitems FROM pbar))) AS BIGINT)) AS pe_micro
             |  FROM cj)
             |SELECT CAST(nitems AS BIGINT) AS n_items,
             |  CAST(psum // nitems AS BIGINT) AS pbar_micro,
             |  CAST(pe_micro AS BIGINT) AS pe_micro,
             |  CAST(round(1000.0 * (CAST(psum AS DOUBLE) / nitems - pe_micro)
             |    / (1000000.0 - pe_micro)) AS BIGINT) AS kappa_milli
             |FROM pbar CROSS JOIN pe""".stripMargin)),

    // expected reciprocal rank @10 (Chapelle et al. 2009) — the cascade
    // metric: a user scans down, stops at a satisfying result with
    // probability R (binary label relevance ⇒ R = ½), so rank r
    // contributes (1/r)·R·(1−R)^{hits before r}. Earlier hits SHADOW
    // later ones — the diversity-aware behavior MAP/NDCG lack. Each
    // term is the same IEEE pow expression in both engines,
    // micro-rounded per rank (≤10 terms) and integer-summed per query.
    QueryDef(
      "q_err",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("ed"))
        val q2 = e.where(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("ed").as("qe"))
        val w = Window.partitionBy("qid").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, -1)
        bruteTopK(e, q2, 10)
          .withColumn("rel", when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .withColumn("before", coalesce(sum("rel").over(w), lit(0L)))
          .groupBy("qid")
          .agg(sum(expr("""CASE WHEN rel = 1
                          |  THEN CAST(round(1000000.0 * pow(0.5, before + 1) / rn) AS BIGINT)
                          |  ELSE 0 END""".stripMargin)).as("err_micro"))
          .select(col("qid"), col("err_micro").cast("long").as("err_micro"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, ed AS qe FROM e WHERE vec_id < 50),
             |sims AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
             |           round(list_dot_product(q.qe, e.ed), 4) AS sim
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |top AS (SELECT qid, qlabel, vec_id, label,
             |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |        FROM sims QUALIFY rn <= 10),
             |rel AS (SELECT qid, rn, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
             |          coalesce(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY qid ORDER BY rn
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             |        FROM top)
             |SELECT qid, CAST(sum(CASE WHEN rel = 1
             |    THEN CAST(round(1000000.0 * pow(0.5, before + 1) / rn) AS BIGINT)
             |    ELSE 0 END) AS BIGINT) AS err_micro
             |FROM rel GROUP BY 1 ORDER BY qid""".stripMargin)),

    // maximal marginal relevance (λ = 0.7): pick 3 results per query
    // that are relevant AND mutually diverse — each greedy step scores
    // candidates by λ·sim(q,c) − (1−λ)·max sim(c, already picked). The
    // three steps unroll as fixed stages (the q_weighted_pagerank
    // convention); every similarity is the rounded-4dp dot the whole
    // ANN family standardizes on, and each stage's argmax carries a
    // vec_id tiebreak, so the greedy chain is engine-deterministic.
    // Candidate pools are per-query top-10s ⇒ the pairwise grid is
    // ≤ 10² per query at any corpus size.
    QueryDef(
      "q_mmr_diversify",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val q2 = e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        val cand = e.crossJoin(broadcast(q2))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("sim", round(graft.functions.Similarity.dot(
            col("qe"), col("ed")), 4))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 10)
          .select("qid", "vec_id", "ed", "sim", "rn")
        val pair = cand.select(col("qid"), col("vec_id").as("u"), col("ed").as("eu"))
          .join(cand.select(col("qid"), col("vec_id").as("v"), col("ed").as("ev")),
            Seq("qid"))
          .where(col("u") =!= col("v"))
          .select(col("qid"), col("u"), col("v"),
            round(graft.functions.Similarity.dot(col("eu"), col("ev")), 4).as("ps"))
        val s1 = cand.where(col("rn") === 1)
          .select(col("qid"), col("vec_id").as("p1"), col("sim").as("sim1"))
        val w2 = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
        // every stage joins through USING-columns only, so the coalesced
        // keys can never turn ambiguous as the chain deepens
        val p1sim = pair.select(col("qid"), col("u").as("vec_id"),
          col("v").as("p1"), col("ps"))
        val s2 = cand.select("qid", "vec_id", "sim")
          .join(s1.select("qid", "p1"), Seq("qid"))
          .where(col("vec_id") =!= col("p1"))
          .join(p1sim, Seq("qid", "vec_id", "p1"))
          .select(col("qid"), col("vec_id"),
            expr("CAST(round(1000000 * (0.7 * sim - 0.3 * ps)) AS BIGINT)").as("score"))
          .withColumn("rk", row_number().over(w2)).where(col("rk") === 1)
          .select(col("qid"), col("vec_id").as("p2"), col("score").as("score2"))
        val pa = pair.select(col("qid"), col("u").as("vec_id"),
          col("v").as("p1"), col("ps").as("ps1"))
        val pb = pair.select(col("qid"), col("u").as("vec_id"),
          col("v").as("p2"), col("ps").as("ps2"))
        val s3 = cand.select("qid", "vec_id", "sim")
          .join(s1.select("qid", "p1"), Seq("qid"))
          .join(s2.select("qid", "p2"), Seq("qid"))
          .where(col("vec_id") =!= col("p1") && col("vec_id") =!= col("p2"))
          .join(pa, Seq("qid", "vec_id", "p1"))
          .join(pb, Seq("qid", "vec_id", "p2"))
          .select(col("qid"), col("vec_id"),
            expr("CAST(round(1000000 * (0.7 * sim - 0.3 * greatest(ps1, ps2))) AS BIGINT)")
              .as("score"))
          .withColumn("rk", row_number().over(w2)).where(col("rk") === 1)
          .select(col("qid"), col("vec_id").as("p3"), col("score").as("score3"))
        s1.select(col("qid"), lit(1L).as("pos"), col("p1").as("vec_id"),
            expr("CAST(round(1000000 * sim1) AS BIGINT)").as("score_micro"))
          .unionByName(s2.select(col("qid"), lit(2L).as("pos"),
            col("p2").as("vec_id"), col("score2").as("score_micro")))
          .unionByName(s3.select(col("qid"), lit(3L).as("pos"),
            col("p3").as("vec_id"), col("score3").as("score_micro")))
          .orderBy("qid", "pos")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |q AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id < 20),
             |sims AS (SELECT q.qid, e.vec_id, e.ed, round(list_dot_product(q.qe, e.ed), 4) AS sim
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |cand AS (SELECT qid, vec_id, ed, sim,
             |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |  FROM sims QUALIFY rn <= 10),
             |pair AS (SELECT a.qid, a.vec_id AS u, b.vec_id AS v,
             |    round(list_dot_product(a.ed, b.ed), 4) AS ps
             |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
             |s1 AS (SELECT qid, vec_id AS p1, sim AS sim1 FROM cand WHERE rn = 1),
             |sc2 AS (SELECT c.qid, c.vec_id,
             |    CAST(round(1000000 * (0.7 * c.sim - 0.3 * p.ps)) AS BIGINT) AS score
             |  FROM cand c JOIN s1 ON s1.qid = c.qid AND c.vec_id <> s1.p1
             |  JOIN pair p ON p.qid = c.qid AND p.u = c.vec_id AND p.v = s1.p1),
             |s2 AS (SELECT qid, vec_id AS p2, score AS score2 FROM (
             |    SELECT qid, vec_id, score,
             |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
             |    FROM sc2) WHERE rk = 1),
             |sc3 AS (SELECT c.qid, c.vec_id,
             |    CAST(round(1000000 * (0.7 * c.sim - 0.3 * greatest(pa.ps, pb.ps))) AS BIGINT) AS score
             |  FROM cand c JOIN s1 ON s1.qid = c.qid JOIN s2 ON s2.qid = c.qid
             |  JOIN pair pa ON pa.qid = c.qid AND pa.u = c.vec_id AND pa.v = s1.p1
             |  JOIN pair pb ON pb.qid = c.qid AND pb.u = c.vec_id AND pb.v = s2.p2
             |  WHERE c.vec_id <> s1.p1 AND c.vec_id <> s2.p2),
             |s3 AS (SELECT qid, vec_id AS p3, score AS score3 FROM (
             |    SELECT qid, vec_id, score,
             |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
             |    FROM sc3) WHERE rk = 1),
             |outp AS (
             |  SELECT qid, 1 AS pos, p1 AS vec_id, CAST(round(1000000 * sim1) AS BIGINT) AS score_micro FROM s1
             |  UNION ALL SELECT qid, 2, p2, score2 FROM s2
             |  UNION ALL SELECT qid, 3, p3, score3 FROM s3)
             |SELECT qid, CAST(pos AS BIGINT) AS pos, vec_id, score_micro
             |FROM outp ORDER BY qid, pos""".stripMargin)),

    // catalog coverage and novelty of the top-3 co-purchase
    // recommendations — the two beyond-accuracy metrics a recommender
    // rollout is reviewed on (high coverage = the long tail gets
    // surfaced; high novelty = recs aren't just the bestsellers).
    // Recommendations are the per-part top-3 neighbors by shared-order
    // weight (the partitioned rank the GroupTopK heap rewrite plans);
    // novelty is the mean −log₂ popularity share, milli-quantized per
    // rec instance before the exact integer mean. One vocabulary-sized
    // aggregate per side; no per-user state.
    QueryDef(
      "q_rec_coverage",
      (s, d) => {
        val nb = graft.operators.Release.copurchaseDirected(s, d)._1
          .select("u", "v", "w")
        val w3 = Window.partitionBy("u").orderBy(col("w").desc, col("v"))
        val rec = nb.withColumn("rn", row_number().over(w3))
          .where(col("rn") <= 3).select("u", "v")
        val pop = Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("v")).agg(count(lit(1)).as("freq"))
        val tot = Tables.lineitem(s, d).agg(count(lit(1)).as("nl"))
        val cat = Tables.part(s, d).agg(count(lit(1)).as("ncat"))
        rec.join(pop, "v").crossJoin(tot)
          .agg(count(lit(1)).as("nrec_inst"),
            countDistinct("v").as("nrec"),
            sum(expr("CAST(round(-1000.0 * log2(CAST(freq AS DOUBLE) / nl)) AS BIGINT)"))
              .as("novsum"))
          .crossJoin(cat)
          .select(col("ncat").cast("long").as("n_catalog"),
            col("nrec").cast("long").as("n_recommended"),
            expr("CAST((1000000 * nrec) div ncat AS BIGINT)").as("coverage_micro"),
            expr("CAST(novsum div nrec_inst AS BIGINT)").as("novelty_milli"))
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2),
             |nb AS (SELECT p1 AS u, p2 AS v, w FROM e UNION ALL SELECT p2, p1, w FROM e),
             |rec AS (SELECT u, v FROM (SELECT u, v, w,
             |    row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn FROM nb)
             |  WHERE rn <= 3),
             |pop AS (SELECT l_partkey AS v, count(*) AS freq FROM lineitem GROUP BY 1),
             |tot AS (SELECT count(*) AS nl FROM lineitem),
             |cat AS (SELECT count(*) AS ncat FROM part),
             |nov AS (SELECT count(*) AS nrec_inst, count(DISTINCT v) AS nrec,
             |    sum(CAST(round(-1000.0 * log2(CAST(freq AS DOUBLE) / nl)) AS BIGINT)) AS novsum
             |  FROM rec JOIN pop USING (v) CROSS JOIN tot)
             |SELECT (SELECT CAST(ncat AS BIGINT) FROM cat) AS n_catalog,
             |  CAST(nrec AS BIGINT) AS n_recommended,
             |  CAST((1000000 * nrec) // (SELECT ncat FROM cat) AS BIGINT) AS coverage_micro,
             |  CAST(novsum // nrec_inst AS BIGINT) AS novelty_milli
             |FROM nov""".stripMargin))
  )
}
