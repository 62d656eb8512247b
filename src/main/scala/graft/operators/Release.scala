package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.NfcNormalize
import graft.operators.Loop.{cutLineage, partitionedEdgeCache, pinnedPersist}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The "release" stage of a training-data pipeline: the operators that run
  * AFTER curation (dedup/quality/decontamination, DedupOps + TextAnalysis)
  * and turn a curated corpus into something you can actually ship and train
  * on — calendar-complete reporting series, coverage intervals, leakage-free
  * train/valid/test splits, outlier clipping, canonical text normalization,
  * and graph centrality over the duplicate graph.
  *
  * Scale notes (the shapes are what matter — fixtures are small):
  *  - every query is one or two keyed shuffles over the big table; the
  *    calendar / bounds / split-threshold sides are tiny and broadcast;
  *  - the PageRank loop is the same bounded-iteration keyed-shuffle pattern
  *    as [[DedupOps.connectedComponents]] (per-iteration cost ∝ |E|, keyed
  *    on node id; at 100 TB you add the same per-iteration checkpoint);
  *  - all arithmetic that crosses the oracle boundary is integer-exact
  *    (rank thresholds, fixed-point PageRank, epoch seconds) — no float
  *    summation-order hazards anywhere in the file.
  */
object Release {

  /** DuckDB mirror of [[DedupOps.shareEdges]] (same `doc_id < 20` slice,
    * same 3-gram shingles), as the `t`/`p` CTE prefix: `p(id1, id2)` is the
    * distinct undirected edge list with id1 < id2. */
  private val shareEdgesCte =
    """t AS (SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
      |    SELECT doc_id,
      |      [array_to_string(toks[i:i+2], ' ')
      |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id < 20))),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
      |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)""".stripMargin

  /** Fixed-point PageRank oracle: the recursive dependency is unrolled into
    * ten explicit CTE stages (DuckDB disallows aggregates in a recursive
    * term, and unrolling keeps every stage a plain join+groupby both
    * engines execute identically). All integer arithmetic — `//` here,
    * `div` on the Spark side — so the two engines agree bit for bit. */
  private val pagerankOracle: String = {
    val graph =
      s"""WITH $shareEdgesCte,
         |e AS (SELECT id1 AS src, id2 AS dst FROM p
         |      UNION ALL SELECT id2, id1 FROM p),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         |pr0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM deg)""".stripMargin
    val iters = (1 to 10).map { k =>
      s"""pr$k AS (SELECT d.id,
         |    CAST(150000000 + (85 * coalesce(m.csum, 0)) // 100 AS BIGINT) AS r
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(pp.r // g.deg) AS BIGINT) AS csum
         |    FROM pr${k - 1} pp JOIN deg g ON g.id = pp.id
         |      JOIN e ON e.src = pp.id
         |    GROUP BY 1) m ON m.id = d.id)""".stripMargin
    }
    (graph +: iters).mkString(",\n") +
      "\nSELECT d.id, d.deg, pr10.r FROM deg d JOIN pr10 ON pr10.id = d.id ORDER BY d.id"
  }

  /** Fixed-point personalized-PageRank oracle — eight unrolled restart
    * power steps over the weighted co-purchase edges, MATERIALIZED per
    * stage, truncating nano arithmetic mirroring the Spark loop term
    * for term: the per-edge transfer fraction is precomputed once as
    * `fm = (w·2³⁰) // tw` (the artifact's fm column) and the per-round
    * term is `(r·fm) // 2³⁰`, restart mass only at the seed. */
  private def pprOracle: String = {
    val steps = (1 to 8).map { k =>
      s"""p$k AS MATERIALIZED (
         |    SELECT n.id,
         |      CAST((CASE WHEN n.id = (SELECT sd FROM seed) THEN 150000000 ELSE 0 END)
         |        + (85 * coalesce(c$k.cs, 0)) // 100 AS BIGINT) AS r
         |    FROM nodes n LEFT JOIN (
         |      SELECT ef.dst AS id, sum((p${k - 1}.r * ef.fm) // 1073741824) AS cs
         |      FROM ef JOIN p${k - 1} ON p${k - 1}.id = ef.src
         |      GROUP BY 1) c$k ON c$k.id = n.id)""".stripMargin
    }
    s"""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
       |    FROM lp a JOIN lp b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst, w FROM e0
       |    UNION ALL SELECT p2, p1, w FROM e0),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
       |ws AS MATERIALIZED (SELECT src, sum(w) AS tw FROM e GROUP BY 1),
       |ef AS MATERIALIZED (SELECT e.src, e.dst,
       |    CAST(CAST(e.w AS HUGEINT) * 1073741824 // ws.tw AS BIGINT) AS fm
       |  FROM e JOIN ws ON ws.src = e.src),
       |seed AS MATERIALIZED (SELECT min(id) AS sd FROM nodes),
       |p0 AS MATERIALIZED (SELECT id,
       |    CAST(CASE WHEN id = (SELECT sd FROM seed) THEN 1000000000 ELSE 0 END
       |      AS BIGINT) AS r
       |  FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT id AS partkey, r AS ppr_nano FROM p8
       |ORDER BY r DESC, id LIMIT 10""".stripMargin
  }

  /** Distinct undirected co-purchase edges (p1 < p2, with the shared-
    * order count `w` and per-node degrees) — the shared graph the
    * k-core / assortativity / link-prediction family analyzes.
    * Orientation via `<` keeps every pair single-counted; the per-order
    * self-join is bounded by C(lines, 2) per order (q_order_shape pins
    * that fan-out).
    *
    * The one expensive derivation (the per-order self-join) runs ONCE
    * per (JVM, dataset) and is published as a parquet artifact
    * ([[Artifacts.dirFor]]); the three graph queries read the stored
    * skinny tables. Reading from parquet also IS the lineage cut the
    * old per-caller checkpoints provided — an iterative consumer
    * (q_kcore's peel rounds) starts from a file scan, not the join
    * chain. `ArtifactSpec` pins consume-path ≡ build-path row-for-row. */
  private[graft] def copurchaseGraph(s: org.apache.spark.sql.SparkSession,
      d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dir = copurchaseDir(s, d)
    (s.read.parquet(s"$dir/edges"), s.read.parquet(s"$dir/deg"))
  }

  /** Directed expansion of the co-purchase artifact: `nbw` is
    * e0 ∪ reverse(e0) as (u, v, w, s, fm) with the per-source out-weight
    * total `s` ALREADY JOINED IN and the 2³⁰-fixed-point transfer
    * fraction `fm = (w·2³⁰) div s` precomputed (see the build comment),
    * and `ws` is the skinny (u, s) table — both stored once per (JVM,
    * dataset). The weighted-graph family (q_ppr / q_weighted_pagerank /
    * q_bfs_layers) previously rebuilt the union + grouped sum per query,
    * and the iterative consumers then had to checkpoint the join; a
    * parquet read of the pre-joined table is both the dedup and the
    * lineage cut. */
  private[graft] def copurchaseDirected(s: org.apache.spark.sql.SparkSession,
      d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dir = copurchaseDir(s, d)
    (s.read.parquet(s"$dir/nbw"), s.read.parquet(s"$dir/ws"))
  }

  private def copurchaseDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Artifacts.dirFor(s"copurchase:$d", { out =>
      copurchaseGraphRaw(s, d)._1.write.parquet(s"$out/edges")
      val e = s.read.parquet(s"$out/edges")
      e.select(col("p1").as("p")).unionAll(e.select(col("p2").as("p")))
        .groupBy("p").agg(count(lit(1)).as("deg"))
        .write.parquet(s"$out/deg")
      val nb = e.select(col("p1").as("u"), col("p2").as("v"), col("w"))
        .unionAll(e.select(col("p2").as("u"), col("p1").as("v"), col("w")))
      nb.groupBy("u").agg(sum("w").as("s")).write.parquet(s"$out/ws")
      // fm = (w·2³⁰) div s — the per-edge transfer fraction in 2³⁰
      // fixed point, folded into the stored table so q_ppr's per-round
      // per-edge term is a pure LONG multiply + div-by-constant instead
      // of a DECIMAL(38,0) multiply + data-dependent div (8 rounds ×
      // |E| of it; the DECIMAL build is once, here). Bounds: w ≤ s
      // always, so fm ≤ 2³⁰; rank mass ≤ 1e9 nano, so r·fm ≤ 1.1e18 <
      // LONG max — the round arithmetic never leaves primitive longs.
      nb.join(s.read.parquet(s"$out/ws"), "u")
        .withColumn("fm",
          expr("CAST(CAST(w AS DECIMAL(38,0)) * 1073741824 div s AS BIGINT)"))
        .write.parquet(s"$out/nbw")
    })

  /** Star-contraction connected-component labels (id, cluster) of the
    * co-purchase graph at edge-weight threshold `minW`, published once
    * per (JVM, dataset, threshold). Consumers whose output is
    * label-invariant (component SIZE readouts) share the stored map
    * instead of re-running the iterative CC: q_hub_robustness's
    * "before" arm (minW=1, the full graph) and q_product_communities
    * (minW=3). */
  private[graft] def copurchaseCcLabels(s: org.apache.spark.sql.SparkSession,
      d: String, minW: Long): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.dirFor(s"copurchase-cc:$minW:$d", { out =>
      val (e0, _) = copurchaseGraph(s, d)
      DedupOps.connectedComponentsStar(
          e0.where(col("w") >= minW)
            .select(col("p1").as("id1"), col("p2").as("id2")))
        .write.parquet(s"$out/labels")
    })
    s.read.parquet(s"$dir/labels")
  }

  /** The top-1% co-purchase hubs — the ⌈n/100⌉ highest-degree parts
    * under the total order (deg desc, p asc) — published once per (JVM,
    * dataset). The set is deterministic per dataset and
    * q_hub_robustness's percolation read is the hot consumer: the
    * GlobalOrder ranked pass over the node-scaled degree frame ran per
    * query; now it runs once at publish. The q_abc_class `abcrun`
    * convention (`Relational.abcRunningTotal`); `ArtifactSpec` pins
    * stored ≡ fresh. */
  private[graft] def copurchaseHubs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.dirFor(s"copurchase-hubs:$d", { out =>
      copurchaseHubsRaw(s, d).write.parquet(s"$out/hubs")
    })
    s.read.parquet(s"$dir/hubs")
  }

  /** The uncached build path of [[copurchaseHubs]], kept callable for
    * `ArtifactSpec`'s stored-≡-fresh proof. Hub cut by GlobalOrder rank
    * — no driver collect, no partitionless window over the node-scaled
    * degree frame. */
  private[graft] def copurchaseHubsRaw(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val deg = copurchaseGraph(s, d)._2
    val nn = deg.agg(count(lit(1)).as("n"))
    GlobalOrder.withGlobalRowNumber(deg,
        Seq(col("deg").desc, col("p").asc), "rn")
      .crossJoin(broadcast(nn))
      .where(expr("rn <= (n + 99) div 100")).select("p")
  }

  /** Per-node top-256-by-(w desc, q asc) capped adjacency (p, q) of the
    * co-purchase graph — the production cap that bounds every
    * wedge-walk's fan-out at seeds·256² regardless of scale, published
    * once per (JVM, dataset) and shared by the link-prediction pair
    * (q_link_predict's common-neighbor/Jaccard scores and
    * q_adamic_adar's inverse-log-degree weighting read the SAME capped
    * table; each used to pay the rank window over the full adjacency
    * separately). `ArtifactSpec` pins stored ≡ fresh. */
  private[graft] def cappedAdjacency(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.dirFor(s"copurchase-cap256:$d", { out =>
      cappedAdjacencyRaw(s, d).write.parquet(s"$out/nb")
    })
    s.read.parquet(s"$dir/nb")
  }

  /** The uncached build path of [[cappedAdjacency]], kept callable for
    * `ArtifactSpec`'s stored-≡-fresh proof. */
  private[graft] def cappedAdjacencyRaw(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val (e, _) = copurchaseGraph(s, d)
    val nbAll = e.select(col("p1").as("p"), col("p2").as("q"), col("w"))
      .unionAll(e.select(col("p2").as("p"), col("p1").as("q"), col("w")))
    val wcap = Window.partitionBy("p").orderBy(col("w").desc, col("q").asc)
    nbAll.withColumn("r", row_number().over(wcap))
      .where(col("r") <= 256).select("p", "q")
  }

  /** The uncached build path of [[copurchaseGraph]] — what the artifact
    * materializes. Kept callable so `ArtifactSpec` can prove the stored
    * tables equal a fresh derivation. */
  private[graft] def copurchaseGraphRaw(s: org.apache.spark.sql.SparkSession,
      d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val lp = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey").distinct()
    val e = lp.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(lp.select(col("l_orderkey"), col("l_partkey").as("p2")),
        "l_orderkey")
      .where(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("w"))
    val deg = e.select(col("p1").as("p")).unionAll(e.select(col("p2").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    (e, deg)
  }

  val defs: Seq[QueryDef] = Seq(

    // calendar gap-fill: daily counts of high-value events per type with
    // MISSING DAYS MATERIALIZED AS ZEROS — the difference between a
    // reporting series a dashboard can plot and one with silent holes.
    // The dense calendar×type grid is generated (30×5 rows) and broadcast
    // against the aggregated sparse side, so the big-table work is one
    // hash aggregate; the grid never shuffles the fact table. At 100 TB
    // the same plan holds: the grid grows with the calendar, not the data.
    QueryDef(
      "q_gap_fill",
      (s, d) => {
        val ev = Tables.events(s, d)
        val days = s.range(1).select(explode(sequence(
          to_date(lit("2024-01-01")), to_date(lit("2024-01-30")))).as("day"))
        val types = ev.select("event_type").distinct()
        val sparse = ev.where(col("value") > 250)
          .groupBy(col("ts").cast("date").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        days.crossJoin(broadcast(types))
          .join(sparse, Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("day", "event_type")
      },
      Some("""WITH days AS (SELECT CAST(unnest(generate_series(
             |      DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day),
             |types AS (SELECT DISTINCT event_type FROM events),
             |sparse AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    event_type, count(*) AS n
             |  FROM events WHERE value > 250 GROUP BY 1, 2)
             |SELECT d.day, t.event_type, CAST(coalesce(s.n, 0) AS BIGINT) AS n
             |FROM days d CROSS JOIN types t
             |LEFT JOIN sparse s ON s.day = d.day AND s.event_type = t.event_type
             |ORDER BY d.day, t.event_type""".stripMargin)),

    // gaps-and-islands interval merge: each event covers [ts, ts+300s);
    // overlapping/touching covers union into maximal islands per user.
    // This is interval COVERAGE (union length), not gap sessionization
    // (q_session_window): a new island starts exactly when an event begins
    // after the running max of all previous interval ends — so within an
    // island the union is contiguous and covered = max(end) − min(start).
    // All interval arithmetic stays in the (timezone-free) TIMESTAMP_NTZ
    // domain truncated to whole seconds — ntz→numeric casts are illegal
    // under ANSI, and second-truncation first makes Spark's micros-based
    // timestampdiff and DuckDB's boundary-crossing date_diff coincide.
    // One window partition per user, then one grouped aggregate on the
    // same key — the user_id exchange is reused.
    QueryDef(
      "q_islands",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            date_trunc("second", col("ts")).as("st"),
            (date_trunc("second", col("ts")) + expr("INTERVAL 300 SECONDS")).as("en"))
          .withColumn("run_max_en",
            max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("ni",
            (col("run_max_en").isNull || col("st") > col("run_max_en")).cast("int"))
          .withColumn("island", sum("ni").over(w).cast("int"))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("n_events"),
            min("st").as("start_ts"), max("en").as("end_ts"))
          .withColumn("covered_sec",
            expr("timestampdiff(SECOND, start_ts, end_ts)"))
          .orderBy("user_id", "island")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS st,
             |    date_trunc('second', CAST(ts AS TIMESTAMP)) + INTERVAL 300 SECOND AS en
             |  FROM events),
             |m AS (SELECT *, max(en) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max_en FROM ev),
             |f AS (SELECT *, CASE WHEN run_max_en IS NULL OR st > run_max_en
             |    THEN 1 ELSE 0 END AS ni FROM m),
             |i AS (SELECT *, CAST(sum(ni) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS INT) AS island FROM f)
             |SELECT user_id, island, count(*) AS n_events,
             |  min(st) AS start_ts, max(en) AS end_ts,
             |  CAST(date_diff('second', min(st), max(en)) AS BIGINT) AS covered_sec
             |FROM i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // leakage-free train/valid/test split: the assignment unit is the
    // NEAR-DUPLICATE CLUSTER (the same MinHash-LSH + connected-components
    // labels as q_dedup_corpus), not the document — a hash split at the
    // document level puts one near-dup in train and its twin in test, and
    // the eval silently measures memorization. Split by md5 of the cluster
    // label (engine-portable, seedless, reproducible on re-runs with new
    // data arriving): first hex byte < 0xcc → train (~80%), < 0xe6 →
    // valid (~10%), else test. By construction no cluster straddles splits.
    QueryDef(
      "q_split_assign",
      (s, d) => {
        val (corpus, clusters) = DedupOps.corpusAndClusters(s, d)
        val labeled = corpus.select("doc_id")
          .join(clusters.select(col("id").as("doc_id"), col("cluster")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        val bucket = substring(md5(concat(lit("sp:"), col("cluster"))), 1, 2)
        labeled
          .select(col("doc_id"), col("cluster"),
            when(bucket < "cc", "train").when(bucket < "e6", "valid")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      Some(s"""${DedupOps.corpusClustersCte}
              |SELECT c.doc_id,
              |  CAST(coalesce(l.cluster, c.doc_id) AS BIGINT) AS cluster,
              |  CASE WHEN substr(md5('sp:' || coalesce(l.cluster, c.doc_id)), 1, 2) < 'cc' THEN 'train'
              |       WHEN substr(md5('sp:' || coalesce(l.cluster, c.doc_id)), 1, 2) < 'e6' THEN 'valid'
              |       ELSE 'test' END AS split
              |FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // winsorize: clip document length to the per-language exact [p5, p95].
    // The percentiles are RANK-BASED (value at row ceil(q·n), ceil done in
    // integer arithmetic `(q·n + 99) div 100`) — interpolating percentiles
    // differ across engines in the last ulp, rank-ceil ones cannot. Two
    // window passes + a 5-row broadcast join back; at scale the bounds side
    // stays tiny (one row per group) and the clip is a map-side projection.
    // (At 100 TB you'd swap the exact rank windows for approx_percentile
    // with a gated error contract, as q_quantile_gate does.)
    QueryDef(
      "q_winsorize",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val ranked = docs
          .withColumn("rn",
            row_number().over(Window.partitionBy("lang").orderBy("n_chars", "doc_id")))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("lang")))
        val bounds = ranked
          .withColumn("lo_rank", expr("(5 * cnt + 99) div 100"))
          .withColumn("hi_rank", expr("(95 * cnt + 99) div 100"))
          .groupBy("lang")
          .agg(min(when(col("rn") === col("lo_rank"), col("n_chars"))).as("lo"),
            min(when(col("rn") === col("hi_rank"), col("n_chars"))).as("hi"))
        docs.join(broadcast(bounds), "lang")
          .select(col("doc_id"), col("lang"), col("n_chars"), col("lo"), col("hi"),
            least(greatest(col("n_chars"), col("lo")), col("hi")).as("clipped"))
          .orderBy("doc_id")
      },
      Some("""WITH r AS (SELECT doc_id, lang, n_chars,
             |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang) AS cnt
             |  FROM documents),
             |b AS (SELECT lang,
             |    min(CASE WHEN rn = (5 * cnt + 99) // 100 THEN n_chars END) AS lo,
             |    min(CASE WHEN rn = (95 * cnt + 99) // 100 THEN n_chars END) AS hi
             |  FROM r GROUP BY 1)
             |SELECT d.doc_id, d.lang, d.n_chars, b.lo, b.hi,
             |  least(greatest(d.n_chars, b.lo), b.hi) AS clipped
             |FROM documents d JOIN b USING (lang)
             |ORDER BY doc_id""".stripMargin)),

    // PageRank over the shingle-share duplicate graph (the q_dup_clusters
    // edge list): which documents sit at the CENTER of a near-dup family —
    // the template everything else was derived from — vs its periphery.
    // Ten power iterations in 61-bit FIXED POINT (unit rank = 1e9; damping
    // 0.85 as ×85 div 100; per-edge contribution r div deg): integer
    // division is order-free under summation, so both engines produce
    // bit-identical ranks — the trick that makes an iterative float
    // algorithm hash-oracle-able. Each iteration is one keyed join + one
    // grouped sum on node id, the connectedComponents shuffle pattern.
    QueryDef(
      "q_pagerank",
      (s, d) => {
        val e0 = DedupOps.shareEdges(s, d)
        val edges0 = e0.select(col("id1").as("src"), col("id2").as("dst"))
          .unionByName(e0.select(col("id2").as("src"), col("id1").as("dst")))
        val deg0 = edges0.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("id"), col("deg"))
        // bounded-domain variant of the iterative-loop convention: the
        // edge/degree frames persist ONCE with the degree folded in (one
        // per-round join instead of two — before this every broadcast
        // round replayed the shingle-share derivation), but NO
        // repartition and NO cuts: the graph is the fixed doc_id<20
        // audit slice (≤ 40 edges at ANY corpus size), so 32-partition
        // layouts and per-round checkpoints are pure task-launch
        // overhead, and the uncut replay is over persisted tiny frames
        // (measured r14: the repartition+cut form was 1.6× SLOWER at
        // sf0.1 than the old uncut code; this form keeps the persist's
        // replay kill without the fixed costs — BENCH.md r14)
        val deg = pinnedPersist(deg0)
        // join the PERSISTED deg (not deg0) so materializing the edges
        // cache reuses the one degree aggregation instead of re-running
        // its lineage (r14 advice item)
        val edges = pinnedPersist(
          edges0.join(deg.select(col("id").as("src"), col("deg")), "src"))
        var ranks = deg.select(col("id"), lit(1000000000L).as("r"))
        for (_ <- 1 to 10) {
          val contribs = ranks.join(edges, col("id") === col("src"))
            .groupBy("dst").agg(sum(expr("r div deg")).as("csum"))
          ranks = deg.select(col("id"))
            .join(contribs.select(col("dst").as("id"), col("csum")), Seq("id"), "left")
            .select(col("id"),
              (lit(150000000L) + expr("(85 * coalesce(csum, 0L)) div 100")).as("r"))
        }
        ranks.join(deg, "id").select("id", "deg", "r").orderBy("id")
      },
      Some(pagerankOracle)),

    // release manifest: the end-of-pipeline composition — near-dup cluster
    // labels (the q_dedup_corpus chain) → representative per cluster (min
    // doc_id) → cluster-granular split (the q_split_assign rule) → one
    // manifest row per split: member count (pre-dedup), released doc count,
    // char/token totals, and an ORDER-FREE content checksum (per-doc
    // 48-bit-md5 residues mod 1e9+7, summed exactly in DECIMAL(38,0),
    // total reduced mod 1e9+7 — commutative, so partial-agg merge order
    // can't change it, and overflow-free to ~1e29 docs). This is
    // the artifact a training run pins: any document added, dropped, or
    // edited anywhere in the pipeline changes exactly one row's checksum.
    // One wide-table pass: window for the representative, one grouped agg.
    QueryDef(
      "q_manifest",
      (s, d) => {
        val (corpus, clusters) = DedupOps.corpusAndClusters(s, d)
        val labeled = corpus
          .join(clusters.select(col("id").as("doc_id"), col("cluster")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        val bucket = substring(md5(concat(lit("sp:"), col("cluster"))), 1, 2)
        val isRep = col("doc_id") === min("doc_id").over(Window.partitionBy("cluster"))
        labeled
          .withColumn("rep", isRep)
          .withColumn("part",
            when(bucket < "cc", "train").when(bucket < "e6", "valid")
              .otherwise("test"))
          .groupBy("part")
          .agg(
            count(lit(1)).as("n_members"),
            countDistinct("cluster").as("n_docs"),
            sum(when(col("rep"), length(col("text")).cast("long"))).as("total_chars"),
            sum(when(col("rep"),
              size(split(col("text"), " ")).cast("long"))).as("total_tokens"),
            // residues sum in DECIMAL(38,0) and the MOD is re-applied to
            // the total: a plain BIGINT sum of <1e9 residues overflows at
            // ~9e9 docs per split — reachable at the 100 TB design point.
            // Decimal summation is exact to 1e38 and both engines reduce
            // the same total mod p, so the gate stays bit-identical.
            (sum(when(col("rep"),
              conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long") % 1000000007L)
              .cast("decimal(38,0)")) % 1000000007L)
              .cast("long").as("checksum"))
          .orderBy("part")
      },
      Some(s"""${DedupOps.corpusClustersCte},
              |lc AS (SELECT c.doc_id, c.text,
              |    coalesce(l.cluster, c.doc_id) AS cluster
              |  FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id),
              |rp AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY cluster) AS rep,
              |    CASE WHEN substr(md5('sp:' || cluster), 1, 2) < 'cc' THEN 'train'
              |         WHEN substr(md5('sp:' || cluster), 1, 2) < 'e6' THEN 'valid'
              |         ELSE 'test' END AS part
              |  FROM lc)
              |SELECT part, CAST(count(*) AS BIGINT) AS n_members,
              |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_docs,
              |  CAST(sum(CASE WHEN rep THEN length(text) END) AS BIGINT) AS total_chars,
              |  CAST(sum(CASE WHEN rep THEN len(string_split(text, ' ')) END) AS BIGINT) AS total_tokens,
              |  CAST(sum(CASE WHEN rep THEN CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 1000000007 END) % 1000000007 AS BIGINT) AS checksum
              |FROM rp GROUP BY 1 ORDER BY part""".stripMargin)),

    // two-sample Kolmogorov–Smirnov drift gate — the statistical check a
    // release pipeline runs between two distributions (here: click vs
    // purchase event values) before declaring them exchangeable. Exact
    // and float-free: with per-value counts c1,c2 and cumulative sums
    // cum1,cum2, D = max|cum1/N1 − cum2/N2| is reported as the exact
    // integer numerator max|cum1·N2 − cum2·N1| beside N1 and N2 (the
    // statistic is d_num/(N1·N2); at N1·N2 beyond 9e18 lift the products
    // into DECIMAL(38,0) — BIGINT here keeps cross-engine hash type
    // parity). The one partitionless window runs over DISTINCT values
    // (bounded by the integer-cents domain, not the row count — the same
    // bounded-table exemption as the skyline's bucket cummax); everything
    // row-scaled is a keyed aggregate.
    QueryDef(
      "q_ks_test",
      (s, d) => {
        val ev = Tables.events(s, d)
          .where(col("event_type").isin("click", "purchase"))
          .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
            (col("event_type") === "click").cast("long").as("is1"))
        val per = ev.groupBy("cents").agg(
          sum(col("is1")).as("c1"), sum(lit(1L) - col("is1")).as("c2"))
        val w = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = per
          .withColumn("cum1", sum("c1").over(w))
          .withColumn("cum2", sum("c2").over(w))
        val tot = ev.agg(sum(col("is1")).as("n1"),
          sum(lit(1L) - col("is1")).as("n2"))
        cum.crossJoin(tot)
          .select(abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("dn"),
            col("n1"), col("n2"))
          .agg(max("dn").as("d_num"), max("n1").as("n1"), max("n2").as("n2"))
      },
      Some("""WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |per AS (SELECT cents, CAST(sum(is1) AS BIGINT) AS c1,
             |    CAST(sum(1 - is1) AS BIGINT) AS c2
             |  FROM ev GROUP BY 1),
             |cum AS (SELECT cents,
             |    CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cum1,
             |    CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cum2
             |  FROM per),
             |tot AS (SELECT CAST(sum(is1) AS BIGINT) AS n1,
             |    CAST(sum(1 - is1) AS BIGINT) AS n2 FROM ev)
             |SELECT CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
             |  max(n1) AS n1, max(n2) AS n2
             |FROM cum CROSS JOIN tot""".stripMargin)),

    // triangle census of the duplicate graph: triangles (mutually-similar
    // triples) vs wedges (open 2-paths) — the global clustering
    // coefficient's 3·Δ/W numerator and denominator, kept as exact
    // integers so the gate is float-free. Dense near-dup families are
    // triangle-rich; chained boilerplate edits are wedge-rich — the ratio
    // tells which dedup regime a corpus is in (transitive clusters safe
    // vs clusters that over-merge through chain links). The triangle
    // join is edge-oriented (ab ⋈ bc on the shared endpoint, closing
    // edge probed with the canonical id1<id2<id3 orientation), the
    // standard distributed formulation — each step an equi-join on node
    // ids, never a cross product.
    QueryDef(
      "q_triangles",
      (s, d) => {
        val e = DedupOps.shareEdges(s, d)
        val tri = e.as("ab")
          .join(e.as("bc"), col("ab.id2") === col("bc.id1"))
          .join(e.as("ac"),
            col("ac.id1") === col("ab.id1") && col("ac.id2") === col("bc.id2"))
          .agg(count(lit(1)).as("n_triangles"))
        val deg = e.select(col("id1").as("id"))
          .unionByName(e.select(col("id2").as("id")))
          .groupBy("id").agg(count(lit(1)).as("d"))
        val wedges = deg.agg(
          sum(expr("d * (d - 1) div 2")).as("n_wedges"))
        tri.crossJoin(wedges)
      },
      Some(s"""WITH $shareEdgesCte,
              |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
              |  FROM p ab JOIN p bc ON ab.id2 = bc.id1
              |    JOIN p ac ON ac.id1 = ab.id1 AND ac.id2 = bc.id2),
              |deg AS (SELECT id, count(*) AS d FROM (
              |    SELECT id1 AS id FROM p UNION ALL SELECT id2 FROM p)
              |  GROUP BY 1)
              |SELECT tri.n_triangles,
              |  (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges
              |FROM tri""".stripMargin)),

    // Unicode NFC canonicalization via the native nfc_normalize expression:
    // decomposed sequences (base char + combining mark, injected here as
    // literals since the fixture corpus is ASCII) compose to their canonical
    // single-codepoint forms, so byte-hashing operators downstream (dedup,
    // fingerprints, shingles) see one spelling per word. len_raw > len_norm
    // on every row is the visible proof the composition actually ran; the
    // normalized STRING hash-matching DuckDB's independent UAX#15
    // implementation is the correctness gate.
    QueryDef(
      "q_unicode_norm",
      (s, d) => {
        NfcNormalize.register(s)
        // the literal below is DECOMPOSED on purpose ('e'+U+0301,
        // 'i'+U+0308, raw UTF-8 in this source file) — NFC must do real
        // work for len_raw > len_norm to hold
        val raw = concat(substring(col("text"), 1, 12),
          lit(" café naïve"))
        Tables.documents(s, d)
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            NfcNormalize.column(col("raw")).as("norm"),
            length(col("raw")).as("len_raw"),
            length(NfcNormalize.column(col("raw"))).as("len_norm"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  nfc_normalize(substr(text, 1, 12) || ' cafe' || chr(769) || ' nai' || chr(776) || 've') AS norm,
             |  CAST(length(substr(text, 1, 12) || ' cafe' || chr(769) || ' nai' || chr(776) || 've') AS INT) AS len_raw,
             |  CAST(length(nfc_normalize(substr(text, 1, 12) || ' cafe' || chr(769) || ' nai' || chr(776) || 've')) AS INT) AS len_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Train/valid/test LEAKAGE audit — the reason q_split_assign splits by
    // duplicate-cluster, made measurable: under a NAIVE per-document hash
    // split, how many near-dup families straddle a split boundary (their
    // members leak eval data into train), vs the cluster-aware rule (0 by
    // construction — every member hashes on the shared family id)? Reuses
    // the corpusAndClusters chain; the per-family spread is one grouped
    // agg (shuffle keyed on family), and BOTH summary rows come out of a
    // single pass over that tiny table (one agg, exploded two ways) — the
    // CC chain is never recomputed per method.
    QueryDef(
      "q_split_leakage",
      (s, d) => {
        val (corpus, clusters) = DedupOps.corpusAndClusters(s, d)
        def splitOf(c: org.apache.spark.sql.Column) = {
          val b = substring(md5(concat(lit("sp:"), c)), 1, 2)
          when(b < "cc", "train").when(b < "e6", "valid").otherwise("test")
        }
        val fam = corpus.select("doc_id")
          .join(clusters.select(col("id").as("doc_id"), col("cluster")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("family"))
          .withColumn("naive_split", splitOf(col("doc_id")))
          .withColumn("aware_split", splitOf(col("family")))
        val per = fam.groupBy("family")
          .agg(count(lit(1)).as("members"),
            countDistinct("naive_split").as("naive_spread"),
            countDistinct("aware_split").as("aware_spread"))
          .where(col("members") > 1)
        val summary = per.agg(
          count(lit(1)).as("families"),
          count(when(col("naive_spread") > 1, 1)).as("naive_leaking"),
          coalesce(sum(when(col("naive_spread") > 1, col("members"))), lit(0L))
            .as("naive_docs"),
          count(when(col("aware_spread") > 1, 1)).as("aware_leaking"),
          coalesce(sum(when(col("aware_spread") > 1, col("members"))), lit(0L))
            .as("aware_docs"))
        summary.select(explode(array(
            struct(lit("naive").as("method"), col("families"),
              col("naive_leaking").as("leaking"), col("naive_docs").as("docs_leaking")),
            struct(lit("cluster").as("method"), col("families"),
              col("aware_leaking").as("leaking"), col("aware_docs").as("docs_leaking"))))
            .as("r"))
          .select("r.*")
          .orderBy("method")
      },
      Some(s"""${DedupOps.corpusClustersCte},
              |fam AS (
              |  SELECT c.doc_id, coalesce(l.cluster, c.doc_id) AS family,
              |    CASE WHEN substr(md5('sp:' || c.doc_id), 1, 2) < 'cc' THEN 'train'
              |         WHEN substr(md5('sp:' || c.doc_id), 1, 2) < 'e6' THEN 'valid'
              |         ELSE 'test' END AS naive_split,
              |    CASE WHEN substr(md5('sp:' || coalesce(l.cluster, c.doc_id)), 1, 2) < 'cc' THEN 'train'
              |         WHEN substr(md5('sp:' || coalesce(l.cluster, c.doc_id)), 1, 2) < 'e6' THEN 'valid'
              |         ELSE 'test' END AS aware_split
              |  FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id),
              |per AS (
              |  SELECT family, count(*) AS members,
              |    count(DISTINCT naive_split) AS naive_spread,
              |    count(DISTINCT aware_split) AS aware_spread
              |  FROM fam GROUP BY 1 HAVING count(*) > 1)
              |SELECT method, families, leaking, docs_leaking FROM (
              |  SELECT 'naive' AS method, count(*) AS families,
              |         count(*) FILTER (naive_spread > 1) AS leaking,
              |         CAST(coalesce(sum(members) FILTER (naive_spread > 1), 0) AS BIGINT)
              |           AS docs_leaking
              |  FROM per
              |  UNION ALL
              |  SELECT 'cluster', count(*), count(*) FILTER (aware_spread > 1),
              |         CAST(coalesce(sum(members) FILTER (aware_spread > 1), 0) AS BIGINT)
              |  FROM per)
              |ORDER BY method""".stripMargin)),

    // TEMPORAL split audit — the time-based companion of q_split_leakage:
    // cut the event stream at a calendar boundary (train strictly before,
    // test at-or-after), report per-split row/user counts AND the entity
    // leakage (users active on both sides — their test rows are
    // predictable from their own train history). Two aggregates off one
    // tagged scan, both keyed on split/user; the leak count broadcasts
    // onto the two-row report.
    QueryDef(
      "q_temporal_split",
      (s, d) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        val tagged = Tables.events(s, d).select(col("user_id"),
          when(col("ts") < cut, "train").otherwise("test").as("split"))
        val per = tagged.groupBy("split")
          .agg(count(lit(1)).as("rows_n"), countDistinct("user_id").as("users"))
        val lk = tagged.groupBy("user_id")
          .agg(countDistinct("split").as("ns"))
          .where(col("ns") > 1)
          .agg(count(lit(1)).as("leaked_users"))
        per.crossJoin(lk).orderBy("split")
      },
      Some("""WITH tagged AS (SELECT user_id,
             |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
             |         THEN 'train' ELSE 'test' END AS split
             |  FROM events),
             |per AS (SELECT split, count(*) AS rows_n,
             |          count(DISTINCT user_id) AS users
             |        FROM tagged GROUP BY 1),
             |lk AS (SELECT count(*) AS leaked_users FROM (
             |         SELECT user_id FROM tagged GROUP BY 1
             |         HAVING count(DISTINCT split) > 1))
             |SELECT p.split, p.rows_n, p.users, l.leaked_users
             |FROM per p CROSS JOIN lk l ORDER BY p.split""".stripMargin)),

    // k-core peel of the co-purchase graph, k = ⌊avg degree⌋, four fixed
    // rounds — the cohesion probe beside q_triangles/q_pagerank: each
    // round drops nodes whose degree among SURVIVORS falls below k and
    // reports the shrinking (nodes, edges) frontier. On the near-regular
    // synthetic graph the cascade collapses to an empty core — itself
    // the finding (no dense subcommunity exists); on real co-purchase
    // data the fixpoint is the recommender's backbone. Every round is an
    // equi-join of the edge list against the survivor set (never a cross
    // product); eager per-round checkpoints keep the lineage bounded
    // exactly like the connected-components chain.
    QueryDef(
      "q_kcore",
      (s, d) => {
        // eager lineage cut per round, the connected-components-chain
        // convention (DedupOps.corpusAndClusters): an iterative DataFrame
        // loop otherwise stacks one join-lineage level per round and every
        // consumer (the degree pass, the k frame, the final annotation)
        // replays the whole prefix — measured 21 s → ~6 s at sf0.1.
        val (e00, deg0) = copurchaseGraph(s, d)
        // the full edge frame is consumed three times (round-1 peel, its
        // degree pass, and the final edge annotation join): cache it
        // partitioned by p1 once ([[Loop.partitionedEdgeCache]]). Measured
        // r14: 1× 2.96 → 2.55 s, 100× a wash (22.7 vs 23.6 s — the peel
        // rounds are checkpoint-dominated there); kept for the
        // many-consumer shape, which is what scales.
        val e0 = partitionedEdgeCache(e00, col("p1"))
        def degrees(e: org.apache.spark.sql.DataFrame) =
          cutLineage(
            e.select(col("p1").as("p")).unionAll(e.select(col("p2").as("p")))
              .groupBy("p").agg(count(lit(1)).as("deg")))
        val kk = deg0.agg(expr("sum(deg) div count(1)").as("k"))
        def survivors(deg: org.apache.spark.sql.DataFrame) =
          deg.crossJoin(kk).where(col("deg") >= col("k")).select("p")
        def peel(deg: org.apache.spark.sql.DataFrame,
            e: org.apache.spark.sql.DataFrame) = {
          val surv = survivors(deg)
          val e2 = cutLineage(e.join(surv.select(col("p").as("p1")), "p1")
            .join(surv.select(col("p").as("p2")), "p2")
            .select("p1", "p2"))
          (surv, e2)
        }
        val (s1, e1) = peel(deg0, e0)
        val (s2, e2) = peel(degrees(e1), e1)
        val (s3, e3) = peel(degrees(e2), e2)
        // the last round reports survivors only: nothing reads its edges
        val s4 = survivors(degrees(e3))
        // one plan, not ten count branches: annotate every node with the
        // LAST round it survived (the sets nest, so four left-join
        // markers fold into one CASE), derive each edge's last round as
        // least(endpoint lasts), and produce all five (nodes, edges)
        // rows from two aggregates + a stack — 10× fewer Spark jobs than
        // counting each frame separately.
        def mark(r: Int, sr: org.apache.spark.sql.DataFrame) =
          sr.withColumn(s"r$r", lit(1))
        val n = deg0.select("p")
          .join(mark(1, s1), Seq("p"), "left")
          .join(mark(2, s2), Seq("p"), "left")
          .join(mark(3, s3), Seq("p"), "left")
          .join(mark(4, s4), Seq("p"), "left")
          .select(col("p"),
            coalesce(when(col("r4") === 1, 4).when(col("r3") === 1, 3)
              .when(col("r2") === 1, 2).when(col("r1") === 1, 1), lit(0))
              .as("last"))
          .transform(cutLineage(_))
        val nCols = Seq.range(0, 5).map(r =>
          count(when(col("last") >= r, 1)).as(s"n$r"))
        val nodeAgg = n.agg(nCols.head, nCols.tail: _*)
        val edgeAgg = e0
          .join(n.select(col("p").as("p1"), col("last").as("l1")), "p1")
          .join(n.select(col("p").as("p2"), col("last").as("l2")), "p2")
          .select(least(col("l1"), col("l2")).as("elast"))
        val eCols = Seq.range(0, 5).map(r =>
          count(when(col("elast") >= r, 1)).as(s"e$r"))
        val edgeAggD = edgeAgg.agg(eCols.head, eCols.tail: _*)
        nodeAgg.crossJoin(edgeAggD).crossJoin(kk)
          .select(col("k").cast("long").as("k"),
            expr("stack(5, 0, n0, e0, 1, n1, e1, 2, n2, e2, 3, n3, e3, 4, n4, e4)" +
              " AS (round, nodes, edges)"))
          .select("round", "k", "nodes", "edges")
          .orderBy("round")
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |deg0 AS MATERIALIZED (SELECT p, count(*) AS deg FROM (
             |           SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1),
             |kk AS MATERIALIZED (SELECT sum(deg) // count(*) AS k FROM deg0),
             |s1 AS MATERIALIZED (SELECT p FROM deg0 CROSS JOIN kk WHERE deg >= k),
             |e1 AS MATERIALIZED (SELECT e.* FROM e JOIN s1 a ON e.p1 = a.p JOIN s1 b ON e.p2 = b.p),
             |deg1 AS MATERIALIZED (SELECT p, count(*) AS deg FROM (
             |           SELECT p1 AS p FROM e1 UNION ALL SELECT p2 FROM e1) GROUP BY 1),
             |s2 AS MATERIALIZED (SELECT p FROM deg1 CROSS JOIN kk WHERE deg >= k),
             |e2 AS MATERIALIZED (SELECT e1.* FROM e1 JOIN s2 a ON e1.p1 = a.p JOIN s2 b ON e1.p2 = b.p),
             |deg2 AS MATERIALIZED (SELECT p, count(*) AS deg FROM (
             |           SELECT p1 AS p FROM e2 UNION ALL SELECT p2 FROM e2) GROUP BY 1),
             |s3 AS MATERIALIZED (SELECT p FROM deg2 CROSS JOIN kk WHERE deg >= k),
             |e3 AS MATERIALIZED (SELECT e2.* FROM e2 JOIN s3 a ON e2.p1 = a.p JOIN s3 b ON e2.p2 = b.p),
             |deg3 AS MATERIALIZED (SELECT p, count(*) AS deg FROM (
             |           SELECT p1 AS p FROM e3 UNION ALL SELECT p2 FROM e3) GROUP BY 1),
             |s4 AS MATERIALIZED (SELECT p FROM deg3 CROSS JOIN kk WHERE deg >= k),
             |e4 AS MATERIALIZED (SELECT e3.* FROM e3 JOIN s4 a ON e3.p1 = a.p JOIN s4 b ON e3.p2 = b.p)
             |SELECT * FROM (
             |  SELECT 0 AS round, CAST((SELECT max(k) FROM kk) AS BIGINT) AS k,
             |    (SELECT count(*) FROM deg0) AS nodes, (SELECT count(*) FROM e) AS edges
             |  UNION ALL SELECT 1, CAST((SELECT max(k) FROM kk) AS BIGINT),
             |    (SELECT count(*) FROM s1), (SELECT count(*) FROM e1)
             |  UNION ALL SELECT 2, CAST((SELECT max(k) FROM kk) AS BIGINT),
             |    (SELECT count(*) FROM s2), (SELECT count(*) FROM e2)
             |  UNION ALL SELECT 3, CAST((SELECT max(k) FROM kk) AS BIGINT),
             |    (SELECT count(*) FROM s3), (SELECT count(*) FROM e3)
             |  UNION ALL SELECT 4, CAST((SELECT max(k) FROM kk) AS BIGINT),
             |    (SELECT count(*) FROM s4), (SELECT count(*) FROM e4)
             |) ORDER BY round""".stripMargin)),

    // degree assortativity of the co-purchase graph — do popular products
    // co-sell with popular products (r > 0, a "hit cluster" a recommender
    // can exploit) or with the long tail (r < 0)? Pearson correlation of
    // endpoint degrees over the SYMMETRIZED edge list, from six exact
    // 128-bit integer moments; the near-regular synthetic graph sits at
    // ≈0, faithfully reported. One edge⋈degree join pair and a six-way
    // map-combined aggregate.
    QueryDef(
      "q_assortativity",
      (s, d) => {
        val (e, deg) = copurchaseGraph(s, d)
        val joined = e
          .join(deg.select(col("p").as("p1"), col("deg").as("d1")), "p1")
          .join(deg.select(col("p").as("p2"), col("deg").as("d2")), "p2")
        val pairs = joined.select(col("d1").as("x"), col("d2").as("y"))
          .unionAll(joined.select(col("d2").as("x"), col("d1").as("y")))
        pairs.agg(count(lit(1)).as("n"),
            sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
          .select(col("n").as("n_pairs"),
            expr("""CAST(round((CAST(n * sxy - sx * sy AS DOUBLE))
                   |  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   |         * CAST(n * syy - sy * sy AS DOUBLE)) * 1000) AS BIGINT)"""
              .stripMargin).as("assortativity_milli"))
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |deg AS MATERIALIZED (SELECT p, count(*) AS deg FROM (
             |        SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1),
             |pairs AS (SELECT d1.deg AS x, d2.deg AS y FROM e
             |            JOIN deg d1 ON d1.p = e.p1 JOIN deg d2 ON d2.p = e.p2
             |          UNION ALL
             |          SELECT d2.deg, d1.deg FROM e
             |            JOIN deg d1 ON d1.p = e.p1 JOIN deg d2 ON d2.p = e.p2),
             |mm AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
             |         sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(x AS HUGEINT)*y) AS sxy,
             |         sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(y AS HUGEINT)*y) AS syy
             |       FROM pairs)
             |SELECT CAST(n AS BIGINT) AS n_pairs,
             |  CAST(round((CAST(n*sxy - sx*sy AS DOUBLE))
             |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
             |    * 1000) AS BIGINT) AS assortativity_milli
             |FROM mm""".stripMargin)),

    // common-neighbor link prediction from a fixed seed-node slice — the
    // "customers who bought X also bought Y (but X and Y never co-sold)"
    // recommender candidate list: for seed parts p < 100, score every
    // NON-adjacent partner by shared-neighbor count (wedges through the
    // seed), report top-20 with the neighborhood-Jaccard score. The raw
    // wedge join fans out deg² per seed, so BOTH hops walk a CAPPED
    // adjacency list: each node keeps its top-256 neighbors by
    // co-purchase weight (w desc, id asc — deterministic), the standard
    // production cap that turns the fan-out into seeds·m² regardless of
    // hub degree. 256 exceeds every fixture degree (max 222 at sf0.1),
    // so the uncapped DuckDB oracle still matches hash-for-hash; at
    // growth scales the cap binds — which is the point. The per-node
    // top-m is row_number()<=m on the (p)-keyed window (the GroupTopK
    // heap shape). Anti-join drops existing edges before scoring.
    QueryDef(
      "q_link_predict",
      (s, d) => {
        val (e, deg) = copurchaseGraph(s, d)
        // the capped adjacency is a published artifact shared with
        // q_adamic_adar — the rank-window cap builds once per dataset
        val nb = cappedAdjacency(s, d)
        val wedge = nb.where(col("p") < 100)
          .join(nb.select(col("p").as("q"), col("q").as("b")), "q")
          .where(col("b") > col("p"))
          .groupBy(col("p").as("a"), col("b"))
          .agg(count(lit(1)).as("cn"))
        val cand = wedge.join(e,
            wedge("a") === e("p1") && wedge("b") === e("p2"), "left_anti")
        cand
          .join(deg.select(col("p").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("p").as("b"), col("deg").as("db")), "b")
          .select(col("a"), col("b"), col("cn"),
            expr("CAST(cn * 1000 div (da + db - cn) AS BIGINT)")
              .as("jaccard_milli"))
          .orderBy(col("cn").desc, col("a"), col("b")).limit(20)
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |deg AS MATERIALIZED (SELECT p, count(*) AS deg FROM (
             |        SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1),
             |nb AS MATERIALIZED (SELECT p1 AS p, p2 AS q FROM e UNION ALL SELECT p2, p1 FROM e),
             |wedge AS (SELECT s.p AS a, n2.q AS b, count(*) AS cn
             |          FROM (SELECT p, q FROM nb WHERE p < 100) s
             |          JOIN nb n2 ON n2.p = s.q
             |          WHERE n2.q > s.p GROUP BY 1, 2),
             |cand AS (SELECT w.a, w.b, w.cn FROM wedge w
             |         LEFT JOIN e ON e.p1 = w.a AND e.p2 = w.b
             |         WHERE e.p1 IS NULL)
             |SELECT c.a, c.b, c.cn,
             |  CAST(c.cn * 1000 // (d1.deg + d2.deg - c.cn) AS BIGINT) AS jaccard_milli
             |FROM cand c JOIN deg d1 ON d1.p = c.a JOIN deg d2 ON d2.p = c.b
             |ORDER BY c.cn DESC, c.a, c.b LIMIT 20""".stripMargin)),

    // edge-weight distribution of the co-purchase graph: how many part
    // pairs co-sold in exactly w distinct orders, with each weight
    // class's share — the tie-strength histogram that calibrates the
    // link-prediction cap and any "strong tie" threshold. Reads the
    // published artifact's (p1, p2, w) directly: one grouped count over
    // stored skinny rows, output bounded by the weight domain.
    QueryDef(
      "q_edge_strength",
      (s, d) => {
        val (e, _) = copurchaseGraph(s, d)
        val t = e.agg(count(lit(1)).as("tot"))
        e.groupBy("w").agg(count(lit(1)).as("n_edges"))
          .crossJoin(t)
          .select(col("w"), col("n_edges"),
            expr("n_edges * CAST(1000000 AS BIGINT) div tot").as("share_micro"))
          .orderBy("w")
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2),
             |t AS (SELECT count(*) AS tot FROM e)
             |SELECT e.w, count(*) AS n_edges,
             |  CAST(count(*) * 1000000 // max(t.tot) AS BIGINT) AS share_micro
             |FROM e CROSS JOIN t GROUP BY e.w ORDER BY e.w""".stripMargin)),

    // node strength vs degree — the top-20 co-purchase hubs by total tie
    // weight (Σw over incident edges), with mean weight per edge: the
    // "is this node a hub of many weak ties or few strong ones"
    // separation plain degree hides. One grouped aggregate over the
    // artifact's symmetrized edges; deterministic (strength desc, p)
    // top-20 keeps the output bounded at any scale.
    QueryDef(
      "q_node_strength",
      (s, d) => {
        val (e, _) = copurchaseGraph(s, d)
        val nb = e.select(col("p1").as("p"), col("w"))
          .unionAll(e.select(col("p2").as("p"), col("w")))
        nb.groupBy("p")
          .agg(count(lit(1)).as("deg"), sum("w").as("strength"))
          .select(col("p"), col("deg"), col("strength"),
            expr("strength * 1000 div deg").as("avg_w_milli"))
          .orderBy(col("strength").desc, col("p")).limit(20)
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2),
             |nb AS (SELECT p1 AS p, w FROM e UNION ALL SELECT p2, w FROM e)
             |SELECT p, count(*) AS deg, CAST(sum(w) AS BIGINT) AS strength,
             |  CAST(CAST(sum(w) AS HUGEINT) * 1000 // count(*) AS BIGINT) AS avg_w_milli
             |FROM nb GROUP BY 1 ORDER BY strength DESC, p LIMIT 20""".stripMargin)),

    // WEIGHTED PageRank over the co-purchase graph — random surfer
    // follows ties proportionally to shared-order count, six fixed-point
    // iterations (damping 0.85, rank in micro): the recommender
    // centrality that values strong ties where q_pagerank's uniform walk
    // cannot. Per-edge mass transfer is exact integer arithmetic
    // ((r·w) div strength — deterministic in both engines), per-round
    // sums widen to 128 bits, and each round cuts lineage so six rounds
    // stay six joins, not a 2^6 replay. Top-25 by (rank desc, id) keeps
    // the output bounded at any scale; the oracle unrolls the six rounds
    // as explicit CTE stages (the q_pagerank convention).
    QueryDef(
      "q_weighted_pagerank",
      (s, d) => {
        // the artifact stores the directed adjacency with the per-source
        // strength pre-joined — the parquet scan replaces the old
        // per-query union + grouped sum + checkpoint
        val (nbs0, st) = copurchaseDirected(s, d)
        // six power rounds join on u: cache the edge frame partitioned
        // by u once ([[Loop.partitionedEdgeCache]] — rationale + cut policy
        // documented there). r16 re-profile under the releasing
        // ScaleProbe (verdict item 7): cached 68.8 s min-of-2 at 100×
        // vs 100.8 s uncached — the cache stands; see the q_ppr note
        // for the full four-arm reading. q_ppr's fm fixed-point factor is NOT used
        // here on purpose: wpr's rank scale is 1e6 PER NODE (total mass
        // n·1e6, unbounded in n), so r·fm at 2³⁰ precision overflows a
        // long once a hub concentrates ≥ ~8.6e9 micro of mass — ppr can
        // fold fm only because its total mass is a FIXED 1e9 nano. The
        // per-edge (r·w) div s below is already primitive-long
        // arithmetic; only the node-level sum widens to DECIMAL.
        val nbs = partitionedEdgeCache(nbs0, col("u"))
        var pr = st.select(col("u").as("id"), lit(1000000L).as("r"))
        // the rank side of each round's join BROADCASTS at bench scale,
        // so the helper's cut policy applies: every-2nd-round cuts keep
        // the broadcast-replay depth ≤ 2.
        for (k <- 1 to 6) {
          val next = nbs.join(pr, nbs("u") === pr("id"))
            .select(nbs("v").as("id0"), expr("(r * w) div s").as("c"))
            .groupBy("id0")
            .agg(expr("""CAST(150000 + (850000 * CAST(sum(c) AS DECIMAL(38,0)))
                        | div 1000000 AS BIGINT)""".stripMargin).as("r"))
            .select(col("id0").as("id"), col("r"))
          pr = if (k % 2 == 0 && k < 6) cutLineage(next) else next
        }
        pr.select(col("id").as("part_id"), col("r").as("rank_micro"))
          .orderBy(col("rank_micro").desc, col("part_id")).limit(25)
      },
      Some(weightedPagerankOracle)),

    // BFS reachability layers from the seed slice p < 10 over the
    // co-purchase artifact: how many parts sit at hop distance 0/1/2/3
    // from the seed set — the neighborhood-growth probe that sizes any
    // "products within k hops" retrieval and exposes expander structure
    // (the near-regular fixture graph reaches everything in two hops;
    // layer 3 is empty — the honest small-world reading). Each hop is
    // one adjacency equi-join + an anti-join against the visited set;
    // per-layer frames feed BOTH the count and the next frontier, so
    // each cuts lineage (the q_kcore multi-consumer convention).
    QueryDef(
      "q_bfs_layers",
      (s, d) => {
        // the adjacency is probed once per hop (three hops): cache it
        // partitioned by the hop join key ([[Loop.partitionedEdgeCache]])
        val nb = partitionedEdgeCache(
          copurchaseDirected(s, d)._1.select("u", "v"), col("u"))
        val l0 = cutLineage(
          nb.select(col("u").as("id")).where(col("id") < 10).distinct())
        def expand(frontier: org.apache.spark.sql.DataFrame,
            visited: org.apache.spark.sql.DataFrame) =
          cutLineage(nb.join(frontier.select(col("id").as("u")), "u")
            .select(col("v").as("id")).distinct()
            .join(visited, Seq("id"), "left_anti"))
        val l1 = expand(l0, l0)
        val v1 = l0.unionAll(l1)
        val l2 = expand(l1, v1)
        val l3 = expand(l2, v1.unionAll(l2))
        Seq(l0, l1, l2, l3).zipWithIndex.map { case (f, i) =>
          f.agg(count(lit(1)).as("nodes")).select(lit(i).as("layer"), col("nodes"))
        }.reduce(_.unionByName(_)).orderBy("layer")
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |nb AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM e UNION ALL SELECT p2, p1 FROM e),
             |l0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM nb WHERE u < 10),
             |l1 AS MATERIALIZED (SELECT DISTINCT nb.v AS id FROM nb JOIN l0 ON l0.id = nb.u
             |       WHERE nb.v NOT IN (SELECT id FROM l0)),
             |l2 AS MATERIALIZED (SELECT DISTINCT nb.v AS id FROM nb JOIN l1 ON l1.id = nb.u
             |       WHERE nb.v NOT IN (SELECT id FROM l0) AND nb.v NOT IN (SELECT id FROM l1)),
             |l3 AS MATERIALIZED (SELECT DISTINCT nb.v AS id FROM nb JOIN l2 ON l2.id = nb.u
             |       WHERE nb.v NOT IN (SELECT id FROM l0) AND nb.v NOT IN (SELECT id FROM l1)
             |         AND nb.v NOT IN (SELECT id FROM l2))
             |SELECT * FROM (
             |  SELECT 0 AS layer, count(*) AS nodes FROM l0
             |  UNION ALL SELECT 1, count(*) FROM l1
             |  UNION ALL SELECT 2, count(*) FROM l2
             |  UNION ALL SELECT 3, count(*) FROM l3) ORDER BY layer""".stripMargin)),

    // local clustering coefficient over the published co-purchase
    // artifact — per-node triangle closure closed/(deg choose 2), the
    // community-tightness score beside q_triangles' global count. Runs
    // on the p<200 audit seed slice (the q_containment convention) with
    // the q_link_predict production cap: each seed keeps its top-256
    // neighbors by (w desc, q asc), so the wedge fan-out is seeds·m²
    // at ANY scale — 256 exceeds every fixture degree (max 222 at
    // sf0.1), so the uncapped DuckDB oracle matches hash-for-hash.
    // Closure is one equi-join of seed neighbor pairs against the
    // stored edge list; ranking is on the rounded cc per convention.
    QueryDef(
      "q_clustering_coeff",
      (s, d) => {
        val (e, _) = copurchaseGraph(s, d)
        // per-p top-256 commutes with the seed-slice filter on p, so
        // the shared capped-adjacency artifact serves this query too
        val nb = cappedAdjacency(s, d).where(col("p") < 200)
        val deg = nb.groupBy("p").agg(count(lit(1)).as("deg"))
        val wedge = nb.join(nb.select(col("p"), col("q").as("q2")), "p")
          .where(col("q") < col("q2"))
        val closed = wedge.join(e.select(col("p1"), col("p2")),
            wedge("q") === e("p1") && wedge("q2") === e("p2"))
          .groupBy("p").agg(count(lit(1)).as("closed"))
        deg.where(col("deg") >= 2)
          .join(closed, Seq("p"), "left")
          .select(col("p"), col("deg"),
            coalesce(col("closed"), lit(0L)).as("closed"))
          .select(col("p"), col("deg"), col("closed"),
            expr("CAST(closed * 1000000 div (deg*(deg-1) div 2) AS BIGINT)")
              .as("cc_micro"))
          .orderBy(col("cc_micro").desc, col("p")).limit(20)
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2),
             |nb AS MATERIALIZED (SELECT p1 AS p, p2 AS q FROM e UNION ALL SELECT p2, p1 FROM e),
             |sl AS (SELECT p, q FROM nb WHERE p < 200),
             |deg AS (SELECT p, count(*) AS deg FROM sl GROUP BY 1),
             |wedge AS (SELECT a.p, a.q AS v, b.q AS v2
             |          FROM sl a JOIN sl b ON a.p = b.p AND a.q < b.q),
             |closed AS (SELECT wedge.p, count(*) AS closed
             |           FROM wedge JOIN e ON e.p1 = wedge.v AND e.p2 = wedge.v2 GROUP BY 1)
             |SELECT d.p, CAST(d.deg AS BIGINT) AS deg,
             |  CAST(coalesce(c.closed, 0) AS BIGINT) AS closed,
             |  CAST(coalesce(c.closed, 0) * 1000000 // (d.deg*(d.deg-1) // 2) AS BIGINT) AS cc_micro
             |FROM deg d LEFT JOIN closed c ON c.p = d.p
             |WHERE d.deg >= 2
             |ORDER BY cc_micro DESC, d.p LIMIT 20""".stripMargin)),

    // degree distribution of the co-purchase graph — how many nodes
    // have exactly d ties, with each degree class's share of all nodes:
    // the first plot of any graph analysis (regular vs heavy-tailed
    // decides whether hubs need capping — it calibrates
    // q_link_predict's top-256 and q_clustering_coeff's seed cap).
    // Reads the published artifact's degree table: one grouped count
    // whose output is bounded by the degree domain, plus a broadcast
    // one-row node total.
    QueryDef(
      "q_degree_dist",
      (s, d) => {
        val (_, deg) = copurchaseGraph(s, d)
        val t = deg.agg(count(lit(1)).as("nn"))
        deg.groupBy(col("deg").as("degree"))
          .agg(count(lit(1)).as("n_nodes"))
          .crossJoin(t)
          .select(col("degree"), col("n_nodes"),
            expr("CAST(n_nodes * 1000000 div nn AS BIGINT)").as("share_micro"))
          .orderBy("degree")
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2),
             |nb AS (SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e),
             |deg AS (SELECT p, count(*) AS deg FROM nb GROUP BY 1),
             |t AS (SELECT count(*) AS nn FROM deg)
             |SELECT deg AS degree, count(*) AS n_nodes,
             |  CAST(count(*) * 1000000 // (SELECT nn FROM t) AS BIGINT) AS share_micro
             |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HITS hubs & authorities on the customer→part purchase bipartite graph
    // (Kleinberg 1999): which parts are bought by the best-connected
    // customers — a DIFFERENT centrality than q_weighted_pagerank's random
    // walk (HITS is the dual eigenvector pair of MᵀM / MMᵀ). Four power
    // half-steps run UNNORMALIZED in exact integer arithmetic (since L1
    // normalization only rescales, the direction is identical, and skipping
    // it per step halves the plan: no scalar total, no crossJoin, no
    // truncation drift per round) — scores stay ≤ 1e9·deg⁴ < 10³⁸, inside
    // DECIMAL(38,0)/HUGEINT, and both engines agree bit for bit. One L1
    // normalization to the 1e9 fixed-point scale happens at the very end.
    // The incidence list is a build-once parquet artifact (the lineage
    // cut); each half-step is one keyed join + grouped sum — shuffle
    // ∝ |edges|, never squared.
    QueryDef(
      "q_hits",
      (s, d) => {
        // DUAL layout-matched caches + per-half-step cuts (r15 4-arm
        // A/B, BENCH.md). The r14 finding stands: ONE cache cannot
        // serve joins that ALTERNATE keys (a plain persist made 100×
        // WORSE, 15.9 → 29.5 s). The r15 refinement: cache the
        // incidence TWICE, partitioned+sorted by c and by p, so each
        // half-step reads its layout-matched side, and cut lineage
        // after each half-step so the per-step plan restarts from a
        // checkpoint instead of replaying the chain. Neither half
        // suffices alone — 100×: status quo 18.5 s, dual-only 17.7,
        // cuts-only 16.2, BOTH 9.2–11.7 s across samples (the cuts stop
        // the replay; only then does the saved edge-side exchange
        // per join show up). 1× pays the two cache builds (~+1 s),
        // the standard bench-scale cache toll.
        val raw = custPartIncidence(s, d)
        val ec = partitionedEdgeCache(raw, col("c"))
        val ep = partitionedEdgeCache(raw, col("p"))
        var hubs = ec.select(col("c")).distinct()
          .select(col("c"), expr("CAST(1 AS DECIMAL(38,0))").as("h"))
        var auth: org.apache.spark.sql.DataFrame = null
        for (k <- 1 to 2) {
          auth = cutLineage(ec.join(hubs, "c").groupBy("p").agg(sum("h").as("a")))
          hubs = ep.join(auth, "p").groupBy("c").agg(sum("a").as("h"))
          if (k < 2) hubs = cutLineage(hubs)
        }
        val sa = auth.agg(sum("a").as("stot"))
        auth.crossJoin(sa)
          .select(col("p"),
            expr("CAST(a * 1000000000 div stot AS BIGINT)").as("auth_nano"))
          .orderBy(col("auth_nano").desc, col("p")).limit(10)
          .select(col("p").as("partkey"), col("auth_nano"))
      },
      Some(hitsOracle)),

    // rich-club coefficient ladder — do the highest-degree parts
    // preferentially co-purchase with each other? φ(k) = 2·E₍>k₎ /
    // (N₍>k₎(N₍>k₎−1)) over a log2 threshold ladder. Both suffix counts
    // ride value histograms (edges by min-endpoint degree, nodes by
    // degree) so the ladder join touches ≤ |distinct degrees| rows, not
    // the edge list — the artifact scan plus two grouped passes is the
    // entire corpus-scaled work. Ladder rows appear only where the club
    // has ≥ 2 members; exact integer φ in micro.
    QueryDef(
      "q_rich_club",
      (s, d) => {
        val (e, deg) = copurchaseGraph(s, d)
        val meh = e
          .join(deg.select(col("p").as("p1"), col("deg").as("d1")), "p1")
          .join(deg.select(col("p").as("p2"), col("deg").as("d2")), "p2")
          .select(least(col("d1"), col("d2")).as("m"))
          .groupBy("m").agg(count(lit(1)).as("c"))
        val dh = deg.groupBy(col("deg").as("m")).agg(count(lit(1)).as("c"))
        val ks = s.createDataFrame(
          Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
            .map(Tuple1(_))).toDF("k")
        val ek = ks.join(meh, col("m") > col("k"))
          .groupBy("k").agg(sum("c").as("ne"))
        val nk = ks.join(dh, col("m") > col("k"))
          .groupBy("k").agg(sum("c").as("nn"))
        ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
          .na.fill(0L, Seq("nn", "ne"))
          .where(col("nn") >= 2)
          .select(col("k"), col("nn").as("n_nodes"), col("ne").as("n_edges"),
            expr("CAST(2*ne*1000000 div (nn*(nn-1)) AS BIGINT)").as("phi_micro"))
          .orderBy("k")
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |      FROM lp a JOIN lp b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2),
             |nb AS (SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e),
             |deg AS (SELECT p, count(*) AS deg FROM nb GROUP BY 1),
             |meh AS (SELECT least(d1.deg, d2.deg) AS m, count(*) AS c FROM e
             |        JOIN deg d1 ON d1.p = e.p1 JOIN deg d2 ON d2.p = e.p2 GROUP BY 1),
             |dh AS (SELECT deg AS m, count(*) AS c FROM deg GROUP BY 1),
             |ks AS (SELECT unnest([1,2,4,8,16,32,64,128,256,512,1024,2048,4096]) AS k),
             |ek AS (SELECT k, sum(c) AS ne FROM ks JOIN meh ON meh.m > ks.k GROUP BY 1),
             |nk AS (SELECT k, sum(c) AS nn FROM ks JOIN dh ON dh.m > ks.k GROUP BY 1)
             |SELECT CAST(ks.k AS BIGINT) AS k, CAST(coalesce(nn, 0) AS BIGINT) AS n_nodes,
             |  CAST(coalesce(ne, 0) AS BIGINT) AS n_edges,
             |  CAST(2*coalesce(ne, 0)*1000000 // (nn*(nn-1)) AS BIGINT) AS phi_micro
             |FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
             |WHERE coalesce(nn, 0) >= 2 ORDER BY k""".stripMargin)),

    // Newman modularity of the BRAND partition — do brands form
    // co-purchase communities, or is the brand label orthogonal to
    // market structure? Q = Σ_b[e_b/m − (d_b/2m)²] on the support-≥3
    // graph, computed exactly as Σ(4m·e_b − d_b²)/(4m²) in 128-bit
    // integers with ONE final division. Edges come from the build-once
    // artifact (weights already stored); degrees recompute on the
    // thresholded subgraph. The honest answer on TPC-H is ≈ 0 — the
    // null this gate exists to detect drift from.
    QueryDef(
      "q_modularity",
      (s, d) => {
        val (e0, _) = copurchaseGraph(s, d)
        val pr = e0.where(col("w") >= 3).select("p1", "p2")
        val m = pr.agg(count(lit(1)).as("m"))
        val br = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
        val eb = pr
          .join(br.select(col("p_partkey").as("p1"), col("p_brand").as("b1")), "p1")
          .join(br.select(col("p_partkey").as("p2"), col("p_brand").as("b2")), "p2")
          .where(col("b1") === col("b2"))
          .groupBy(col("b1").as("g")).agg(count(lit(1)).as("e"))
        val dg = pr.select(col("p1").as("p")).unionAll(pr.select(col("p2").as("p")))
          .groupBy("p").agg(count(lit(1)).as("deg"))
        val db = dg
          .join(br.select(col("p_partkey").as("p"), col("p_brand").as("g")), "p")
          .groupBy("g").agg(sum("deg").as("d"))
        db.join(eb, Seq("g"), "left").na.fill(0L, Seq("e"))
          .crossJoin(m)
          .agg(max("m").as("m"),
            sum(expr("CAST(4 AS DECIMAL(38,0))*m*e - CAST(d AS DECIMAL(38,0))*d"))
              .as("num"),
            count(lit(1)).as("nb"), sum("e").as("intra"))
          .select(col("m").cast("long").as("n_edges"),
            col("nb").as("n_brands"),
            expr("CAST(intra * 1000000 div m AS BIGINT)").as("intra_share_micro"),
            expr("""CAST(num * 1000000
                   | div (CAST(4 AS DECIMAL(38,0))*m*m) AS BIGINT)""".stripMargin)
              .as("modularity_micro"))
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |pr AS MATERIALIZED (SELECT a.l_partkey AS id1, b.l_partkey AS id2
             |    FROM lp a JOIN lp b
             |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |    GROUP BY 1, 2 HAVING count(*) >= 3),
             |m AS (SELECT count(*) AS m FROM pr),
             |br AS (SELECT p_partkey, p_brand FROM part),
             |eb AS (SELECT b1.p_brand AS g, count(*) AS e
             |       FROM pr JOIN br b1 ON b1.p_partkey = pr.id1
             |       JOIN br b2 ON b2.p_partkey = pr.id2
             |       WHERE b1.p_brand = b2.p_brand GROUP BY 1),
             |dg AS (SELECT p, count(*) AS deg FROM
             |        (SELECT id1 AS p FROM pr UNION ALL SELECT id2 FROM pr) GROUP BY 1),
             |db AS (SELECT br.p_brand AS g, sum(deg) AS d FROM dg
             |       JOIN br ON br.p_partkey = dg.p GROUP BY 1),
             |q AS (SELECT sum(CAST(4 AS HUGEINT)*(SELECT m FROM m)*coalesce(eb.e, 0)
             |        - CAST(db.d AS HUGEINT)*db.d) AS num,
             |       count(*) AS nb, sum(coalesce(eb.e, 0)) AS intra
             |      FROM db LEFT JOIN eb USING (g))
             |SELECT CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
             |  CAST(nb AS BIGINT) AS n_brands,
             |  CAST(intra * 1000000 // (SELECT m FROM m) AS BIGINT) AS intra_share_micro,
             |  CAST(num * 1000000
             |    // (CAST(4 AS HUGEINT)*(SELECT m FROM m)*(SELECT m FROM m)) AS BIGINT)
             |    AS modularity_micro
             |FROM q""".stripMargin)),

    // personalized PageRank — relevance to a SEED part (the "customers
    // who bought this also orbit..." recommender primitive), the
    // restart-biased dual of q_pagerank's global centrality. Eight power
    // steps over the weighted co-purchase artifact in truncating nano
    // fixed point: p ← 0.15·seed + 0.85·Wᵀp where W's per-edge transfer
    // fraction is the artifact's precomputed fm = (w·2³⁰) div tw, so the
    // hot term is (r·fm) div 2³⁰ in primitive longs; the restart mass is
    // injected by a broadcast seed comparison (no driver collect
    // anywhere). Each step is one keyed join + grouped sum — shuffle ∝
    // |edges|, never squared. Top-10 by mass.
    QueryDef(
      "q_ppr",
      (s, d) => {
        // the stored directed adjacency carries the out-weight total `s`
        // pre-joined — no per-query grouped sum, no checkpoint: the
        // parquet scan is the lineage cut each power step restarts from
        val (nbw, _) = copurchaseDirected(s, d)
        // all 8 power rounds join on src: cache the edge frame
        // partitioned by src once ([[Loop.partitionedEdgeCache]]). Only the
        // precomputed 2³⁰ fixed-point factor fm rides along — the
        // per-round term is (r·fm) div 2³⁰ in pure LONG arithmetic
        // (DECIMAL multiply + data-dependent div paid once at artifact
        // build, not 8×|E| times per query; oracle mirrors term for term)
        val e = partitionedEdgeCache(
          nbw.select(col("u").as("src"), col("v").as("dst"), col("fm")),
          col("src"))
        // the artifact's degree table already lists every node — no
        // distinct; the (id, sd) base frame is node-sized and read NINE
        // times (init + once per round for the restart injection), so it
        // caches too, partitioned by id so the per-round restart join
        // never re-exchanges it
        val nodes = copurchaseGraph(s, d)._2.select(col("p").as("id"))
        val seed = nodes.agg(min("id").as("sd"))
        val base = partitionedEdgeCache(
          nodes.crossJoin(seed), col("id"))
        var p = base
          .select(col("id"),
            when(col("id") === col("sd"), 1000000000L).otherwise(0L).as("r"))
        // the rank side of each round's join BROADCASTS, so the helper's
        // cut policy applies: every-2nd-round cuts keep the broadcast-
        // replay depth ≤ 2 (no cut after the final round — that frame
        // feeds exactly one action and is never re-broadcast). The
        // all-shuffle alternative (shuffle_hash hints on the evolving
        // side, with or without cuts) was MEASURED WORSE on both axes in
        // round 14 — sf0.1 4.6 vs 20–35 s, 100× 52 vs 44–70 s with the
        // no-cut form the worst — see BENCH.md round 14; don't re-try it.
        // r16 re-profile under the releasing ScaleProbe (verdict item
        // 7): cache+cuts 70.3 s min-of-2 at 100× vs 107.9 s with both
        // caches dropped — the cached arm stands (+35%); at 1× the
        // no-cache arm IS faster (4.9 vs 8.4 s — the build outweighs 8
        // reuses on KB-scale edges), which is precisely the local-only
        // win the scale rules reject. The q_hits dual-layout rule does
        // not apply: every round joins on the SAME key (src), so there
        // is no alternating layout to cache twice.
        for (k <- 1 to 8) {
          val contribs = p.join(e, col("id") === col("src"))
            .groupBy("dst")
            .agg(sum(expr("(r * fm) div 1073741824")).as("cs"))
          val next = base
            .join(contribs.select(col("dst").as("id"), col("cs")),
              Seq("id"), "left")
            .select(col("id"),
              (when(col("id") === col("sd"), 150000000L).otherwise(0L) +
                expr("(85 * coalesce(cs, CAST(0 AS BIGINT))) div 100"))
                .cast("long").as("r"))
          p = if (k % 2 == 0 && k < 8) cutLineage(next) else next
        }
        p.orderBy(col("r").desc, col("id")).limit(10)
          .select(col("id").as("partkey"), col("r").as("ppr_nano"))
      },
      Some(pprOracle)),

    // hub-robustness probe — how much of the co-purchase network's
    // largest component survives removing the top-1% hubs? The
    // percolation gate a marketplace runs before trusting "the network
    // is resilient": scale-free graphs shatter, dense ones shrug.
    // Hub cut read from the PUBLISHED [[copurchaseHubs]] artifact (the
    // GlobalOrder ranked pass runs once at publish — no driver collect,
    // no partitionless window). The "before" map reads
    // the PUBLISHED ccLabels artifact; the "after" map runs
    // star-contraction CC ([[DedupOps.connectedComponentsStar]] — the
    // form that completed the 100× probe where min-label aborted) on the
    // AFFECTED subgraph only, seeded from the before-labels: removal
    // only splits components, so untouched components keep their stored
    // size and never enter the fixpoint. The honest fixture answer:
    // the dense graph loses exactly the removed nodes and nothing else.
    QueryDef(
      "q_hub_robustness",
      (s, d) => {
        val (e0, deg) = copurchaseGraph(s, d)
        val nn = deg.agg(count(lit(1)).as("n"))
        // the hub set is deterministic per dataset: read the published
        // artifact ([[copurchaseHubs]]) instead of re-running the
        // GlobalOrder ranked pass over the node-scaled degree frame per
        // query (r14 A/B: sf0.1 9.0 → 3.7–5.7 s; 100× within noise —
        // the after-CC dominates there either way)
        val hubs = copurchaseHubs(s, d)
        val ef = e0
          .join(hubs.select(col("p").as("p1")), Seq("p1"), "left_anti")
          .join(hubs.select(col("p").as("p2")), Seq("p2"), "left_anti")
        def lccOf(labels: org.apache.spark.sql.DataFrame) = labels
          .groupBy("cluster").agg(count(lit(1)).as("cnt"))
          .agg(coalesce(max("cnt"), lit(0L)).as("lcc"))
        val ccLabels = copurchaseCcLabels(s, d, 1L)
        val before = lccOf(ccLabels).select(col("lcc").as("lcc_before"))
        // node removal only SPLITS components: a before-component with no
        // removed hub keeps exactly its node set, so the iterative
        // after-CC needs only the AFFECTED subgraph (edges whose
        // before-label contains a hub — both endpoints share the label by
        // definition, so one endpoint lookup suffices) and every
        // untouched component contributes its stored before-size
        // directly. At marketplace scale the graph is one giant component
        // plus a long tail of small ones; the tail never enters the
        // fixpoint. The decomposition is exact (spec-pinned against the
        // undecomposed global CC in AnalyticsInvariantSpec).
        val hubLabels = ccLabels
          .join(hubs.select(col("p").as("id")), "id")
          .select("cluster").distinct()
        // membership test via the NODE-sized affected set (labels
        // semi-joined to the hub labels), not an edge×labels equi-join:
        // the semi join's build side is bounded by the node table, so
        // AQE broadcasts it at bench scale and the surviving-edge frame
        // never takes an extra exchange just to learn its component
        val affNodes = ccLabels.join(hubLabels, Seq("cluster"), "left_semi")
          .select(col("id").as("p1"))
        val efAff = ef.join(affNodes, Seq("p1"), "left_semi")
        val untouched = ccLabels
          .join(hubLabels, Seq("cluster"), "left_anti")
          .groupBy("cluster").agg(count(lit(1)).as("cnt"))
          .agg(coalesce(max("cnt"), lit(0L)).as("lcc_untouched"))
        val after = lccOf(DedupOps.connectedComponentsStar(
            efAff.select(col("p1").as("id1"), col("p2").as("id2"))))
          .crossJoin(untouched)
          .select(greatest(col("lcc"), col("lcc_untouched")).as("lcc_after"))
        val me = e0.agg(count(lit(1)).as("n_edges"))
        val hc = hubs.agg(count(lit(1)).as("hubs_removed"))
        nn.crossJoin(me).crossJoin(hc)
          .crossJoin(before).crossJoin(after)
          .select(col("n").as("n_nodes"), col("n_edges"), col("hubs_removed"),
            col("lcc_before"), col("lcc_after"),
            expr("(lcc_before - lcc_after) * 1000000 div lcc_before")
              .as("lcc_drop_micro"))
      },
      Some("""WITH RECURSIVE lp AS MATERIALIZED (
             |    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |    FROM lp a JOIN lp b
             |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |    GROUP BY 1, 2),
             |nb AS (SELECT p1 AS p FROM e0 UNION ALL SELECT p2 FROM e0),
             |deg AS MATERIALIZED (SELECT p, count(*) AS deg FROM nb GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM deg),
             |hubs AS MATERIALIZED (SELECT p FROM deg
             |    ORDER BY deg DESC, p LIMIT (SELECT (n + 99) // 100 FROM nn)),
             |ef AS MATERIALIZED (SELECT p1, p2 FROM e0
             |    WHERE p1 NOT IN (SELECT p FROM hubs)
             |      AND p2 NOT IN (SELECT p FROM hubs)),
             |eu AS (SELECT p1 AS a, p2 AS b FROM e0 UNION SELECT p2, p1 FROM e0),
             |reach(id, r) AS (SELECT a, a FROM eu UNION
             |    SELECT eu.a, reach.r FROM eu JOIN reach ON reach.id = eu.b),
             |lab AS (SELECT id, min(r) AS c FROM reach GROUP BY 1),
             |lcc0 AS (SELECT max(cnt) AS lcc FROM
             |    (SELECT c, count(*) AS cnt FROM lab GROUP BY 1)),
             |euf AS (SELECT p1 AS a, p2 AS b FROM ef UNION SELECT p2, p1 FROM ef),
             |reach2(id, r) AS (SELECT a, a FROM euf UNION
             |    SELECT euf.a, reach2.r FROM euf JOIN reach2 ON reach2.id = euf.b),
             |lab2 AS (SELECT id, min(r) AS c FROM reach2 GROUP BY 1),
             |lcc1 AS (SELECT coalesce(max(cnt), 0) AS lcc FROM
             |    (SELECT c, count(*) AS cnt FROM lab2 GROUP BY 1))
             |SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_nodes,
             |  CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges,
             |  CAST((SELECT count(*) FROM hubs) AS BIGINT) AS hubs_removed,
             |  CAST((SELECT lcc FROM lcc0) AS BIGINT) AS lcc_before,
             |  CAST((SELECT lcc FROM lcc1) AS BIGINT) AS lcc_after,
             |  CAST(((SELECT lcc FROM lcc0) - (SELECT lcc FROM lcc1)) * 1000000
             |    // (SELECT lcc FROM lcc0) AS BIGINT) AS lcc_drop_micro""".stripMargin)),

    // synchronous label propagation (4 rounds, min-label tiebreak) on
    // the w ≥ 3 co-purchase graph — the linear-time community detector
    // that complements the star-CC partition q_product_communities
    // reads (LPA splits a connected component along weak ties; CC
    // cannot). Deterministic by construction: every node
    // simultaneously adopts the neighbor label with the max total edge
    // weight, ties to the min label, so round k is a pure function of
    // round k−1 — no update-order dependence to hide. Each round is one
    // adjacency join + a u-PARTITIONED rank window (never global); the
    // output is the label-invariant community-size histogram. Rounds
    // cut lineage (q_kcore convention). The oracle unrolls the four
    // rounds as CTE stages (q_weighted_pagerank convention).
    QueryDef(
      "q_label_prop",
      (s, d) => {
        lpaLabels(s, d).groupBy("label").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_communities"))
          .select(col("sz").cast("long").as("community_size"),
            col("n_communities").cast("long").as("n_communities"))
          .orderBy("community_size")
      },
      Some(labelPropOracle)),

    // double-sweep BFS diameter lower bound on the w ≥ 3 co-purchase
    // graph: BFS from the min node, hop to the farthest reached node
    // (tie → min id), BFS again — the eccentricity of the second sweep
    // is the classic 2-sweep diameter estimate (exact on trees, a tight
    // lower bound in practice). Six hop rounds per sweep, each one
    // adjacency equi-join + an anti-join against the settled distance
    // map, lineage cut per round (q_bfs_layers convention) — hop-capped
    // so the worst case is 12 bounded joins at any scale, never an
    // unbounded fixpoint. The oracle states the same sweeps as
    // depth-capped recursive CTEs.
    QueryDef(
      "q_graph_diameter",
      (s, d) => {
        // the adjacency is probed by TWELVE hop joins (6 per sweep), all
        // on u: cache it partitioned by u once ([[Loop.partitionedEdgeCache]])
        // instead of re-scanning the artifact parquet per hop
        val nb = partitionedEdgeCache(
          copurchaseDirected(s, d)._1
            .where(col("w") >= 3).select("u", "v"), col("u"))
        def bfs(seed: org.apache.spark.sql.DataFrame) = {
          var dist = cutLineage(seed.select(col("id"), lit(0L).as("dist")))
          for (i <- 1 to 6) {
            val next = nb
              .join(dist.where(col("dist") === (i - 1))
                .select(col("id").as("u")), "u")
              .select(col("v").as("id")).distinct()
              .join(dist, Seq("id"), "left_anti")
              .select(col("id"), lit(i.toLong).as("dist"))
            dist = cutLineage(dist.unionAll(next))
          }
          dist
        }
        val seed = nb.agg(min("u").as("id"))
        val d1 = bfs(seed)
        val far = d1.orderBy(col("dist").desc, col("id").asc).limit(1)
        val d2 = bfs(far.select("id"))
        val ecc1 = far.select(col("id").as("far_node"),
          col("dist").as("ecc_seed"))
        val agg2 = d2.agg(max("dist").as("diameter_lb"),
          count(lit(1)).as("n_reached"))
        seed.select(col("id").cast("long").as("seed_node"))
          .crossJoin(broadcast(ecc1)).crossJoin(agg2)
          .select(col("seed_node"),
            col("far_node").cast("long").as("far_node"),
            col("ecc_seed").cast("long").as("ecc_seed"),
            col("diameter_lb").cast("long").as("diameter_lb"),
            col("n_reached").cast("long").as("n_reached"))
      },
      Some("""WITH RECURSIVE lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT p1, p2, w FROM (
             |      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2) WHERE w >= 3),
             |nb AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM e UNION ALL SELECT p2, p1 FROM e),
             |seed AS (SELECT min(u) AS s FROM nb),
             |b1(v, dist) AS (
             |  SELECT s, 0 FROM seed
             |  UNION
             |  SELECT nb.v, b1.dist + 1 FROM b1 JOIN nb ON nb.u = b1.v WHERE b1.dist < 6),
             |d1 AS (SELECT v, min(dist) AS dist FROM b1 GROUP BY 1),
             |far AS (SELECT v AS f, dist AS ecc1 FROM d1 ORDER BY dist DESC, v LIMIT 1),
             |b2(v, dist) AS (
             |  SELECT f, 0 FROM far
             |  UNION
             |  SELECT nb.v, b2.dist + 1 FROM b2 JOIN nb ON nb.u = b2.v WHERE b2.dist < 6),
             |d2 AS (SELECT v, min(dist) AS dist FROM b2 GROUP BY 1)
             |SELECT (SELECT CAST(s AS BIGINT) FROM seed) AS seed_node,
             |  (SELECT CAST(f AS BIGINT) FROM far) AS far_node,
             |  (SELECT CAST(ecc1 AS BIGINT) FROM far) AS ecc_seed,
             |  (SELECT CAST(max(dist) AS BIGINT) FROM d2) AS diameter_lb,
             |  (SELECT CAST(count(*) AS BIGINT) FROM d2) AS n_reached""".stripMargin)),

    // conductance of the LPA partition's top-10 communities: cut weight
    // over min(volume, 2m − volume) — the partition-QUALITY readout
    // that closes the community-detection loop (q_label_prop finds the
    // partition, q_modularity scores the global split, conductance
    // names WHICH communities leak). Labels are the shared 4-round LPA
    // map; volumes/cuts are two label-joined edge aggregates, exact
    // integer ratios; the output is label-invariant (sizes, volumes,
    // cuts — never the arbitrary label ids).
    QueryDef(
      "q_conductance",
      (s, d) => {
        val nb = copurchaseDirected(s, d)._1
          .where(col("w") >= 3).select("u", "v", "w")
        val lab = lpaLabels(s, d)
        val vol = nb.join(lab, "u").groupBy("label").agg(sum("w").as("vol"))
        val m2 = nb.agg(sum("w").as("tot"))
        val cut = nb.join(lab.select(col("u"), col("label").as("lu")), "u")
          .join(lab.select(col("u").as("v"), col("label").as("lv")), "v")
          .where(col("lu") =!= col("lv"))
          .groupBy(col("lu").as("label")).agg(sum("w").as("cut"))
        val sz = lab.groupBy("label").agg(count(lit(1)).as("n_nodes"))
        sz.join(vol, "label").join(cut, Seq("label"), "left")
          .crossJoin(m2)
          .where(col("vol") < col("tot"))
          .select(col("n_nodes").cast("long").as("n_nodes"),
            col("vol").cast("long").as("volume"),
            coalesce(col("cut"), lit(0L)).cast("long").as("cut_w"),
            expr("""CAST((1000000 * coalesce(cut, 0))
                   |  div least(vol, tot - vol) AS BIGINT)""".stripMargin)
              .as("conductance_micro"))
          .orderBy(col("n_nodes").desc, col("volume").desc, col("cut_w"))
          .limit(10)
      },
      Some(conductanceOracle)),

    // Katz centrality (4 terms, attenuation β = 1/8) on the w ≥ 3
    // co-purchase graph — the walk-counting centrality between degree
    // (k = 1 only) and PageRank (the k → ∞ random-walk limit): a node
    // is central if MANY short walks end there. Unweighted walk counts
    // are EXACT integers (c₁ = degree, cₖ = Σ_{u→v} cₖ₋₁(u)), so with
    // the exact rational β = 1/8 the whole score is integer arithmetic
    // — Σₖ (10⁶·cₖ) div 8ᵏ — and bit-stable with no FP anywhere, where
    // the classic eigenvector formulation would force doubles. Four
    // bounded join+agg rounds over the stored artifact adjacency (the
    // q_weighted_pagerank linear-chain shape: no lineage cuts needed);
    // walk counts widen through DECIMAL(38,0) because c₄ ≤ deg⁴ passes
    // 2⁶³ on high-degree corpora. The oracle unrolls the four rounds as
    // CTEs.
    QueryDef(
      "q_katz",
      (s, d) => {
        // four consumers (the initial in-degree pass + three walk
        // rounds, all joining on u): cache the filtered adjacency
        // partitioned by u once ([[Loop.partitionedEdgeCache]])
        val nb = partitionedEdgeCache(
          copurchaseDirected(s, d)._1
            .where(col("w") >= 3).select("u", "v"), col("u"))
        var c = nb.groupBy("v").agg(count(lit(1)).as("c"))
          .select(col("v").as("id"), expr("CAST(c AS DECIMAL(38,0))").as("c"))
        var katz = c.select(col("id"),
          expr("CAST((1000000 * c) div 8 AS DECIMAL(38,0))").as("k"))
        for (i <- 2 to 4) {
          c = nb.join(c, nb("u") === c("id"))
            .groupBy(nb("v").as("id0")).agg(sum("c").as("c"))
            .select(col("id0").as("id"), col("c"))
          katz = katz.join(c.select(col("id"),
              expr(s"CAST((1000000 * c) div ${math.pow(8, i).toLong} AS DECIMAL(38,0))")
                .as("ki")), Seq("id"), "full_outer")
            .select(col("id"),
              (coalesce(col("k"), lit(0L)) + coalesce(col("ki"), lit(0L))).as("k"))
        }
        katz.select(col("id").cast("long").as("part_id"),
            col("k").cast("long").as("katz_micro"))
          .orderBy(col("katz_micro").desc, col("part_id")).limit(15)
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT p1, p2, w FROM (
             |      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2) WHERE w >= 3),
             |nb AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM e UNION ALL SELECT p2, p1 FROM e),
             |c1 AS (SELECT v AS id, CAST(count(*) AS HUGEINT) AS c FROM nb GROUP BY 1),
             |c2 AS (SELECT nb.v AS id, sum(c1.c) AS c FROM nb JOIN c1 ON c1.id = nb.u GROUP BY 1),
             |c3 AS (SELECT nb.v AS id, sum(c2.c) AS c FROM nb JOIN c2 ON c2.id = nb.u GROUP BY 1),
             |c4 AS (SELECT nb.v AS id, sum(c3.c) AS c FROM nb JOIN c3 ON c3.id = nb.u GROUP BY 1),
             |katz AS (SELECT c1.id,
             |    (1000000 * c1.c) // 8
             |    + coalesce((1000000 * c2.c) // 64, 0)
             |    + coalesce((1000000 * c3.c) // 512, 0)
             |    + coalesce((1000000 * c4.c) // 4096, 0) AS k
             |  FROM c1 LEFT JOIN c2 USING (id) LEFT JOIN c3 USING (id)
             |  LEFT JOIN c4 USING (id))
             |SELECT CAST(id AS BIGINT) AS part_id, CAST(k AS BIGINT) AS katz_micro
             |FROM katz ORDER BY katz_micro DESC, part_id LIMIT 15""".stripMargin)),

    // Adamic–Adar link prediction over the co-purchase graph — the
    // inverse-log-degree refinement of q_link_predict's common-neighbor
    // count: a shared LOW-degree neighbor is stronger evidence than a
    // shared hub, AA(a,b) = Σ_{z ∈ CN} 1/ln(deg z). Same production
    // shape as q_link_predict (seed slice p < 100, per-node top-256
    // neighbor cap bounding the wedge fan-out at any scale — the cap
    // exceeds every fixture degree so the uncapped oracle matches
    // hash-for-hash; wedges are equi-joins; candidates anti-join the
    // edge list). Each wedge center's 1/ln(deg) term nano-quantizes
    // BEFORE the per-pair sum (house rule); deg ≥ 2 for any common
    // neighbor of two distinct nodes, so ln never hits 0.
    QueryDef(
      "q_adamic_adar",
      (s, d) => {
        val (e, deg) = copurchaseGraph(s, d)
        val nb = cappedAdjacency(s, d)
        // deg = 1 nodes can never be a wedge center (their only
        // neighbor IS the seed), and ln(1) = 0 would be a cast-of-Inf
        // crash in the oracle engine — filter them out of the term
        // table in both engines
        val zterm = deg.where(col("deg") >= 2).select(col("p").as("q"),
          expr("CAST(round(1e9 / ln(CAST(deg AS DOUBLE))) AS BIGINT)").as("t"))
        val wedge = nb.where(col("p") < 100)
          .join(broadcast(zterm), "q")
          .join(nb.select(col("p").as("q"), col("q").as("b")), "q")
          .where(col("b") > col("p"))
          .groupBy(col("p").as("a"), col("b"))
          .agg(count(lit(1)).as("cn"), sum("t").as("aa_nano"))
        wedge.join(e, wedge("a") === e("p1") && wedge("b") === e("p2"),
            "left_anti")
          .select(col("a"), col("b"), col("cn"),
            expr("CAST(aa_nano div 1000 AS BIGINT)").as("aa_micro"))
          .orderBy(col("aa_micro").desc, col("a"), col("b")).limit(20)
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |deg AS MATERIALIZED (SELECT p, count(*) AS deg FROM (
             |        SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1),
             |zt AS (SELECT p AS q, CAST(round(1e9 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS t
             |       FROM deg WHERE deg >= 2),
             |nb AS MATERIALIZED (SELECT p1 AS p, p2 AS q FROM e UNION ALL SELECT p2, p1 FROM e),
             |wedge AS (SELECT s.p AS a, n2.q AS b, count(*) AS cn, sum(zt.t) AS aa_nano
             |          FROM (SELECT p, q FROM nb WHERE p < 100) s
             |          JOIN zt ON zt.q = s.q
             |          JOIN nb n2 ON n2.p = s.q
             |          WHERE n2.q > s.p GROUP BY 1, 2),
             |cand AS (SELECT w.a, w.b, w.cn, w.aa_nano FROM wedge w
             |         LEFT JOIN e ON e.p1 = w.a AND e.p2 = w.b
             |         WHERE e.p1 IS NULL)
             |SELECT a, b, cn, CAST(aa_nano // 1000 AS BIGINT) AS aa_micro
             |FROM cand ORDER BY aa_micro DESC, a, b LIMIT 20""".stripMargin)),

    // one round of distributed greedy matching (the Israeli–Itai /
    // local-max kernel): every node nominates its heaviest incident
    // edge (tie → min partner id), and an edge joins the matching iff
    // BOTH endpoints nominated it — a handshake that needs one p-keyed
    // window + one self-join, no coordination, and yields a maximal-
    // matching round whose weight is a ½-approximation in expectation.
    // This is the coarsening step multilevel graph partitioners run at
    // cluster scale; the readout is the matched-edge count, the share
    // of nodes paired off, and the matched weight mass. Reads the
    // published co-purchase artifact. The nomination is a MAP-COMBINED
    // max_by on the single integer key w·2³² + (2³²−1−v) — max weight,
    // tie min partner, in one hash aggregate (the first cut used a
    // per-node sort window and grew 12× at the 100× probe; the
    // aggregate form is 1.7× on the same data).
    QueryDef(
      "q_graph_matching",
      (s, d) => {
        val (e, deg) = copurchaseGraph(s, d)
        val nb = e.select(col("p1").as("u"), col("p2").as("v"), col("w"))
          .unionAll(e.select(col("p2").as("u"), col("p1").as("v"), col("w")))
        val best = nb.groupBy("u").agg(expr(
          "max_by(v, w * 4294967296 + (4294967295 - v))").as("v"))
        val matched = e
          .join(best.select(col("u").as("p1"), col("v").as("b1")), "p1")
          .join(best.select(col("u").as("p2"), col("v").as("b2")), "p2")
          .where(col("b1") === col("p2") && col("b2") === col("p1"))
        val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
        matched.agg(count(lit(1)).as("n_matched"),
            sum(expr("CAST(w AS DECIMAL(38,0))")).as("wsum"))
          .crossJoin(nNodes)
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select(col("n_edges").cast("long").as("n_edges"),
            col("n_matched").cast("long").as("n_matched"),
            col("wsum").cast("long").as("matched_weight"),
            expr("CAST((1000000 * 2 * n_matched) div n_nodes AS BIGINT)")
              .as("paired_share_micro"))
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT p1, p2, w FROM (
             |      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2)),
             |deg AS (SELECT p FROM (SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e)
             |        GROUP BY 1),
             |nb AS (SELECT p1 AS u, p2 AS v, w FROM e UNION ALL SELECT p2, p1, w FROM e),
             |best AS (SELECT u,
             |    arg_max(v, w * 4294967296 + (4294967295 - v)) AS v
             |  FROM nb GROUP BY 1),
             |m AS (SELECT e.w FROM e
             |  JOIN best b1 ON b1.u = e.p1 JOIN best b2 ON b2.u = e.p2
             |  WHERE b1.v = e.p2 AND b2.v = e.p1)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             |  CAST(count(*) AS BIGINT) AS n_matched,
             |  CAST(sum(CAST(w AS HUGEINT)) AS BIGINT) AS matched_weight,
             |  CAST((1000000 * 2 * count(*)) // (SELECT count(*) FROM deg) AS BIGINT)
             |    AS paired_share_micro
             |FROM m""".stripMargin))
  )

  /** The 4-round synchronous min-label LPA labels on the w ≥ 3
    * co-purchase adjacency — shared by q_label_prop (size histogram)
    * and q_conductance (partition-quality readout). The iterative build
    * runs ONCE per (JVM, dataset) and is published as a parquet
    * artifact ([[Artifacts.dirFor]], the copurchase-cc pattern): at
    * 100 TB a community-label map is a published table every partition-
    * quality report joins against, not a 4-round job each report
    * re-runs. `ArtifactSpec` pins stored ≡ fresh. */
  private[graft] def lpaLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.dirFor(s"lpa:3:4:$d", { out =>
      lpaLabelsRaw(s, d).write.parquet(s"$out/labels")
    })
    s.read.parquet(s"$dir/labels")
  }

  /** The uncached build path of [[lpaLabels]] — what the artifact
    * materializes. Each round is one adjacency join + a u-PARTITIONED
    * rank window (never global), lineage cut per round (q_kcore
    * convention). Kept callable so `ArtifactSpec` can prove the stored
    * map equals a fresh derivation. */
  private[graft] def lpaLabelsRaw(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val nb = copurchaseDirected(s, d)._1
      .where(col("w") >= 3).select("u", "v", "w")
    var lbl = nb.select(col("u")).distinct()
      .select(col("u"), col("u").as("label"))
    for (_ <- 1 to 4) {
      val w = Window.partitionBy("u")
        .orderBy(col("tw").desc, col("label").asc)
      lbl = cutLineage(nb
        .join(lbl.select(col("u").as("v"), col("label")), "v")
        .groupBy("u", "label").agg(sum("w").as("tw"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select("u", "label"))
    }
    lbl
  }

  /** The shared WITH-body of the unrolled 4-round LPA oracles:
    * thresholded graph + l1..l4 label CTEs, min-label tiebreak mirrored
    * via the same (tw DESC, label) rank the Spark loop uses. */
  private def lpaOracleCtes: String = {
    val graph =
      """WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT p1, p2, w FROM (
        |      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
        |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2) WHERE w >= 3),
        |nb AS MATERIALIZED (SELECT p1 AS u, p2 AS v, w FROM e UNION ALL SELECT p2, p1, w FROM e),
        |l0 AS (SELECT DISTINCT u, u AS label FROM nb)""".stripMargin
    val iters = (1 to 4).map { k =>
      s"""l$k AS MATERIALIZED (SELECT u, label FROM (
         |  SELECT n.u, l.label, sum(n.w) AS tw,
         |    row_number() OVER (PARTITION BY n.u ORDER BY sum(n.w) DESC, l.label) AS rn
         |  FROM nb n JOIN l${k - 1} l ON l.u = n.v GROUP BY n.u, l.label) WHERE rn = 1)"""
        .stripMargin
    }
    (graph +: iters).mkString(",\n")
  }

  private def labelPropOracle: String =
    lpaOracleCtes +
      """
        |, comm AS (SELECT label, count(*) AS sz FROM l4 GROUP BY 1)
        |SELECT CAST(sz AS BIGINT) AS community_size,
        |  CAST(count(*) AS BIGINT) AS n_communities
        |FROM comm GROUP BY 1 ORDER BY 1""".stripMargin

  private def conductanceOracle: String =
    lpaOracleCtes +
      """
        |, lab AS (SELECT u, label FROM l4),
        |vol AS (SELECT la.label, sum(nb.w) AS vol FROM nb JOIN lab la ON la.u = nb.u GROUP BY 1),
        |m2 AS (SELECT sum(w) AS tot FROM nb),
        |cut AS (SELECT la.label, sum(nb.w) AS cut FROM nb
        |  JOIN lab la ON la.u = nb.u JOIN lab lb ON lb.u = nb.v
        |  WHERE la.label <> lb.label GROUP BY 1),
        |sz AS (SELECT label, count(*) AS n_nodes FROM lab GROUP BY 1)
        |SELECT CAST(s.n_nodes AS BIGINT) AS n_nodes,
        |  CAST(v.vol AS BIGINT) AS volume, CAST(coalesce(c.cut, 0) AS BIGINT) AS cut_w,
        |  CAST((1000000 * coalesce(c.cut, 0))
        |    // least(v.vol, (SELECT tot FROM m2) - v.vol) AS BIGINT) AS conductance_micro
        |FROM sz s JOIN vol v USING (label) LEFT JOIN cut c USING (label)
        |WHERE v.vol < (SELECT tot FROM m2)
        |ORDER BY n_nodes DESC, volume DESC, cut_w LIMIT 10""".stripMargin

  /** Fixed-point WEIGHTED PageRank oracle — six unrolled stages over the
    * co-purchase edge list, integer arithmetic mirroring the Spark loop
    * term for term (`//` ↔ `div`, HUGEINT ↔ DECIMAL(38,0)). */
  private def weightedPagerankOracle: String = {
    val graph =
      """WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
        |      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2),
        |nb AS MATERIALIZED (SELECT p1 AS u, p2 AS v, w FROM e UNION ALL SELECT p2, p1, w FROM e),
        |st AS MATERIALIZED (SELECT u, sum(w) AS s FROM nb GROUP BY 1),
        |pr0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM st)""".stripMargin
    val iters = (1 to 6).map { k =>
      s"""pr$k AS MATERIALIZED (SELECT nb.v AS id,
         |    CAST(150000 + 850000 * sum(pr${k - 1}.r * nb.w // st.s) // 1000000 AS BIGINT) AS r
         |  FROM nb JOIN pr${k - 1} ON pr${k - 1}.id = nb.u JOIN st ON st.u = nb.u
         |  GROUP BY 1)""".stripMargin
    }
    (graph +: iters).mkString(",\n") +
      "\nSELECT id AS part_id, r AS rank_micro FROM pr6" +
      "\nORDER BY rank_micro DESC, part_id LIMIT 25"
  }

  /** Customer→part purchase incidence (distinct pairs via orders⋈lineitem),
    * published once per (JVM, dataset) as a parquet artifact
    * ([[Artifacts.dirFor]]) — the bipartite graph [[q_hits]] iterates on;
    * the artifact read is the lineage cut that keeps each power iteration
    * from re-deriving the join. */
  private[graft] def custPartIncidence(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.dirFor(s"custpart:$d", { out =>
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
        .write.parquet(s"$out/edges")
    })
    s.read.parquet(s"$dir/edges")
  }

  /** Exact-integer HITS oracle — unnormalized hub/authority half-steps
    * over the customer→part incidence in HUGEINT, one final L1
    * normalization to the 1e9 scale, mirroring the Spark loop term for
    * term. */
  private def hitsOracle: String = {
    val graph =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |h0 AS (SELECT DISTINCT c, CAST(1 AS HUGEINT) AS h FROM e)""".stripMargin
    val iters = (1 to 2).map { k =>
      s"""a$k AS MATERIALIZED (SELECT e.p, sum(h${k - 1}.h) AS a
         |  FROM e JOIN h${k - 1} ON h${k - 1}.c = e.c GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT e.c, sum(a$k.a) AS h
         |  FROM e JOIN a$k ON a$k.p = e.p GROUP BY 1)""".stripMargin
    }
    (graph +: iters).mkString(",\n") +
      "\nSELECT p AS partkey," +
      "\n  CAST(a * 1000000000 // (SELECT sum(a) FROM a2) AS BIGINT) AS auth_nano" +
      "\nFROM a2 ORDER BY auth_nano DESC, partkey LIMIT 10"
  }
}
