package graft

import graft.operators.{Loop, Release}
import org.apache.spark.sql.DataFrame

/** Invariants of the release-stage operators that the DuckDB hash oracle
  * cannot express: leakage-freedom of the split, rank conservation of the
  * fixed-point PageRank, and the non-overlap law of interval islands. */
class ReleaseSpec extends SparkSpec {

  private def run(name: String): DataFrame =
    Release.defs.find(_.name == name).get.fn(spark, sf)

  test("partitionedEdgeCache: keyed join reuses the cached HashPartitioning — no edge-side exchange") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the helper's whole value is the partitioning surviving into the
    // per-round join; a silent regression (e.g. a column rename breaking
    // the key) would degrade every loop round to a data-sized exchange
    // with all rows still green — exactly what a spec must pin. Plain
    // (non-adaptive, non-broadcast) planning so the exchange count is
    // deterministic.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (nbw, _) = Release.copurchaseDirected(spark, sf)
      val cached = Loop.partitionedEdgeCache(
        nbw.select(col("u").as("src"), col("v"), col("fm")), col("src"))
      val nodes = Release.copurchaseGraph(spark, sf)._2
        .select(col("p").as("id"), lit(1L).as("r"))
      val round = nodes.join(cached, col("id") === col("src"))
        .groupBy("v").agg(sum(expr("(r * fm) div 1073741824")).as("cs"))
      assert(round.count() > 0)
      val plan = round.queryExecution.executedPlan
      // assert the INVARIANT, not the global plan shape (r14 advice: a
      // global exchange count of 2 and a plan-string substring both
      // break noisily on a Spark upgrade that renames a node or folds
      // the groupBy exchange): exactly one join, whose cache side reads
      // an InMemoryTableScanExec (matched by node CLASS) with ZERO
      // ShuffleExchangeExec anywhere in that subtree — the cached
      // layout reached the join unre-exchanged
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val joins = plan.collect { case j: BaseJoinExec => j }
      assert(joins.size == 1, s"expected exactly 1 join, got ${joins.size}:\n$plan")
      val cacheSides = joins.head.children.filter(
        _.collect { case c: InMemoryTableScanExec => c }.nonEmpty)
      assert(cacheSides.size == 1,
        s"expected exactly one join side reading the partitioned cache:\n$plan")
      val edgeSideShuffles =
        cacheSides.head.collect { case e: ShuffleExchangeExec => e }
      assert(edgeSideShuffles.isEmpty,
        s"the cached edge side re-exchanged — the cached HashPartitioning " +
          s"did not survive into the join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      graft.operators.GlobalOrder.release(blocking = true)
    }
  }

  test("q_split_assign: no near-dup cluster straddles a split boundary") {
    val rows = run("q_split_assign").collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1)).view.mapValues(_.map(_.getString(2)).distinct)
    assert(byCluster.values.forall(_.length == 1),
      "a cluster was assigned to more than one split — leakage")
    // all three splits populated, with train the large share
    val share = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(share.keySet == Set("train", "valid", "test"))
    assert(share("train") > share("valid") && share("train") > share("test"))
  }

  test("q_ppr: restart mass floor and truncating-fixed-point mass bound under the fm fold") {
    // the r14 fm fold changed the round arithmetic ((r·fm) div 2³⁰ for
    // fm = (w·2³⁰) div tw); the conservation law is fold-independent:
    // fm ≤ 2³⁰·w/tw ⇒ per-round transferred mass ≤ Σr, so by induction
    // Σr ≤ 1e9 nano every round (truncation only loses mass), and the
    // seed's restart injection guarantees the global max ≥ 0.15e9
    val rows = run("q_ppr").collect()
    assert(rows.length == 10)
    val rs = rows.map(_.getLong(1))
    assert(rs.forall(_ >= 0L), "negative ppr mass")
    assert(rs.sameElements(rs.sorted.reverse), "top-10 not rank-ordered")
    assert(rs.max >= 150000000L,
      s"global max ${rs.max} below the seed restart floor")
    assert(rs.sum <= 1000000000L,
      s"top-10 mass ${rs.sum} exceeds the 1e9 conservation bound")
  }

  test("q_pagerank: ranks positive and total rank conserved within truncation loss") {
    val rows = run("q_pagerank").collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val total = rows.map(_.getLong(2)).sum
    assert(rows.forall(_.getLong(2) >= 150000000L)) // the damping floor
    // integer-division truncation only loses rank: total ∈ (0.97·n·1e9, n·1e9]
    assert(total <= n * 1000000000L)
    assert(total > (n * 1000000000L * 97) / 100, s"lost too much rank: $total of ${n * 1000000000L}")
  }

  test("q_islands: islands are disjoint, ordered, and cover ≥ one interval") {
    val rows = run("q_islands").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(5) >= 300L && r.getLong(2) >= 1L))
    rows.groupBy(_.getLong(0)).foreach { case (user, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next island starts strictly after the previous union ends
          assert(b.getTimestamp(3).after(a.getTimestamp(4)),
            s"user $user islands ${a.getInt(1)} and ${b.getInt(1)} overlap")
        case _ =>
      }
    }
  }

  test("q_manifest: accounting agrees with q_split_assign; dedup never grows a split") {
    val man = run("q_manifest").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(man.keySet == Set("train", "valid", "test"))
    val assign = run("q_split_assign").collect().groupBy(_.getString(2))
    for ((part, rows) <- assign) {
      val (members, released) = man(part)
      assert(members == rows.length, s"$part member count")
      assert(released == rows.map(_.getLong(1)).distinct.length,
        s"$part released-doc count must equal its distinct clusters")
      assert(released <= members)
    }
  }

  test("q_gap_fill: dense 30-day × type grid with zero-filled holes") {
    val rows = run("q_gap_fill").collect()
    val types = rows.map(_.getString(1)).distinct.length
    assert(rows.length == 30 * types)
    assert(rows.exists(_.getLong(2) == 0L), "expected at least one gap day")
  }
}
