package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import scala.concurrent.{Await, duration}

/** Loop state in ONE place: how an iterative frame's lineage is cut
  * ([[cutLineage]], optionally reading the loop's convergence counters
  * from the cut's own job) and how a loop-static frame is pinned
  * ([[partitionedEdgeCache]], [[pinnedPersist]]). `LoopSpec` fails on a
  * checkpoint call anywhere else, so the policy cannot fork per caller. */
object Loop {

  /** Eager lineage cut. With a session checkpoint dir it is RELIABLE:
    * it survives executor loss (on a real cluster a localCheckpoint'd
    * iteration dies with any one executor), and it pins no blocks
    * (localCheckpoint blocks cannot be recomputed, so a corpus-scale
    * edge list held in block storage starves hash aggregation of
    * execution memory; the 100× probe hit exactly that). Without one it
    * is a localCheckpoint, fine for local[n] runs. Reliable checkpoint
    * files are NOT auto-deleted
    * (spark.cleaner.referenceTracking.cleanCheckpoints is off by
    * default): whoever sets the checkpoint dir owns its cleanup. */
  private[graft] def cutLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

  /** [[cutLineage]] plus aggregate `metrics` over the cut frame's rows,
    * gathered by `Dataset.observe` inside the cut's own eager job: a loop
    * reads its convergence test with no probe job. An empty frame gives
    * the aggregates' empty values (0 for a count). Every cut observes
    * under one fixed name: the session keys an observation by name AND
    * frame id, so cuts in flight at once never collide (`LoopSpec` runs
    * two on two threads), and a cut prints the same plan on every build
    * where an unnamed `Observation()` would print a fresh UUID. */
  private[graft] def cutLineage(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation("loop_cut")
    val cut = cutLineage(df.observe(obs, metrics.head, metrics.tail: _*))
    (cut, Await.result(obs.future, duration.Duration.Inf))
  }

  /** The iterative-graph cache convention, defined ONCE (it was
    * triplicated across q_ppr / q_weighted_pagerank / q_bfs_layers and
    * each copy carried its own rationale comment — three copies of a
    * subtle convention is how the fourth gets it wrong):
    *
    * Scope (r15 doc generalization, per the r14 advice): any LOOP-STATIC
    * frame every round joins on a SINGLE fixed key — the data-sized edge
    * frame is the motivating case and the naming case, but a node-sized
    * base frame read k times on the same key (q_ppr's restart frame,
    * nine consumers on `id`) earns the same treatment: the partitioned
    * layout kills the per-round exchange wherever the OTHER side stops
    * broadcasting, and the build-time sort below hands sort-merge both
    * requirements whichever side of the join the cache lands on.
    *
    * Hash-partition the static frame by the loop's join key ONCE and
    * persist MEMORY_AND_DISK. Every round's join then reuses the cached
    * layout and shuffles only the skinny evolving side (rank / frontier
    * / survivor set) — the GraphX contract. Without this, each round
    * re-scans AND re-exchanges the data-sized static frame: k rounds =
    * k full shuffles of the one input that grows with the corpus.
    * Measured (round 13, 100× probes): q_ppr 131 → 56.6 s,
    * q_weighted_pagerank 70.3 → 40.7 s. A `bucketBy(key).saveAsTable`
    * layout is NOT a substitute — it avoids the exchange but not the
    * per-round parquet re-decode (measured 3.6× worse; BENCH.md r13).
    *
    * The frame is pinned via [[GlobalOrder.pinPersisted]], so the
    * harness's per-query release drains the blocks after the consuming
    * action — callers outside [[graft.Harness.run]] must drain via
    * `GlobalOrder.release()` (or run inside `GlobalOrder.scoped`) or
    * the MEMORY_AND_DISK blocks leak for the session lifetime.
    *
    * CUT POLICY for the loop body built on top of this cache: cut
    * lineage ([[cutLineage]]) at depth ≤ 2 — the per-round join
    * broadcasts the evolving side at bench scale, and a broadcast
    * exchange materializes its child eagerly with no cross-round stage
    * reuse, so an uncut "linear" chain replays quadratically (measured:
    * dropping q_ppr's cuts doubled it, 5.4 → 11 s; adding
    * every-2nd-round cuts to q_weighted_pagerank took its 100× probe
    * 53.9 → 34.7 s). Do NOT try to dodge the cuts by forcing the
    * evolving side to SHUFFLE instead (shuffle_hash hints): measured
    * round 14 on q_ppr, the all-shuffle form was worse on BOTH axes —
    * sf0.1 4.6 s (broadcast+cuts) vs 20.4 s (shj+cuts) / 34.9 s (shj
    * uncut), 100× 52.2 vs 43.9 / 69.7 s — the uncut-shj numbers show
    * the chain still replays (AQE stage materialization does not reuse
    * map outputs across the re-planned sub-stages), and the per-round
    * shuffle of the evolving side costs far more than the broadcast it
    * replaces wherever the rank frame is broadcastable. BENCH.md r14. */
  private[graft] def partitionedEdgeCache(df: DataFrame, key: Column): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    GlobalOrder.pinPersisted(
      df.repartition(parts, key)
        // sorted ONCE at cache build: at bench scale the evolving side
        // broadcasts and the ordering is irrelevant, but at the scale
        // where it stops broadcasting the per-round join plans as
        // sort-merge — InMemoryRelation preserves outputOrdering, so a
        // pre-sorted cache hands SMJ both the partitioning AND the
        // order and only the skinny evolving side sorts per round,
        // instead of the data-sized edge frame re-sorting k times
        .sortWithinPartitions(key)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Pin-scoped plain persist (no re-partitioning) for node-sized frames
    * a loop reads every round — same release contract as
    * [[partitionedEdgeCache]]. */
  private[graft] def pinnedPersist(df: DataFrame): DataFrame =
    GlobalOrder.pinPersisted(
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
}
