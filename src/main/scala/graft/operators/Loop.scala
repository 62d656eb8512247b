package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, duration}
import scala.util.DynamicVariable

/** Loop state in ONE place: how an iterative frame's lineage is cut
  * ([[cutLineage]], optionally reading the loop's convergence counters
  * from the cut's own job) and how a frame is pinned and released
  * ([[pinnedPersist]], [[partitionedEdgeCache]], [[scoped]]). `LoopSpec`
  * fails on a checkpoint, persist, cache or unpersist call anywhere else
  * (the dashboard's session-lifetime view aside), so the policy cannot
  * fork per caller.
  *
  * PIN CONTRACT. A program pins a frame whose consumers span several
  * jobs: a GlobalOrder ranked projection (its offsets job and final pass
  * must see one range partitioning), a loop-static frame read every
  * round, a frame several branches of one query read. The pin must
  * outlive the consuming action, which a lazily returned DataFrame cannot
  * scope on its own, so [[pinnedPersist]] registers every pin on the
  * current thread's handle:
  *  - inside [[scoped]], the scope's own handle, released (blocking) when
  *    the scope exits, normally or by a throw. [[graft.Harness.run]] (every
  *    main, the registry sweep), each curation micro-batch and each IVF
  *    append run in a scope, so a run releases exactly the pins it took
  *    and never another thread's;
  *  - outside any scope, the process-wide default handle, which
  *    `GlobalOrder.release()` drains. A caller that runs pinning queries
  *    outside a scope and never drains leaks MEMORY_AND_DISK blocks for
  *    the session lifetime (disk-backed blocks are never LRU-reclaimed
  *    before context shutdown).
  *
  * Consume a pinned result before its release: re-executing it after
  * recomputes the pinned plan and loses the cross-job consistency the pin
  * exists for. Spark's CacheManager keys a persist by logical plan, so two
  * scopes that pin the same plan share one entry, and the first release
  * drops it for both. */
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
    * nine consumers on `id`) earns the same treatment.
    *
    * Hash-partition the static frame by the loop's join key ONCE and
    * persist MEMORY_AND_DISK. Without this, each round re-scans and
    * re-decodes the data-sized static frame. The layout itself is reused
    * only where the round broadcasts the evolving side (no exchange on
    * either side): under AQE (the default) a persisted frame reports
    * UnknownPartitioning(0), not hashpartitioning(key, n), so a round
    * that shuffles the evolving side re-exchanges the cache too; with
    * AQE off it keeps the layout and only the skinny side shuffles.
    * Measured (round 13, 100× probes): q_ppr 131 → 56.6 s,
    * q_weighted_pagerank 70.3 → 40.7 s. A `bucketBy(key).saveAsTable`
    * layout is NOT a substitute — it avoids the exchange but not the
    * per-round parquet re-decode (measured 3.6× worse; BENCH.md r13).
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
    pinnedPersist(
      df.repartition(parts, key)
        // sorted ONCE at cache build: at bench scale the evolving side
        // broadcasts and the ordering is irrelevant, but at the scale
        // where it stops broadcasting the per-round join plans as
        // sort-merge — with AQE off, InMemoryRelation preserves
        // outputOrdering, so a pre-sorted cache hands SMJ both the
        // partitioning AND the order and only the skinny evolving side
        // sorts per round, instead of the data-sized edge frame
        // re-sorting k times (under AQE the cache is re-exchanged, above)
        .sortWithinPartitions(key))
  }

  /** The pins one scope took; for [[defaultHandle]], every pin taken
    * outside a scope. */
  private[operators] final class PinHandle {
    private val pins = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

    def add(df: DataFrame): DataFrame = { pins.add(df); df }

    /** Unpersists every frame pinned here; idempotent. `blocking` waits
      * for block removal, so async cleanup cannot bleed into whatever the
      * caller times next. */
    def release(blocking: Boolean): Unit = {
      var d = pins.poll()
      while (d != null) { d.unpersist(blocking); d = pins.poll() }
    }
  }

  /** Receives the pins taken outside any [[scoped]] block. */
  private[operators] val defaultHandle = new PinHandle

  /** The handle receiving pins on the current thread. Child threads
    * inherit it, and two scopes on two threads never share one. */
  private val current = new DynamicVariable[PinHandle](defaultHandle)

  /** The one way to pin: persists `df` MEMORY_AND_DISK and registers it on
    * the current handle (see the pin contract above). */
  private[graft] def pinnedPersist(df: DataFrame): DataFrame =
    current.value.add(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Runs `body` under a fresh handle and releases that handle, blocking,
    * when `body` returns or throws: every pin `body` took, and no other. */
  def scoped[T](body: => T): T = {
    val handle = new PinHandle
    try current.withValue(handle)(body) finally handle.release(blocking = true)
  }
}
