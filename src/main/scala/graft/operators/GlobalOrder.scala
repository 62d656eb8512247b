package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed dense global ordering — the scale-safe replacement for the
  * `Window.orderBy(...)` (no partition) idiom, which funnels the entire
  * dataset through ONE task (Spark itself warns `WindowExec: No Partition
  * Defined`). At 100 TB that single task is the whole job.
  *
  * The pattern here is the classic two-phase global rank:
  *   1. `repartitionByRange` on the order keys (one real shuffle; range
  *      boundaries from Spark's deterministic reservoir sample) and sort
  *      within each partition — the data is now globally ordered across
  *      partitions and locally ordered within them;
  *   2. `monotonically_increasing_id()` evaluated above that sort encodes
  *      `(partition index << 33) | local position` in one codegen'd
  *      expression — no window, no extra shuffle;
  *   3. per-partition row counts (a ≤ numShufflePartitions-row aggregate)
  *      are prefix-summed into start offsets — the only partitionless
  *      window in the plan runs over that config-bounded tiny table, never
  *      over data — and broadcast-joined back: global position = partition
  *      offset + local position + 1.
  *
  * Cost: ONE data-sized shuffle plus one map-side-combined count pass,
  * fully parallel at any scale. The order must be TOTAL (include a unique
  * tiebreak column): with a total order, every row's global position is
  * independent of where the range boundaries land. The boundaries must
  * still be CONSISTENT between the count pass and the final pass — the
  * two jobs would otherwise re-execute the upstream plan, which AQE may
  * re-plan differently per job — so the ranked projection is persisted
  * before either job runs (see [[withGlobalRowNumber]]).
  */
object GlobalOrder {

  private val LocalBits = 33 // monotonically_increasing_id: pid << 33 | local

  /** Drains the pins taken outside any [[Loop.scoped]] block (see
    * [[Loop]]'s pin contract). */
  def release(blocking: Boolean = false): Unit = Loop.defaultHandle.release(blocking)

  /** Adds a dense 1-based `out` BIGINT column: the row's position under
    * `order` (which must be a total order) across the whole dataset.
    *
    * The ranked projection is PERSISTED before the two consuming jobs
    * (the offset aggregate, then the final pass): each job would
    * otherwise re-execute the upstream plan, and AQE may re-plan its
    * shuffles differently per job — different input partitioning feeds
    * the range sampler different boundaries, and job-2 local positions
    * join against job-1 offsets, silently shifting every rank (observed
    * on a window+join upstream: ranks off by 14 on one run, correct on
    * the next). Same cross-job-consistency requirement as RDD
    * zipWithIndex; the materialized skinny projection is the price. At
    * cluster scale prefer a checkpoint if executor loss is in play. */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column], out: String): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val mid = Loop.pinnedPersist(df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_go_mid", monotonically_increasing_id())
      .withColumn("_go_pid", shiftright(col("_go_mid"), LocalBits))
      .withColumn("_go_loc", col("_go_mid").bitwiseAND(lit((1L << LocalBits) - 1))))
    val offsets = mid.groupBy("_go_pid").agg(count(lit(1)).as("_go_cnt"))
      .withColumn("_go_off", coalesce(
        sum("_go_cnt").over(Window.orderBy("_go_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_go_pid", "_go_off")
    mid.join(broadcast(offsets), "_go_pid")
      .withColumn(out, (col("_go_off") + col("_go_loc") + lit(1L)).cast("long"))
      .drop("_go_mid", "_go_pid", "_go_loc", "_go_off")
  }

  /** SQL-standard `ntile(k)` from a 1-based global position `rn` and total
    * row count `n`, in closed form (pure integer arithmetic, no window):
    * with n = k·q + r, the first r tiles hold q+1 rows and the rest hold q.
    * CaseWhen short-circuits, so the q=0 (n < k) case never divides by
    * zero. Matches Spark's and DuckDB's ntile exactly — `q_global_order`'s
    * oracle pins that equivalence.
    */
  def ntileFrom(rn: Column, n: Column, k: Int): Column = {
    // integer `div` (IntegralDivide), NOT Column./ which is double division
    // and loses exactness past 2^53 rows
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val q = idiv(n, lit(k.toLong))
    val r = n % k
    when(rn <= r * (q + 1), idiv(rn - 1, q + 1) + 1)
      .otherwise(r + idiv(rn - 1 - r * (q + 1), q) + 1)
      .cast("int")
  }

  /** Adds a global running total of `value` under `order` (which must be
    * total) as `out` — the scale-safe form of
    * `sum(value) OVER (ORDER BY ...)`, which Spark would otherwise plan as
    * a single-task partitionless window.
    *
    * Same two-phase shape as [[withGlobalRowNumber]], with the per-
    * partition COUNT offsets replaced by per-partition SUM offsets:
    * range-shuffle on the order keys, per-partition prefix sum (a window
    * PARTITIONED by the range-partition id — every task scans only its
    * own partition), and the ≤ numShufflePartitions-row offset table
    * prefix-summed and broadcast back. Two data-sized exchanges total
    * (the range shuffle, then the hash exchange the pid-keyed window
    * requires — partitions move as whole units, so no skew beyond the
    * range split itself); both fully parallel at any scale.
    */
  def withRunningTotal(df: DataFrame, order: Seq[Column], value: Column,
      out: String): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // persisted for the same cross-job consistency reason as
    // withGlobalRowNumber: the offsets job and the final pass must see
    // identical range partitioning
    val mid = Loop.pinnedPersist(df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_go_val", value.cast("long"))
      .withColumn("_go_pid",
        shiftright(monotonically_increasing_id(), LocalBits)))
    val local = mid.withColumn("_go_run",
      sum("_go_val").over(Window.partitionBy("_go_pid").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = mid.groupBy("_go_pid").agg(sum("_go_val").as("_go_psum"))
      .withColumn("_go_off", coalesce(
        sum("_go_psum").over(Window.orderBy("_go_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_go_pid", "_go_off")
    local.join(broadcast(offsets), "_go_pid")
      .withColumn(out, (col("_go_off") + col("_go_run")).cast("long"))
      .drop("_go_val", "_go_pid", "_go_run", "_go_off")
  }

  /** [[withRunningTotal]] AND [[withGlobalRowNumber]] under the SAME
    * total order in ONE range shuffle — r15 optimization for callers
    * that chained the two (each entry point re-range-shuffled, re-sorted
    * and re-persisted the frame the other had just ordered; guide §2.4
    * "two operations keyed the same way can share one exchange"). The
    * per-partition offset table carries BOTH the count prefix (for the
    * row number) and the value-sum prefix (for the running total); the
    * pid-keyed local window and the broadcast offsets join are shared.
    * Same total-order and cross-job-consistency contract as the single
    * helpers; the one persisted projection is pinned once. */
  def withRunningTotalAndRowNumber(df: DataFrame, order: Seq[Column],
      value: Column, runOut: String, rnOut: String): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val mid = Loop.pinnedPersist(df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_go_val", value.cast("long"))
      .withColumn("_go_mid", monotonically_increasing_id())
      .withColumn("_go_pid", shiftright(col("_go_mid"), LocalBits))
      .withColumn("_go_loc", col("_go_mid").bitwiseAND(lit((1L << LocalBits) - 1))))
    val prefixW = Window.orderBy("_go_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = mid.groupBy("_go_pid")
      .agg(count(lit(1)).as("_go_cnt"), sum("_go_val").as("_go_psum"))
      .withColumn("_go_coff", coalesce(sum("_go_cnt").over(prefixW), lit(0L)))
      .withColumn("_go_soff", coalesce(sum("_go_psum").over(prefixW), lit(0L)))
      .select("_go_pid", "_go_coff", "_go_soff")
    val local = mid.withColumn("_go_run",
      sum("_go_val").over(Window.partitionBy("_go_pid").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)))
    local.join(broadcast(offsets), "_go_pid")
      .withColumn(runOut, (col("_go_soff") + col("_go_run")).cast("long"))
      .withColumn(rnOut, (col("_go_coff") + col("_go_loc") + lit(1L)).cast("long"))
      .drop("_go_val", "_go_mid", "_go_pid", "_go_loc", "_go_run",
        "_go_coff", "_go_soff")
  }

  /** [[withGlobalRowNumber]] + [[ntileFrom]]: a scale-safe global
    * `ntile(k)` under `order`. The total count rides in as a broadcast
    * one-row cross join, so the whole thing stays one declarative plan.
    *
    * `total`: a one-row frame holding the row count as `_go_n`. Callers
    * chaining several ntile passes over the SAME rows (q_rfm's three
    * quartiles) should compute it once from the base frame and pass it
    * in — the default counts `df` itself, which for a chained call means
    * re-executing the previous pass's whole plan just to recount an
    * unchanged total. */
  def withGlobalNtile(df: DataFrame, order: Seq[Column], k: Int, out: String,
      total: Option[DataFrame] = None): DataFrame = {
    val tot = total.getOrElse(df.agg(count(lit(1)).cast("long").as("_go_n")))
    val rn = withGlobalRowNumber(df, order, "_go_rn")
    rn.crossJoin(broadcast(tot))
      .withColumn(out, ntileFrom(col("_go_rn"), col("_go_n"), k))
      .drop("_go_rn", "_go_n")
  }

  /** SEVERAL global `ntile(k)` columns over DIFFERENT orderings of the
    * same rows, in ONE skinny shuffle — the full frame is never shuffled
    * at all. Chaining [[withGlobalNtile]] D times range-shuffles the
    * whole (progressively wider) frame D times; this instead:
    *
    *   1. explodes a (dim index, long key, long tiebreak) projection —
    *      D·n skinny rows — and runs ONE two-phase global rank over
    *      (dim, key, tie), so each dimension's sorted run is a
    *      contiguous global-rank range starting at dim·n;
    *   2. computes the k−1 ntile cut RANKS per dimension in closed form
    *      from n alone (cut j sits at j·q + min(j, r) with n = k·q + r)
    *      and keeps only the ≤ D·(k−1) boundary KEYS at those ranks;
    *   3. broadcasts the boundary keys back and assigns each row's tile
    *      map-side: tile = 1 + #boundaries strictly below the row's
    *      (key, tie) — with a total order per dimension that is exactly
    *      SQL ntile (duplicate cut ranks from n < k stay in the list,
    *      reproducing the one-row-per-tile edge case).
    *
    * At 100 TB the win compounds: the shuffled bytes drop from D× the
    * full row width to D × 24 bytes/row, and the final assignment is a
    * broadcast hash join + a codegen'd array scan over ≤ D·(k−1)
    * structs. Each `dims` entry is (ASCENDING long sort key → output
    * column); negate the key for a descending dimension. `tie` must
    * make (key, tie) unique per dimension — same total-order contract
    * as every GlobalOrder entry point — and keys/tie must be NON-NULL:
    * a null key would make the `struct(key, tie) > boundary` comparison
    * in step 3 evaluate to null, silently parking every null-key row in
    * tile 1 instead of native ntile's nulls-first capacity split, so
    * the plan ASSERTS non-nullness on the skinny exploded frame (one
    * codegen'd predicate; callers with nullable dimensions must
    * coalesce to an explicit sentinel first and own its sort place). */
  def withGlobalNtiles(df: DataFrame, dims: Seq[(Column, String)],
      tie: Column, k: Int, total: Option[DataFrame] = None): DataFrame = {
    val tot = total.getOrElse(df.agg(count(lit(1)).cast("long").as("_go_n")))
    val exploded = df.select(tie.cast("long").as("_mt_tie"),
      posexplode(array(dims.map(_._1.cast("long")): _*))
        .as(Seq("_mt_d", "_mt_k")))
      .where(assert_true(col("_mt_k").isNotNull && col("_mt_tie").isNotNull,
        lit("withGlobalNtiles requires non-null sort keys and tiebreak: " +
          "a null key would silently land in tile 1 (the boundary " +
          "comparison is null-propagating); coalesce nullable dimensions " +
          "to an explicit sentinel first")).isNull)
    val ranked = withGlobalRowNumber(exploded,
      Seq(col("_mt_d").asc, col("_mt_k").asc, col("_mt_tie").asc), "_mt_rn")
    val cuts = tot
      .select(col("_go_n"),
        explode(sequence(lit(0), lit(dims.size - 1))).as("_mt_d"))
      .select(col("_go_n"), col("_mt_d"),
        explode(sequence(lit(1), lit(k - 1))).as("_mt_j"))
      .select(col("_mt_d"),
        (col("_mt_d").cast("long") * col("_go_n")
          + col("_mt_j").cast("long")
            * call_function("div", col("_go_n"), lit(k.toLong))
          + least(col("_mt_j").cast("long"), col("_go_n") % k)).as("_mt_rn"))
    // ≤ D·(k−1) boundary keys, sorted per dimension, pivoted into one
    // broadcastable row. The cuts side keeps ONLY the rank (the dim is
    // already encoded in the rank's range, and the ranked side carries
    // it); duplicate cut ranks from n < k survive the inner join, which
    // is what reproduces ntile's one-row-per-tile edge case.
    val bmap = ranked.join(broadcast(cuts.select("_mt_rn")), Seq("_mt_rn"))
      .groupBy("_mt_d")
      .agg(sort_array(collect_list(
        struct(col("_mt_k"), col("_mt_tie")))).as("_mt_b"))
      .agg(map_from_entries(collect_list(
        struct(col("_mt_d"), col("_mt_b")))).as("_mt_map"))
    val joined = df.crossJoin(broadcast(bmap))
    dims.zipWithIndex.foldLeft(joined) { case (acc, ((key, name), i)) =>
      acc.withColumn(name,
        (lit(1) + size(filter(element_at(col("_mt_map"), lit(i)),
          b => struct(key.cast("long").as("_mt_k"),
            tie.cast("long").as("_mt_tie")) > b))).cast("int"))
    }.drop("_mt_map")
  }

  val defs: Seq[QueryDef] = Seq(

    // dense global ordering of the corpus by (n_chars desc, doc_id): the
    // "training order" assignment every curriculum/packing step needs.
    // position comes from the two-phase range-partition rank; quartile
    // from the closed-form ntile. The oracle computes BOTH with DuckDB's
    // native global window row_number()/ntile() — hash equality proves the
    // distributed formulation IS the single-node semantics.
    QueryDef(
      "q_global_order",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "n_chars")
        val ordered = withGlobalRowNumber(docs,
          Seq(col("n_chars").desc, col("doc_id").asc), "pos")
        val tot = docs.agg(count(lit(1)).cast("long").as("_n"))
        ordered.crossJoin(tot)
          .select(col("doc_id"), col("n_chars"), col("pos"),
            ntileFrom(col("pos"), col("_n"), 4).as("quartile"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars,
             |  CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS pos,
             |  CAST(ntile(4) OVER (ORDER BY n_chars DESC, doc_id) AS INT) AS quartile
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // equi-DEPTH histogram: decile upper edges of the value distribution
    // by exact rank (edge d = value at row ⌈d·n/10⌉, ceiling in integer
    // arithmetic) — the complement of q_histogram_bins' equi-width bins,
    // and the binning a skew-aware partitioner actually wants (equal ROW
    // counts per bin, not equal value spans). Rank comes from the
    // two-phase global order; the 10 edge ranks are generated from the
    // one-row count and broadcast, so the big side is touched once.
    // Values quantize to integer cents first: rank-selected edges are
    // then bit-exact across engines.
    QueryDef(
      "q_equidepth_hist",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val ranked = withGlobalRowNumber(ev,
          Seq(col("cents").asc, col("event_id").asc), "rn")
        val tot = ev.agg(count(lit(1)).as("n"))
        val edgeRanks = tot
          .select(explode(sequence(lit(1), lit(10))).as("decile"), col("n"))
          .select(col("decile"), expr("(decile * n + 9) div 10").as("rn"))
        ranked.join(edgeRanks, "rn")
          .select(col("decile"), col("cents").as("upper_cents"))
          .orderBy("decile")
      },
      Some("""WITH v AS (SELECT event_id,
             |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |r AS (SELECT *, row_number() OVER (ORDER BY cents, event_id) AS rn FROM v),
             |n AS (SELECT count(*) AS n FROM v),
             |d AS (SELECT CAST(u.d AS INT) AS decile, (u.d * n.n + 9) // 10 AS rn
             |      FROM (SELECT unnest(range(1, 11)) AS d) u CROSS JOIN n)
             |SELECT d.decile, r.cents AS upper_cents
             |FROM d JOIN r USING (rn) ORDER BY decile""".stripMargin)),

    // greedy data selection under a token budget: rank documents by a
    // quality score (here lexical diversity — unique-token ratio in exact
    // integer micro-units, so the order is engine-independent), take docs
    // in rank order until the cumulative token count reaches 25% of the
    // corpus. This is the "select the best N tokens" step every training
    // mix ends with; the cumulative sum is the scale-safe two-phase
    // running total (withRunningTotal), never a partitionless window, and
    // the budget rides in as a broadcast one-row frame. The oracle states
    // the same selection with DuckDB's native global window sum — hash
    // equality proves the distributed prefix-sum IS the single-node
    // cumulative-sum semantics.
    QueryDef(
      "q_token_budget",
      (s, d) => {
        val scored = Tables.documents(s, d).select(
            col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("toks"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("uniq"))
          .withColumn("q_micro", expr("(1000000 * uniq) div toks"))
          .select("doc_id", "q_micro", "toks")
        // integer `div`, not `/`: token totals at corpus scale exceed
        // double's exact range
        val budget = scored.agg(
          call_function("div", sum("toks"), lit(4L)).as("_budget"))
        val run = withRunningTotal(scored,
          Seq(col("q_micro").desc, col("doc_id").asc), col("toks"), "cum_toks")
        run.crossJoin(budget)
          .where(col("cum_toks") <= col("_budget"))
          .select("doc_id", "q_micro", "toks", "cum_toks")
          .orderBy("doc_id")
      },
      Some("""WITH s AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
             |  FROM documents),
             |q AS (SELECT doc_id, (1000000 * uniq) // toks AS q_micro, toks FROM s),
             |r AS (SELECT doc_id, q_micro, toks,
             |        CAST(sum(toks) OVER (ORDER BY q_micro DESC, doc_id) AS BIGINT) AS cum_toks
             |      FROM q),
             |b AS (SELECT CAST(sum(toks) // 4 AS BIGINT) AS budget FROM q)
             |SELECT doc_id, q_micro, toks, cum_toks FROM r, b
             |WHERE cum_toks <= budget ORDER BY doc_id""".stripMargin)),

    // length-bucketed batch construction — the padding-waste minimizer:
    // sort docs by token count into 8 contiguous ntile buckets, cut each
    // bucket into 32-doc batches in order, report per-batch padding waste
    // (tokens padded to the batch max / batch capacity, in exact integer
    // micros). Similar-length docs share a batch, so waste stays a few
    // percent where random batching pads every short doc to the corpus
    // tail. Everything after the ONE range shuffle is closed-form
    // arithmetic on the global row number: the tile comes from ntileFrom,
    // and the within-tile position is rn − tileStart with tileStart in
    // closed form too (tiles of a global ntile are contiguous ranges) —
    // no per-bucket window, so no data-sized window partitions at any
    // scale. The oracle computes the same batches with DuckDB's native
    // ntile + within-tile row_number.
    QueryDef(
      "q_length_batching",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val tot = docs.agg(count(lit(1)).cast("long").as("_n"))
        val rn = withGlobalRowNumber(docs,
          Seq(col("n_tokens").asc, col("doc_id").asc), "rn")
        rn.crossJoin(tot)
          .withColumn("bucket", ntileFrom(col("rn"), col("_n"), 8))
          // tile t of ntile(k) over n rows starts at
          // (t−1)·q + min(t−1, r) + 1 with n = k·q + r
          .withColumn("_q", call_function("div", col("_n"), lit(8L)))
          .withColumn("_r", col("_n") % 8)
          .withColumn("_start",
            (col("bucket") - 1).cast("long") * col("_q") +
              least((col("bucket") - 1).cast("long"), col("_r")) + 1)
          .withColumn("batch",
            call_function("div", col("rn") - col("_start"), lit(32L)).cast("int"))
          .groupBy("bucket", "batch")
          .agg(count(lit(1)).as("n_docs"),
            max("n_tokens").as("max_tokens"),
            sum("n_tokens").as("sum_tokens"))
          .withColumn("pad_waste_micro", expr(
            "(1000000 * (max_tokens * n_docs - sum_tokens)) div (max_tokens * n_docs)"))
          .orderBy("bucket", "batch")
      },
      Some("""WITH s AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |t AS (SELECT doc_id, n_tokens,
             |        CAST(ntile(8) OVER (ORDER BY n_tokens, doc_id) AS INT) AS bucket
             |      FROM s),
             |r AS (SELECT doc_id, n_tokens, bucket,
             |        row_number() OVER (PARTITION BY bucket
             |          ORDER BY n_tokens, doc_id) AS rib FROM t),
             |b AS (SELECT bucket, CAST((rib - 1) // 32 AS INT) AS batch, n_tokens FROM r)
             |SELECT bucket, batch, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
             |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST((1000000 * (max(n_tokens) * count(*) - sum(n_tokens)))
             |       // (max(n_tokens) * count(*)) AS BIGINT) AS pad_waste_micro
             |FROM b GROUP BY 1, 2 ORDER BY bucket, batch""".stripMargin))
  )
}
