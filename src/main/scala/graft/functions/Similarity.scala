package graft.functions

import graft.{QueryDef, Tables}
import graft.operators.Loop
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star scope): brute-force cosine
  * top-k as the exact baseline, and a hyperplane-LSH bucketed variant as
  * the scale path (candidates come from an equi-join on bucket signatures
  * instead of a full cross join — shuffle ∝ corpus, not corpus²).
  *
  * Dot products run on doubles via `zip_with` + `aggregate` higher-order
  * functions (codegen'd, sequential left fold → bit-deterministic and
  * engine-portable).
  */
object Similarity {

  /** Banded-LSH index shape for the ANN queries: 16 bands × 4 sign bits
    * covering all 64 dims of the fixture embeddings. For a pair with
    * per-hyperplane agreement p, hit probability is 1 − (1 − p^r)^b.
    * True top-5 neighbors in the fixture corpus agree on ~61% of sign
    * bits (measured), so 16×4 gives ≈0.91 expected recall where a single
    * 8-bit band gives ≈0.02. `q_ann_recall` measures the realized
    * recall@5 against the exact brute-force baseline; tune bands/bits to
    * the corpus's neighbor-agreement level, not by guesswork. */
  val AnnBands = 16
  val AnnBits = 4

  /** Pair-MINING band shape (`q_near_dup_cosine`): 8 bands × 8 bits.
    * All-pairs mining is the quadratic workload — candidate pairs per
    * band grow ∝ n²/2^r, so r must grow with log₂(corpus) or the bucket
    * join degenerates (measured: 16×4 banding went 8.8× slower on a 3×
    * corpus; 8-bit bands cut pairs/band 16×). Fewer, wider bands trade
    * recall at the low-sim end (p=0.86 pairs, i.e. cosine ≈ 0.9, are
    * still found with prob ≈ 0.93) — the right trade for near-DUP
    * mining, where targets are high-sim, unlike top-k ANN above. */
  val NdBands = 8
  val NdBits = 8

  /** Declared scope bound of the FIXED NdBands×NdBits kNN-graph form
    * (`q_knn_graph` / `q_mutual_knn` / `q_knn_degree`): expected bucket
    * occupancy is n/2^NdBits, so the bucket self-join's candidate count
    * grows ∝ n²/2^NdBits — fine to ~65 k vectors (≈ 2^(NdBits+8):
    * ≈ 67 M scored pairs), a disk-exhausting spill at the 500 k-vector
    * 100× probe. The fixed form is the ORACLE-EXPRESSIBLE verification
    * shape; [[knnGraphAdaptive]] (bits ∝ log₂ n) is the production path
    * past the bound, and [[knnGraph]] fails fast with that pointer
    * instead of spilling. */
  val FixedKnnMaxN: Long = 1L << (NdBits + 8)

  /** Product-quantization geometry (`q_pq_recall`): the 64-dim vector
    * splits into [[PqSubs]] subvectors of [[PqSubDim]] dims; each
    * subvector quantizes to its max-dot centroid among [[PqCents]]
    * per-subspace centroids. Codes are PqSubs × log₂(PqCents) bits =
    * 6 bytes against 256 bytes of float32 — the ~42× memory lever that
    * makes billion-vector indexes fit in RAM. */
  val PqSubs = 8
  val PqSubDim = 8
  val PqCents = 64

  /** DuckDB-side band signatures sig0..sig{bands-1}, same hyperplanes as
    * [[bandSig]] (sign test on the raw float element). */
  private def bandSigSqlCols(bands: Int = AnnBands, bits: Int = AnnBits): Seq[String] =
    (0 until bands).map { b =>
      val tests = (b * bits + 1 to b * bits + bits).map(j =>
        s"CASE WHEN embedding[$j] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"$tests AS sig$b"
    }

  /** Cast a float-array column to double elements (so all arithmetic is
    * IEEE double, matching the oracle exactly). A direct array cast, not
    * `transform(v, _.cast("double"))`: Cast on ArrayType participates in
    * whole-stage codegen while ArrayTransform is an interpreted
    * higher-order function — same float→double exact widening either
    * way. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential dot product of two array columns — native expression
    * (tight primitive loop; see [[ArrayMath]]). For equal-length,
    * non-null inputs the result is bit-identical to the composed
    * `aggregate(zip_with(...))` form; on ragged inputs this uses
    * min-length semantics where the composed form would NULL-pad and
    * return NULL (see [[DotProduct]]'s scaladoc). */
  def dot(a: Column, b: Column): Column = ArrayMath.dotProduct(a, b)

  /** Cosine similarity — native one-pass expression ([[CosineSim]]): dot
    * and both norms accumulate in a single codegen'd traversal instead of
    * three separate array walks. Bit-identical to the composed
    * `dot/(√Σa²·√Σb²)` form for equal-length inputs (ragged inputs
    * truncate to the common prefix — see [[CosineSim]]'s scaladoc). For
    * pre-normalized vectors prefer [[dot]]. */
  def cosine(a: Column, b: Column): Column = ArrayMath.cosineSim(a, b)

  /** Symmetric int8 quantization of a unit-scale float vector: x →
    * round(x·127) clamped to [-127, 127]. 4× smaller than float32 at
    * ~1% cosine error — the standard storage/bandwidth lever for
    * billion-vector similarity search (dequantize with [[dequantize]]
    * or compute directly on int8 with a scaled dot product). */
  def quantizeInt8(v: Column): Column =
    transform(v, x =>
      greatest(lit(-127), least(lit(127), round(x * 127).cast("int"))))

  /** Inverse of [[quantizeInt8]] (lossy). */
  def dequantize(q: Column): Column =
    transform(q, x => x.cast("double") / 127.0)

  /** Sign-bit hyperplane signature of band `band`: a '1'/'0' string over
    * dimensions [band·bits+1, (band+1)·bits]. One band alone is a single
    * AND-composition of `bits` hyperplane tests — high precision, poor
    * recall (any one boundary crossing evicts a true neighbor). Real LSH
    * ORs several bands (see [[explodeBands]]), exactly like
    * [[graft.operators.DedupOps.lshBuckets]] does for MinHash. */
  def bandSig(v: Column, band: Int, bits: Int): Column =
    concat((band * bits + 1 to band * bits + bits).map(j =>
      when(element_at(v, j) >= 0, "1").otherwise("0")): _*)

  /** One row per (input row, band) with the band's signature — the OR
    * construction: rows sharing ANY (band, sig) bucket become candidates.
    * With b bands of r bits, a pair whose per-hyperplane agreement is p is
    * found with probability 1 − (1 − p^r)^b; more bands → higher recall,
    * more bits → higher precision. Shuffle stays ∝ bands·corpus. */
  def explodeBands(df: DataFrame, vec: Column, bands: Int, bits: Int): DataFrame = {
    val keep = df.columns.map(col)
    df.withColumn("__band", explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandSig(vec, b, bits).as("sig"))): _*)))
      .select(keep :+ col("__band.band").as("band") :+ col("__band.sig").as("sig"): _*)
  }

  /** Banded-LSH approximate top-k: candidates from the band equi-join on
    * SKINNY (vec_id, band, sig) rows — ids dedup before any vector moves
    * — then one embedding re-join for exact scoring. Queries are the
    * rows matching `queryFilter`. Returns (qid, vec_id, sim, rn ≤ k). */
  def lshTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val eb = explodeBands(emb.select("vec_id", "embedding"),
      col("embedding"), AnnBands, AnnBits).drop("embedding")
    val cand = eb.join(
        eb.where(queryFilter)
          .select(col("vec_id").as("qid"), col("band"), col("sig")),
        Seq("band", "sig"))
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    cand
      .join(e.select(col("vec_id").as("qid"), col("ed").as("qe")), "qid")
      .join(e, "vec_id")
      .withColumn("sim", round(dot(col("qe"), col("ed")), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("qid", "vec_id", "sim", "rn")
  }

  /** Shared tail of every ANN recall gate: recall@5 of `approxTop`
    * (qid, vec_id) against the exact brute-force top-5 for the query set
    * `q2` (qid, qe). One definition so the gates (LSH / IVF / PQ) cannot
    * drift apart on k, rounding, or the missing-query left join. */
  def recallAt5VsBrute(emb: DataFrame, approxTop: DataFrame,
      q2: DataFrame): DataFrame = {
    val brute = bruteTopK(emb, q2, 5).select("qid", "vec_id")
    val hits = brute.join(approxTop, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    q2.select("qid").join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / 5.0, 4).as("recall_at_5"))
      .orderBy("qid")
  }

  /** The nprobe-cell IVF candidate set as SKINNY (qid, vec_id) pairs:
    * every vector assigned to one of the query's `nprobe` nearest cells.
    * Shared by the recall gate and the tuning frontier so the two can
    * never measure different index shapes. */
  def ivfCandidates(emb: DataFrame, cents: DataFrame, isQuery: Column,
      nprobe: Int): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cdot").desc, col("cent_id"))
    val ranked = emb.crossJoin(broadcast(cents))
      .withColumn("cdot", round(dot(col("ed"), col("ce")), 4))
      .withColumn("crn", row_number().over(wAssign))
    val assign = ranked.where(col("crn") === 1)
      .select(col("vec_id"), col("ed"), col("cent_id").as("cluster"))
    val probes = ranked.where(isQuery && col("crn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cent_id").as("cluster"))
    // candidates dedup on SKINNY (qid, vec_id) pairs; embeddings join
    // back only for scoring — same shape as lshTopK (carrying the 64-dim
    // arrays through the dedup was this repo's measured q_near_dup_cosine
    // scale bug)
    assign.select(col("vec_id"), col("cluster"))
      .join(broadcast(probes), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
  }

  /** Exact-score a (qid, vec_id) candidate set and keep each query's
    * top-k — the shared scoring tail of every bucketed ANN variant. */
  def scoreCandidatesTopK(cand: DataFrame, e: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    cand
      .join(e.select(col("vec_id").as("qid"), col("ed").as("qe")), "qid")
      .join(e, "vec_id")
      .withColumn("sim", round(dot(col("qe"), col("ed")), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("qid", "vec_id")
  }

  /** recall@5 of nprobe-cell IVF search against the exact brute-force
    * top-5, for an arbitrary codebook `cents` (cent_id, ce). `emb` is
    * (vec_id, ed); queries are rows matching `isQuery`. */
  def ivfRecallAt5(emb: DataFrame, cents: DataFrame, isQuery: Column,
      nprobe: Int): DataFrame = {
    val cand = ivfCandidates(emb, cents, isQuery, nprobe)
    val ivfTop = scoreCandidatesTopK(cand, emb.select("vec_id", "ed"), 5)
    val q = emb.where(isQuery)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    recallAt5VsBrute(emb, ivfTop, q)
  }

  /** One point on the banded-LSH tuning frontier: mean recall@5 vs brute
    * force and mean exact-score candidates per query for one bands×bits
    * shape — the two numbers the index dial trades off (1−(1−p^bits)^bands
    * recall vs candidates ∝ bucket collisions). `embRaw` carries the raw
    * `embedding` column; requires bands·bits ≤ dims. Diagnostic: collects
    * three scalars to the driver. */
  def lshFrontierPoint(embRaw: DataFrame, isQuery: Column,
      bands: Int, bits: Int): (Double, Double) = {
    val eb = explodeBands(embRaw.select("vec_id", "embedding"),
      col("embedding"), bands, bits).drop("embedding")
    val cand = eb.join(
        eb.where(isQuery)
          .select(col("vec_id").as("qid"), col("band"), col("sig")),
        Seq("band", "sig"))
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val e = embRaw.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
    val q2 = e.where(isQuery).select(col("vec_id").as("qid"), col("ed").as("qe"))
    val top = scoreCandidatesTopK(cand, e, 5)
    val nq = math.max(1L, q2.count())
    val candPerQ = cand.count().toDouble / nq
    val recall = recallAt5VsBrute(e, top, q2)
      .agg(avg("recall_at_5")).head().getDouble(0)
    (recall, candPerQ)
  }

  /** One point on the IVF tuning frontier: mean recall@5 and mean
    * candidates per query at a given nprobe. */
  def ivfFrontierPoint(emb: DataFrame, cents: DataFrame, isQuery: Column,
      nprobe: Int): (Double, Double) = {
    val cand = ivfCandidates(emb, cents, isQuery, nprobe)
    val q2 = emb.where(isQuery)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    val nq = math.max(1L, q2.count())
    val candPerQ = cand.count().toDouble / nq
    val recall = ivfRecallAt5(emb, cents, isQuery, nprobe)
      .agg(avg("recall_at_5")).head().getDouble(0)
    (recall, candPerQ)
  }

  /** Persisted-index BUILD: train the codebook, assign every vector to
    * its cell once, and write both as parquet artifacts. The expensive
    * corpus-sized work (training sweeps + the full assignment pass)
    * happens HERE, at build time; probes then touch only the stored
    * skinny tables. This is the same build-once/probe-many asymmetry
    * `DedupOps.dedupAgainstIndex` proves for the LSH dedup index, applied
    * to ANN — at 100 TB the index is a published table, not a per-query
    * recomputation. Layout: `dir/codebook` (cent_id, ce) — k rows;
    * `dir/assignments` (vec_id, cluster) — one skinny row per vector. */
  def saveIvfIndex(emb: DataFrame, dir: String, k: Int, iters: Int): Unit = {
    val cents = trainCodebook(emb, k, iters)
    cents.write.mode("overwrite").parquet(s"$dir/codebook")
    assignToCodebook(emb, cents)
      .write.mode("overwrite").parquet(s"$dir/assignments")
  }

  /** The ONE cell-assignment rule every IVF surface shares (build,
    * append, in-memory candidates): nearest frozen centroid by rounded
    * dot, ties to the lower cent_id — pointwise per vector, which is what
    * makes incremental appends exact (see [[appendToIvfIndex]]). */
  def assignToCodebook(emb: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cdot").desc, col("cent_id"))
    emb.crossJoin(broadcast(cents))
      .withColumn("cdot", round(dot(col("ed"), col("ce")), 4))
      .withColumn("crn", row_number().over(wAssign))
      .where(col("crn") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster"))
  }

  /** Incremental index MAINTENANCE: assign only the `delta` (vec_id, ed)
    * batch against the FROZEN codebook and append the skinny rows to the
    * stored assignments — O(|delta|·k) work, touching nothing
    * corpus-sized. Because [[assignToCodebook]] is pointwise per vector,
    * append-then-probe is IDENTICAL to re-assigning the whole unioned
    * corpus against the same codebook (pinned by AnnIndexSpec) — freezing
    * the codebook is exactly what buys the cheap delta.
    *
    * The returned report is the gate on that freeze: per-cell base vs
    * delta occupancy (`base_n`/`delta_n`, Laplace-smoothed shares in
    * micro) and each cell's signed PSI contribution (`psi_micro`;
    * population stability index — sum the column for the total). A delta
    * the frozen centroids no longer describe piles into few cells and
    * the summed PSI blows past the conventional 0.25 (250,000 micro)
    * "investigate" bound — retrain the codebook then, not per batch. */
  def appendToIvfIndex(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame = {
    val cents = spark.read.parquet(s"$dir/codebook")
    // base occupancy must materialize BEFORE the append — parquet file
    // listing is lazy, and after the write the same path includes the
    // delta. k rows: driver-safe by construction.
    val baseOcc = spark.read.parquet(s"$dir/assignments")
      .groupBy("cluster").agg(count(lit(1)).as("base_n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the assignment is pinned for the scope: the write and the delta
    // occupancy read one computation of it. Occupancy materializes
    // (≤k rows, driver-safe like baseOcc) BEFORE the release: releasing
    // first would make the lazily-read report recompute the delta
    // assignment from scratch — and if a caller ever passed a
    // non-deterministic delta, the written assignments and the reported
    // delta_n could diverge.
    val deltaOccRows = Loop.scoped {
      val assign = Loop.pinnedPersist(assignToCodebook(delta, cents))
      assign.write.mode("append").parquet(s"$dir/assignments")
      // keep the file count bounded across arbitrarily many appends
      compactIvfIndex(spark, dir)
      assign.groupBy("cluster")
        .agg(count(lit(1)).as("delta_n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    import spark.implicits._
    val deltaOcc = deltaOccRows.toDF("cluster", "delta_n")
    val base = baseOcc.toDF("cluster", "base_n")
    val k = math.max(1L, cents.count())
    val occ = base.join(deltaOcc, Seq("cluster"), "full_outer")
      .na.fill(0L, Seq("base_n", "delta_n"))
    val totals = occ.agg(sum("base_n").as("bt"), sum("delta_n").as("dt"))
    occ.crossJoin(broadcast(totals))
      // Laplace smoothing keeps empty cells finite; micro precision
      .withColumn("pb", (col("base_n") + 1).cast("double") / (col("bt") + k))
      .withColumn("pd", (col("delta_n") + 1).cast("double") / (col("dt") + k))
      .select(col("cluster"), col("base_n"), col("delta_n"),
        round(col("pb") * 1e6).cast("long").as("base_share_micro"),
        round(col("pd") * 1e6).cast("long").as("delta_share_micro"),
        round((col("pd") - col("pb")) * log(col("pd") / col("pb")) * 1e6)
          .cast("long").as("psi_micro"))
      .orderBy("cluster")
  }

  /** Compaction pass for the append-forever assignments table: every
    * [[appendToIvfIndex]] adds another small parquet delta, and a
    * long-lived index otherwise accumulates thousands of tiny files
    * (listing + open cost per probe, tiny scan splits). Once the file
    * count exceeds `maxFiles` the table is rewritten in one job — the
    * scan packs small files into maxPartitionBytes-sized splits, so the
    * rewrite emits well-sized files ∝ data volume, not append count —
    * and swapped into place. Row-identical by construction (one read,
    * one write, no shuffle); AnnIndexSpec pins append×N → compact →
    * probe identical. Single-writer maintenance like the appends
    * themselves — concurrent publication rides `AtomicPublish`, not
    * this swap. Crash-safe: a writer that died mid-swap leaves either
    * the live path intact (stale tmp, removed below) or the compacted
    * table stranded in tmp with the live path renamed away — entry
    * recovery below finishes the interrupted swap before anything else,
    * so no crash point loses data and a subsequent call never throws on
    * a missing path. Returns true when a compaction ran. */
  def compactIvfIndex(spark: SparkSession, dir: String,
      maxFiles: Int = 64): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_assignments_compacting")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/_assignments_old")
    // crash recovery: the live path can only be missing if a previous
    // compaction died BETWEEN its two renames — and at that point the
    // tmp write had already completed, so finishing its second rename
    // restores the newer (compacted) table; an empty-handed fallback to
    // the backup covers a manually disturbed directory. No stored index
    // at all → nothing to compact.
    if (!fs.exists(path)) {
      if (fs.exists(tmp)) fs.rename(tmp, path)
      else if (fs.exists(bak)) fs.rename(bak, path)
      else return false
    }
    if (fs.exists(bak)) fs.delete(bak, true) // leftover post-swap cleanup
    val nFiles = fs.listStatus(path)
      .count(_.getPath.getName.endsWith(".parquet"))
    if (nFiles <= maxFiles) return false
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(path.toString)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.rename(path, bak)
    fs.rename(tmp, path)
    fs.delete(bak, true)
    true
  }

  /** Persisted-index PROBE: top-k neighbors for `queries` (qid, qe)
    * through the stored index — rank the k-row codebook per query
    * (broadcast), pull candidates from the stored assignments by cell
    * equi-join, exact-score only those against the vector store. No
    * corpus-sized assignment work happens here: the only corpus-sized
    * input is the skinny assignments table, touched by one hash join. */
  def queryIvfIndex(spark: SparkSession, dir: String, queries: DataFrame,
      vectors: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val cents = spark.read.parquet(s"$dir/codebook")
    val assign = spark.read.parquet(s"$dir/assignments")
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("cdot").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("cdot", round(dot(col("qe"), col("ce")), 4))
      .withColumn("crn", row_number().over(wProbe))
      .where(col("crn") <= nprobe)
      .select(col("qid"), col("cent_id").as("cluster"))
    val cand = assign.join(broadcast(probes), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    scoreCandidatesTopK(cand, vectors, k)
  }

  /** Spherical-k-means codebook trainer (Lloyd iterations, cosine
    * objective): assign each vector to its max-dot centroid, recompute
    * each centroid as the L2-normalized element-wise mean of its members,
    * repeat. Deterministic init (first k vectors) + fixed iteration count
    * — no RNG. Each iteration is one broadcast-nested-loop assignment and
    * one (cluster, dim)-keyed aggregation: shuffle ∝ corpus × dims, never
    * corpus². Empty clusters keep their previous centroid. */
  def trainCodebook(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = emb.where(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("ed").as("ce"))
    for (_ <- 1 to iters) {
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("cdot").desc, col("cent_id"))
      val assign = emb.crossJoin(broadcast(cents))
        .withColumn("cdot", dot(col("ed"), col("ce")))
        .withColumn("crn", row_number().over(wAssign))
        .where(col("crn") === 1)
        .select(col("vec_id"), col("ed"), col("cent_id"))
      val means = assign
        .select(col("cent_id"), posexplode(col("ed")).as(Seq("pos", "x")))
        .groupBy("cent_id", "pos").agg(avg("x").as("m"))
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"),
          transform(col("pm"), p => p.getField("m")).as("mean"))
        .withColumn("norm",
          sqrt(aggregate(col("mean"), lit(0.0), (acc, x) => acc + x * x)))
        .select(col("cent_id"),
          transform(col("mean"), x => x / col("norm")).as("ce_new"))
      cents = cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("ce_new"), col("ce")).as("ce"))
        .transform(Loop.cutLineage(_)) // truncate the per-iteration lineage
    }
    cents
  }

  /** Split (vec_id, ed) into one row per (vec_id, s, xs) subvector. */
  def pqSubvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(array((0 until PqSubs).map(i =>
        slice(col("ed"), i * PqSubDim + 1, PqSubDim)): _*)).as(Seq("s", "xs")))

  /** Per-subspace k-means PQ codebook trainer (Lloyd iterations, L2
    * objective): every subspace trains concurrently in ONE keyed
    * DataFrame — assignment is a broadcast join on the subspace id with
    * argmin-L2 via the `x·c − ‖c‖²/2` form (no per-subspace driver
    * loop), update is the element-wise member mean. Deterministic init
    * (subvector slices of the first k vectors) + fixed iteration count;
    * empty cells keep their previous centroid. Returns (s, cent_id, cs). */
  def trainPqCodebooks(emb: DataFrame, iters: Int): DataFrame = {
    val sub = pqSubvectors(emb)
    var cents = sub.where(col("vec_id") < PqCents)
      .select(col("s"), col("vec_id").as("cent_id"), col("xs").as("cs"))
    for (_ <- 1 to iters) {
      val scored = sub.join(broadcast(cents), "s")
        .withColumn("score",
          dot(col("xs"), col("cs")) -
            aggregate(col("cs"), lit(0.0), (a, x) => a + x * x) / 2)
      val wAssign = Window.partitionBy("vec_id", "s")
        .orderBy(col("score").desc, col("cent_id"))
      val assign = scored
        .withColumn("crn", row_number().over(wAssign))
        .where(col("crn") === 1)
        .select(col("s"), col("cent_id"), col("xs"))
      val means = assign
        .select(col("s"), col("cent_id"), posexplode(col("xs")).as(Seq("pos", "x")))
        .groupBy("s", "cent_id", "pos").agg(avg("x").as("m"))
        .groupBy("s", "cent_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("s"), col("cent_id"),
          transform(col("pm"), p => p.getField("m")).as("cs_new"))
      cents = cents.join(means, Seq("s", "cent_id"), "left")
        .select(col("s"), col("cent_id"),
          coalesce(col("cs_new"), col("cs")).as("cs"))
        .transform(Loop.cutLineage(_))
    }
    cents
  }

  /** recall@5 of PQ ADC search against the exact brute-force top-5 for an
    * arbitrary per-subspace codebook `cents` (s, cent_id, cs). Encoding
    * assigns each subvector by `assignScore(xs, cs)` (max wins, cent_id
    * tiebreak); scoring joins the codes against the query's
    * per-(subspace, centroid) dot LUT and folds the subspace terms in one
    * fixed-order expression. */
  def pqRecallAt5(emb: DataFrame, cents: DataFrame, isQuery: Column,
      assignScore: (Column, Column) => Column): DataFrame = {
    val sub = pqSubvectors(emb)
    val wAssign = Window.partitionBy("vec_id", "s")
      .orderBy(col("v").desc, col("cent_id"))
    val codes = sub.join(broadcast(cents), "s")
      .withColumn("v", assignScore(col("xs"), col("cs")))
      .withColumn("crn", row_number().over(wAssign))
      .where(col("crn") === 1)
      .select(col("vec_id"), col("s"), col("cent_id").as("code"))
    val qs = sub.where(isQuery)
      .select(col("vec_id").as("qid"), col("s"), col("xs"))
    val lut = qs.join(broadcast(cents), "s")
      .select(col("qid"), col("s"), col("cent_id").as("code"),
        round(dot(col("xs"), col("cs")), 4).as("v"))
    val scoreSum = (0 until PqSubs)
      .map(i => max(when(col("s") === i, col("v"))))
      .reduce(_ + _)
    val approx = codes.join(broadcast(lut), Seq("s", "code"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(round(scoreSum, 4).as("score"))
    val wTop = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    val pqTop = approx.withColumn("rn", row_number().over(wTop))
      .where(col("rn") <= 5).select("qid", "vec_id")
    val q2 = emb.where(isQuery)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    recallAt5VsBrute(emb, pqTop, q2)
  }

  /** Exact top-k by (rounded) similarity per query, brute force. `queries`
    * must be small (it is broadcast against every candidate partition). */
  def bruteTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    candidates.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("sim", round(dot(col("qe"), col("ed")), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }

  /** Shared kNN-graph build (`q_knn_graph` / `q_mutual_knn`): wide-band
    * LSH candidate pairs scored exactly, each undirected pair feeding
    * both endpoints' rankings, per-vector top-3 as row_number()<=3 with
    * the rank dropped — the shape [[graft.plans.GroupTopKRewrite]] plans
    * through the heap operator. Columns: (vec_id, neighbor, sim). */
  private def knnGraph(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // explicit scope guard ([[FixedKnnMaxN]]): past the bound the fixed
    // band shape's bucket join is quadratic — fail fast with the scale
    // path named rather than spill the cluster
    val n = emb.count()
    require(n <= FixedKnnMaxN,
      s"fixed-shape kNN (${NdBands}x$NdBits bands) is bounded to " +
        s"$FixedKnnMaxN vectors (corpus has $n): use knnGraphAdaptive / " +
        "the *_adaptive registry queries (bits scale with log2 n)")
    val eb = explodeBands(
      emb.select("vec_id", "embedding"), col("embedding"), NdBands, NdBits)
      .drop("embedding")
    val cand = eb.select(col("vec_id").as("id1"), col("band"), col("sig"))
      .join(eb.select(col("vec_id").as("id2"), col("band"), col("sig")),
        Seq("band", "sig"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
    val scored = cand
      .join(e.select(col("vec_id").as("id1"), col("ed").as("e1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")), "id2")
      .withColumn("sim", round(dot(col("e1"), col("e2")), 4))
      .select("id1", "id2", "sim")
    val edges = scored.unionByName(
      scored.select(col("id2").as("id1"), col("id1").as("id2"), col("sim")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id1").orderBy(col("sim").desc, col("id2").asc)
    edges.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("id1").as("vec_id"), col("id2").as("neighbor"), col("sim"))
  }

  /** DuckDB twin of [[knnGraph]] (CTE chain ending in `knn(vec_id,
    * neighbor, sim)`, no leading WITH). */
  private def knnGraphCte: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
       |        ${bandSigSqlCols(NdBands, NdBits).mkString(",\n        ")}
       |      FROM embeddings),
       |cand AS (
       |  ${(0 until NdBands).map(b =>
           s"SELECT a.vec_id AS id1, b.vec_id AS id2 FROM e a JOIN e b ON a.sig$b = b.sig$b AND a.vec_id < b.vec_id")
           .mkString("\n  UNION\n  ")}),
       |sc AS (SELECT c.id1, c.id2, round(list_dot_product(a.ed, b.ed), 4) AS sim
       |       FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
       |ed2 AS (SELECT id1, id2, sim FROM sc
       |        UNION ALL SELECT id2, id1, sim FROM sc),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY id1 ORDER BY sim DESC, id2) AS rnk FROM ed2),
       |knn AS (SELECT id1 AS vec_id, id2 AS neighbor, sim FROM r WHERE rnk <= 3)""".stripMargin

  /** Shared corpus for the semantic-dedup queries: fixture embeddings plus
    * deterministically injected duplicates — exact copies (sim 1.0) of
    * every 10th vector and last-dimension-negated copies (sim = 1 − 2·v₆₄²,
    * straddling the 0.95 threshold) of every 7th. Negation is exact in
    * IEEE float, so both engines compute bit-identical sims. */
  private def dedupCorpus(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val negLast = transform(col("embedding"),
      (x, i) => when(i === 63, -x).otherwise(x))
    emb
      .unionByName(emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      .unionByName(emb.where(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 200000).as("vec_id"),
          negLast.as("embedding")))
  }

  /** DuckDB twin of [[dedupCorpus]] (CTE body, no leading WITH). */
  private val dedupCorpusSql: String =
    """corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0
      |  UNION ALL
      |  SELECT vec_id + 200000,
      |    list_concat(embedding[1:63], [-embedding[64]])
      |  FROM embeddings WHERE vec_id % 7 = 0)""".stripMargin

  /** SRP-LSH shape for all-pairs mining at corpus size n: bits-per-band
    * tracks log₂(n) so expected bucket occupancy — and with it the
    * quadratic background-candidate term bands·n²/2^bits — stays bounded
    * (≈ bands·n/16 with the +4 margin, i.e. linear in n); bands then
    * come from inverting the OR-construction recall formula
    * 1 − (1 − p^bits)^bands ≥ targetRecall at the threshold similarity's
    * per-bit agreement p = 1 − acos(sim)/π. Measured on this box: the
    * fixed 8×8 shape grew 17.9× on a 10× corpus (candidates ∝ n²), this
    * shape grows ≈ linearly. */
  def adaptiveBandShape(n: Long, simThreshold: Double, targetRecall: Double): (Int, Int) = {
    val bits = adaptiveBits(n)
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, simThreshold))) / math.Pi
    val perBand = math.pow(p, bits)
    val bands = math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-perBand)).toInt)
    (bands, bits)
  }

  /** The bits-∝-log₂(n) occupancy law shared by every adaptive LSH shape:
    * with 2^bits ≈ 16·n buckets per band, expected occupancy — and with it
    * the quadratic background-candidate term bands·n²/2^bits — stays a
    * CONSTANT as the corpus grows, so total candidate work is linear in n.
    * Floor of [[NdBits]] keeps tiny inputs from degenerating to 1-bucket
    * bands; cap 64 is the signature word width. */
  def adaptiveBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(64, math.max(NdBits, ceilLog2 + 4))
  }

  /** Near-duplicate pairs (id1 < id2, exact-cosine-confirmed ≥ threshold)
    * from adaptive-shape SRP-LSH candidates — the scale path for
    * corpus-level semantic dedup. One counting pass sizes the shape
    * ([[adaptiveBandShape]]); candidates stay SKINNY (vec_id, band, sig)
    * through the self-join and pair-dedup, and the embeddings join back
    * only for the exact confirm. Input must have (vec_id, embedding). */
  def adaptiveNearDupPairs(emb: DataFrame, threshold: Double,
      targetRecall: Double): DataFrame = {
    val (bands, bits) = adaptiveBandShape(emb.count(), threshold, targetRecall)
    // one exchange on (band, sig) read by both self-join sides
    // (ReuseExchange + shuffle_hash) — without it each side re-runs the
    // hyperplane-signature projection over the whole corpus
    val eb = emb.select(col("vec_id"),
        posexplode(ArrayMath.hyperplaneSigs(col("embedding"), bands, bits)))
      .toDF("vec_id", "band", "sig")
      .repartition(col("band"), col("sig"))
    val cand = eb.select(col("vec_id").as("id1"), col("band"), col("sig"))
      .join(eb.select(col("vec_id").as("id2"), col("band"), col("sig"))
        .hint("shuffle_hash"), Seq("band", "sig"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
    cand
      .join(e.select(col("vec_id").as("id1"), col("ed").as("e1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")), "id2")
      .where(round(dot(col("e1"), col("e2")), 4) >= threshold)
      .select("id1", "id2")
  }

  /** Band count for the ADAPTIVE kNN-graph build. Unlike near-dup mining
    * (high-sim targets, so bands invert cleanly from the OR-construction
    * recall formula), kNN targets sit at moderate cosine (fixture top-3:
    * 0.33–0.49, per-hyperplane agreement p ≈ 0.55–0.70) where p^bits
    * vanishes under the occupancy-law bit widths — the n^ρ lower bound in
    * LSH theory. Multi-probing (Lv et al., VLDB'07) buys the missing
    * recall: each band also matches pairs at Hamming distance 1, a
    * ~10× per-band boost at p ≈ 0.625 for a bits× row expansion that
    * keeps total work linear in n. Measured on the fixtures: 32 bands ×
    * adaptive bits multi-probed reach recall@3 = 0.42 (n=500) / 0.25
    * (n=2000) vs the fixed 8×8 build's 0.13 / 0.17 — better recall AND
    * bounded growth where the fixed shape grows ∝ n² and aborts at 100×. */
  val KnnBands = 32

  /** ADAPTIVE-shape kNN graph (vec_id, neighbor, sim): the scale path
    * beside the fixed-shape [[knnGraph]] oracles. Candidates come from a
    * multi-probe SRP-LSH self-join — for each of [[KnnBands]] bands with
    * [[adaptiveBits]]-sized signatures, two vectors are candidates iff
    * their band signatures agree or differ in exactly ONE bit.
    *
    * r16 optimization (guide §3 / §2.4, verdict item 1): the Hamming-≤1
    * expansion is ONE-SIDED. The probe side carries the signature AS-IS
    * plus each of its `bits` single-bit FLIPS ((bits+1)× rows); the
    * build side stays 1× (the plain signature as the key). sig_b ∈
    * {sig_a} ∪ {sig_a ⊕ 2ʲ} ⟺ hamming(a,b) ≤ 1, so the candidate set is
    * IDENTICAL to the old two-sided bit-masking form — but the join
    * moves n·bands·(bits+2) rows instead of 2·n·bands·bits (−45% at the
    * sf0.1 bits=15), the shrunken build side unlocks a sort-free
    * shuffled-hash join (see below), and a Hamming-0 pair now collides
    * ONCE per band instead of `bits` times, shrinking the pair-dedup
    * input ~15×.
    * Work per probe row is bounded by the occupancy law, so the build is
    * O(bands·bits·n) ≈ O(n log n) end to end; everything (hyperplanes,
    * tie-breaks) is hash-derived and deterministic. */
  def knnGraphAdaptive(emb: DataFrame, k: Int = 3, bands: Int = KnnBands): DataFrame = {
    val bits = adaptiveBits(emb.count())
    val sigs = emb.select(col("vec_id"),
        posexplode(ArrayMath.hyperplaneSigs(col("embedding"), bands, bits)))
      .toDF("vec_id", "band", "sig")
    val probes = sigs.select(col("vec_id").as("id1"), col("band"),
        explode(array(col("sig") +: (0 until bits).map(j =>
          col("sig").bitwiseXOR(lit(1L << j))): _*)).as("key"))
    val keys = sigs.select(col("vec_id").as("id2"), col("band"),
      col("sig").as("key"))
    // shuffle-hash with the PLAIN-signature side as build: one-sided
    // expansion makes the build side (bits+1)× smaller than the probe
    // side, so neither relation sorts at all. The r15 "SMJ, not SHJ"
    // rule was for the TWO-SIDED form, where the build side was the full
    // bits×-expanded probe relation (140M rows at 100× — OOM); the 1×
    // keys side is n·bands rows whose per-partition hash table scales
    // DOWN as shuffle partitions scale with the corpus. Measured r16,
    // 100× (200k vectors, bits=22): SMJ one-sided 40.98 s min-of-2 /
    // 62.12 cold vs SHJ-on-keys 21.22 / 34.61 — another −48%.
    val cand = probes
      .join(keys.hint("shuffle_hash"), Seq("band", "key"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
    val scored = cand
      .join(e.select(col("vec_id").as("id1"), col("ed").as("e1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")), "id2")
      .withColumn("sim", round(dot(col("e1"), col("e2")), 4))
      .select("id1", "id2", "sim")
    // both edge directions map-side (explode of the two orientations)
    // instead of unionByName(swap): the union form re-planned the WHOLE
    // candidate+scoring subtree per branch — ReuseExchange dedupes the
    // exchanges but the final pair-dedup aggregate, both embedding joins
    // and the dot-product scoring executed TWICE (r16 plan audit).
    val edges = scored.select(explode(array(
        struct(col("id1").as("s"), col("id2").as("d"), col("sim")),
        struct(col("id2").as("s"), col("id1").as("d"), col("sim")))).as("e"))
      .select(col("e.s").as("id1"), col("e.d").as("id2"), col("e.sim").as("sim"))
    val w = Window.partitionBy("id1").orderBy(col("sim").desc, col("id2").asc)
    edges.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id1").as("vec_id"), col("id2").as("neighbor"), col("sim"))
  }

  /** DuckDB twin of [[knnGraphAdaptive]] at a FIXED signature width: the
    * Rademacher sign patterns are data-independent constants
    * ([[HyperplaneSigs.signPattern]]), so the oracle inlines them as
    * literal arrays and states candidacy directly as "some band signature
    * within Hamming distance 1" — semantically identical to the engine's
    * masked-probe equi-join, evaluated exhaustively (fine at oracle
    * scale). `bits` must equal what [[adaptiveBits]] yields on the
    * verification fixture; static SQL cannot express the data dependence
    * (the q_embed_dedup_adaptive constraint), so the shape is pinned
    * per-fixture here. */
  private def knnAdaptiveCte(bands: Int, bits: Int): String = {
    val sigCols = (0 until bands).map { b =>
      val bitTerms = (0 until bits).map { j =>
        val pat = HyperplaneSigs.signPattern(b, j, 64).map(s => s"$s.0")
        s"(CASE WHEN list_dot_product(ed, [${pat.mkString(",")}]) >= 0 THEN ${1L << j} ELSE 0 END)"
      }
      s"${bitTerms.mkString(" + ")} AS s$b"
    }
    val hamming = (0 until bands)
      .map(b => s"bit_count(xor(a.s$b, b.s$b)) <= 1").mkString("\n    OR ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
       |sig AS (SELECT vec_id, ed,
       |  ${sigCols.mkString(",\n  ")}
       |FROM e),
       |cand AS (SELECT a.vec_id AS id1, a.ed AS e1, b.vec_id AS id2, b.ed AS e2
       |         FROM sig a JOIN sig b ON a.vec_id < b.vec_id
       |         WHERE $hamming),
       |sc AS (SELECT id1, id2, round(list_dot_product(e1, e2), 4) AS sim FROM cand),
       |ed2 AS (SELECT id1, id2, sim FROM sc UNION ALL SELECT id2, id1, sim FROM sc),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY id1 ORDER BY sim DESC, id2) AS rnk FROM ed2),
       |knn AS (SELECT id1 AS vec_id, id2 AS neighbor, sim FROM r WHERE rnk <= 3)""".stripMargin
  }

  private def knnAdaptiveOracleSql(bands: Int, bits: Int): String =
    s"""WITH ${knnAdaptiveCte(bands, bits)}
       |SELECT vec_id, neighbor, sim FROM knn
       |ORDER BY vec_id, sim DESC, neighbor""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // U5 brute-force cosine top-k (vectors are pre-normalized → dot =
    // cosine); ranking on the rounded sim keeps order ulp-robust
    QueryDef(
      "q_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val q = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        bruteTopK(emb, q, 5)
          .select("qid", "vec_id", "sim", "rn")
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |q AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id < 5),
             |sims AS (SELECT q.qid, e.vec_id, round(list_dot_product(q.qe, e.ed), 4) AS sim
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |r AS (SELECT qid, vec_id, sim,
             |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rn
             |      FROM sims)
             |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // hard-negative mining for embedding-model training: per query vector,
    // the top-3 most-similar vectors with a DIFFERENT label — the
    // near-miss examples a contrastive loss learns most from. Same
    // broadcast-queries brute-force shape as q_cosine_topk (the exactness
    // oracle; at corpus scale the candidate set comes from the ANN index
    // instead, e.g. queryIvfIndex, and this ranking runs on candidates);
    // the label inequality rides in the join condition, so mismatched
    // pairs are dropped before scoring. row_number()<=3 per qid plans
    // through the GroupTopK heap rewrite.
    QueryDef(
      "q_hard_negatives",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(
          col("vec_id"), col("label"), asDouble(col("embedding")).as("ed"))
        val q = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("ed").as("qe"))
        val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        emb.join(broadcast(q), col("label") =!= col("qlabel"))
          .withColumn("sim", round(dot(col("qe"), col("ed")), 4))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select("qid", "vec_id", "label", "sim", "rn")
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed
             |          FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, ed AS qe
             |      FROM e WHERE vec_id < 5),
             |sims AS (SELECT q.qid, e.vec_id, e.label,
             |           round(list_dot_product(q.qe, e.ed), 4) AS sim
             |         FROM q CROSS JOIN e WHERE e.label <> q.qlabel),
             |r AS (SELECT qid, vec_id, label, sim,
             |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rn
             |      FROM sims)
             |SELECT qid, vec_id, label, sim, rn FROM r
             |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // one Lloyd iteration of the k-means codebook trainer under the
    // oracle gate: max-dot assignment to the k=8 deterministic seed
    // centroids (ranked on the ROUNDED dot, ties to the lower cent_id —
    // engine-independent), then per-(centroid, dimension) member sums in
    // exact integer micros, so the update is order-free where a raw
    // double avg would depend on partition summation order. mean_micro
    // divides the two exact integers once per output row (floor: no
    // half-tie rounding divergence). This pins the assignment + update
    // steps [[trainCodebook]] iterates; the full trainer (normalization,
    // empty-cell carry, iteration) is spec-gated via AnnIndexSpec.
    // Assignment is one broadcast nested loop over the k-row codebook;
    // the update is one (centroid, dim)-keyed map-combined aggregate —
    // shuffle ∝ corpus × dims.
    QueryDef(
      "q_kmeans_iter",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val cents = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("ed").as("ce"))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cdot").desc, col("cent_id"))
        val assign = emb.crossJoin(broadcast(cents))
          .withColumn("cdot", round(dot(col("ed"), col("ce")), 4))
          .withColumn("crn", row_number().over(w))
          .where(col("crn") === 1)
        assign
          .select(col("cent_id"), posexplode(col("ed")).as(Seq("pos0", "x")))
          .groupBy(col("cent_id"), (col("pos0") + 1).as("pos"))
          .agg(sum(expr("CAST(round(x * 1000000) AS BIGINT)")).as("sx"),
            count(lit(1)).as("n"))
          .select(col("cent_id"), col("pos"), col("n"),
            floor(col("sx") * lit(1.0) / col("n")).cast("long").as("mean_micro"))
          .orderBy("cent_id", "pos")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |c AS (SELECT vec_id AS cent_id, ed AS ce FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, e.ed, c.cent_id,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY round(list_dot_product(e.ed, c.ce), 4) DESC, c.cent_id) AS rn
             |      FROM e CROSS JOIN c),
             |x AS (SELECT cent_id, unnest(ed) AS x, generate_subscripts(ed, 1) AS pos
             |      FROM a WHERE rn = 1),
             |m AS (SELECT cent_id, pos,
             |        sum(CAST(round(x * 1000000) AS BIGINT)) AS sx, count(*) AS n
             |      FROM x GROUP BY 1, 2)
             |SELECT cent_id, CAST(pos AS INT) AS pos, CAST(n AS BIGINT) AS n,
             |  CAST(floor(sx * 1.0 / n) AS BIGINT) AS mean_micro
             |FROM m ORDER BY cent_id, pos""".stripMargin)),

    // U5 scale path: multi-band hyperplane-LSH ANN (AnnBands × AnnBits,
    // OR-ed). Each band's equi-join prunes the candidate space; the band
    // union recovers neighbors a single band's boundary would lose.
    QueryDef(
      "q_ann_lsh",
      (s, d) => lshTopK(Tables.embeddings(s, d), col("vec_id") < 20, 3)
        .orderBy("qid", "rn"),
      Some {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
           |             ${bandSigSqlCols().mkString(",\n             ")}
           |           FROM embeddings),
           |q AS (SELECT vec_id AS qid, ed AS qe,
           |        ${(0 until AnnBands).map(b => s"sig$b").mkString(", ")}
           |      FROM e WHERE vec_id < 20),
           |cand AS (
           |  ${(0 until AnnBands).map(b =>
               s"SELECT q.qid, e.vec_id FROM q JOIN e ON e.sig$b = q.sig$b WHERE e.vec_id <> q.qid")
               .mkString("\n  UNION\n  ")}),
           |sims AS (SELECT c.qid, c.vec_id, round(list_dot_product(q2.qe, e2.ed), 4) AS sim
           |         FROM cand c JOIN q q2 ON q2.qid = c.qid JOIN e e2 ON e2.vec_id = c.vec_id),
           |r AS (SELECT qid, vec_id, sim,
           |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rn
           |      FROM sims)
           |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
      }),

    // oracled ANN quality gate: recall@5 of the banded-LSH path against
    // the exact brute-force top-5, computed in-engine per query vector —
    // the number that tells you whether the index is safe to ship at 100×
    QueryDef(
      "q_ann_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val plain = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val q = plain.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        val lshTop = lshTopK(emb, col("vec_id") < 20, 5).select("qid", "vec_id")
        recallAt5VsBrute(plain, lshTop, q)
      },
      Some {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
           |             ${bandSigSqlCols().mkString(",\n             ")}
           |           FROM embeddings),
           |q AS (SELECT vec_id AS qid, ed AS qe,
           |        ${(0 until AnnBands).map(b => s"sig$b").mkString(", ")}
           |      FROM e WHERE vec_id < 20),
           |bsims AS (SELECT q.qid, e.vec_id, round(list_dot_product(q.qe, e.ed), 4) AS sim
           |          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
           |brute AS (SELECT qid, vec_id FROM (
           |    SELECT qid, vec_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           |    FROM bsims) WHERE rn <= 5),
           |cand AS (
           |  ${(0 until AnnBands).map(b =>
               s"SELECT q.qid, e.vec_id FROM q JOIN e ON e.sig$b = q.sig$b WHERE e.vec_id <> q.qid")
               .mkString("\n  UNION\n  ")}),
           |lsims AS (SELECT c.qid, c.vec_id, round(list_dot_product(q2.qe, e2.ed), 4) AS sim
           |          FROM cand c JOIN q q2 ON q2.qid = c.qid JOIN e e2 ON e2.vec_id = c.vec_id),
           |lsh AS (SELECT qid, vec_id FROM (
           |    SELECT qid, vec_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           |    FROM lsims) WHERE rn <= 5),
           |h AS (SELECT b.qid, count(*) AS hits FROM brute b
           |      JOIN lsh l ON l.qid = b.qid AND l.vec_id = b.vec_id GROUP BY 1)
           |SELECT q.qid, coalesce(h.hits, 0) AS hits,
           |  round(coalesce(h.hits, 0) / 5.0, 4) AS recall_at_5
           |FROM q LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin
      }),

    // embedding-cosine near-duplicate pairs: banded LSH join prunes the
    // pair space (OR over bands), then an exact cosine threshold — the
    // scale recipe for corpus-level near-dup removal by embedding. Uses
    // the WIDE pair-mining bands ([[NdBands]]×[[NdBits]]), not the ANN
    // shape: all-pairs workloads blow up quadratically in bucket
    // occupancy, so bits-per-band must track log₂(corpus).
    QueryDef(
      "q_near_dup_cosine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // candidate generation stays SKINNY — (vec_id, band, sig) only.
        // Carrying the 64-dim arrays through the band explode, self-join
        // and distinct would multiply shuffle bytes by the vector size ×
        // band count; instead dedup id pairs first, then join the
        // embeddings back just for the exact scoring (the embedding side
        // is one row per vector — AQE broadcasts it when small)
        val eb = explodeBands(
          emb.select("vec_id", "embedding"), col("embedding"), NdBands, NdBits)
          .drop("embedding")
        val cand = eb.select(col("vec_id").as("id1"), col("band"), col("sig"))
          .join(eb.select(col("vec_id").as("id2"), col("band"), col("sig")),
            Seq("band", "sig"))
          .where(col("id1") < col("id2"))
          .select("id1", "id2").distinct()
        val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        cand
          .join(e.select(col("vec_id").as("id1"), col("ed").as("e1")), "id1")
          .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")), "id2")
          .withColumn("sim", round(dot(col("e1"), col("e2")), 4))
          .where(col("sim") >= 0.3)
          .select("id1", "id2", "sim")
          .orderBy("id1", "id2")
      },
      Some {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
           |             ${bandSigSqlCols(NdBands, NdBits).mkString(",\n             ")}
           |           FROM embeddings),
           |cand AS (
           |  ${(0 until NdBands).map(b =>
               s"SELECT a.vec_id AS id1, b.vec_id AS id2 FROM e a JOIN e b ON a.sig$b = b.sig$b AND a.vec_id < b.vec_id")
               .mkString("\n  UNION\n  ")})
           |SELECT c.id1, c.id2, round(list_dot_product(a.ed, b.ed), 4) AS sim
           |FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2
           |WHERE round(list_dot_product(a.ed, b.ed), 4) >= 0.3
           |ORDER BY id1, id2""".stripMargin
      }),

    // kNN-graph build — the artifact graph-ANN indexes and embedding
    // cluster analyses start from: each vector's top-3 nearest neighbors
    // AMONG ITS LSH CANDIDATES (the production formulation — brute-force
    // kNN is quadratic; candidate-restricted kNN is the scale path, and
    // the oracle mirrors the same candidate set exactly). Candidate pairs
    // are undirected, so each scored pair feeds both endpoints' heaps;
    // the per-vector top-3 is declared as row_number()<=3 and planned
    // through the TopKPerGroup heap operator (pinned in PlanAuditSpec).
    QueryDef(
      "q_knn_graph",
      (s, d) => knnGraph(s, d)
        .orderBy(col("vec_id"), col("sim").desc, col("neighbor")),
      Some(s"""WITH $knnGraphCte
              |SELECT vec_id, neighbor, sim
              |FROM knn ORDER BY vec_id, sim DESC, neighbor""".stripMargin)),

    // mutual-kNN sparsification — keep an edge only when BOTH endpoints
    // rank each other in their top-3 (a ∈ kNN(b) ∧ b ∈ kNN(a)): the
    // standard pre-filter that strips hub-dominated one-way edges before
    // graph clustering. One self-join of the kNN graph on the reversed
    // pair; the kNN subtree appears on both sides of the join, so the
    // planner reuses its exchanges.
    QueryDef(
      "q_mutual_knn",
      (s, d) => {
        val knn = knnGraph(s, d)
        knn.join(knn.select(col("vec_id").as("neighbor"),
            col("neighbor").as("vec_id")), Seq("vec_id", "neighbor"), "left_semi")
          .where(col("vec_id") < col("neighbor"))
          .select(col("vec_id").as("id1"), col("neighbor").as("id2"), col("sim"))
          .orderBy("id1", "id2")
      },
      Some(s"""WITH $knnGraphCte
              |SELECT a.vec_id AS id1, a.neighbor AS id2, a.sim
              |FROM knn a JOIN knn b
              |  ON b.vec_id = a.neighbor AND b.neighbor = a.vec_id
              |WHERE a.vec_id < a.neighbor
              |ORDER BY id1, id2""".stripMargin)),

    // the ADAPTIVE-shape kNN graph — the 100 TB path beside the fixed
    // 8×8 q_knn_graph oracle (which is quadratic by construction and
    // aborts at the 100× probe): multi-probe SRP-LSH with bits ∝ log₂(n),
    // O(n log n) total work, and BETTER fixture-scale recall than the
    // fixed shape (0.42 vs 0.13 at n=500 — pinned by KnnAdaptiveSpec).
    // The oracle pins the fixture-scale shape (32 bands × adaptiveBits(500)
    // = 13 bits; static SQL cannot express the data-dependent width) and
    // inlines the engine's own deterministic hyperplane constants, so the
    // hash match proves the full candidate→score→rank path, not just rows.
    QueryDef(
      "q_knn_graph_adaptive",
      (s, d) => knnGraphAdaptive(Tables.embeddings(s, d)
          .select("vec_id", "embedding"))
        .orderBy(col("vec_id"), col("sim").desc, col("neighbor")),
      Some(knnAdaptiveOracleSql(KnnBands, adaptiveBits(500)))),

    // hubness gate for the ADAPTIVE graph — q_knn_degree's twin on the
    // scale path: the in-degree histogram that catches a mis-sized band
    // shape (a degenerate shape concentrates in-edges on hub vectors)
    // before anything trusts the graph. Same oracle convention as
    // q_knn_graph_adaptive (fixture-pinned shape, inlined hyperplanes).
    QueryDef(
      "q_knn_degree_adaptive",
      (s, d) => {
        val deg = knnGraphAdaptive(Tables.embeddings(s, d)
            .select("vec_id", "embedding"))
          .groupBy(col("neighbor").as("vec_id"))
          .agg(count(lit(1)).as("indeg"))
        Tables.embeddings(s, d).select("vec_id")
          .join(deg, Seq("vec_id"), "left")
          .select(coalesce(col("indeg"), lit(0L)).as("in_degree"))
          .groupBy("in_degree").agg(count(lit(1)).as("n_vectors"))
          .orderBy("in_degree")
      },
      Some(s"""WITH ${knnAdaptiveCte(KnnBands, adaptiveBits(500))},
              |deg AS (SELECT neighbor AS vec_id, count(*) AS indeg
              |        FROM knn GROUP BY 1),
              |d2 AS (SELECT a.vec_id, coalesce(deg.indeg, 0) AS indeg
              |       FROM (SELECT vec_id FROM embeddings) a
              |       LEFT JOIN deg USING (vec_id))
              |SELECT indeg AS in_degree, count(*) AS n_vectors
              |FROM d2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // label purity of the adaptive kNN graph: per label, the share of
    // top-3 edges that stay IN-label (micro) — the
    // classifier-feasibility gate (purity at chance ≈ label prior means
    // the embedding carries no class signal; purity ≈ 1 means a kNN
    // classifier is already enough). Runs on the ADAPTIVE graph — the
    // build that exists at corpus scale — so this is also the quality
    // gate for that build; label lookups are two skinny joins onto the
    // 6k-edge graph.
    QueryDef(
      "q_knn_label_purity",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val lab = emb.select(col("vec_id"), col("label"))
        knnGraphAdaptive(emb.select("vec_id", "embedding"))
          .join(lab.select(col("vec_id"), col("label").as("la")), "vec_id")
          .join(lab.select(col("vec_id").as("neighbor"), col("label").as("lb")),
            "neighbor")
          .groupBy(col("la").as("label"))
          .agg(count(lit(1)).as("edges"),
            count(when(col("la") === col("lb"), 1)).as("in_label"),
            expr("(count(CASE WHEN la = lb THEN 1 END) * CAST(1000000 AS BIGINT)) div count(1)")
              .as("purity_micro"))
          .orderBy("label")
      },
      Some(s"""WITH ${knnAdaptiveCte(KnnBands, adaptiveBits(500))},
              |j AS (SELECT ea.label AS la, eb.label AS lb
              |      FROM knn JOIN embeddings ea ON ea.vec_id = knn.vec_id
              |               JOIN embeddings eb ON eb.vec_id = knn.neighbor)
              |SELECT la AS label, count(*) AS edges,
              |  CAST(count(CASE WHEN la = lb THEN 1 END) AS BIGINT) AS in_label,
              |  CAST(count(CASE WHEN la = lb THEN 1 END) * 1000000 // count(*) AS BIGINT)
              |    AS purity_micro
              |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // norm-outlier screen: the top-10 vectors by deviation of ‖v‖²
    // (exact integer millis) from the rank-exact corpus median — on a
    // pre-normalized corpus every norm should sit at 1.0 ± float error,
    // so the extremes ARE the ingest bugs (unnormalized rows, truncated
    // arrays, scaled duplicates). Per-vector norms are one map-combined
    // aggregate; the median rides GlobalOrder's range shuffle (vectors
    // are data-sized) and lands back as a one-row broadcast; top-10 is
    // TakeOrdered under a total order.
    QueryDef(
      "q_norm_outliers",
      (s, d) => {
        val n2 = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("vec_id"),
            round(col("x").cast("double") * 1e3).cast("long").as("xm"))
          .groupBy("vec_id").agg(sum(col("xm") * col("xm")).as("n2m"))
        val cnt = n2.agg(count(lit(1)).as("cnt"))
        val med = graft.operators.GlobalOrder
          .withGlobalRowNumber(n2, Seq(col("n2m").asc, col("vec_id").asc), "rn")
          .crossJoin(cnt)
          .where(expr("rn = (cnt + 1) div 2"))
          .select(col("n2m").as("m"))
        n2.crossJoin(broadcast(med))
          .select(col("vec_id"), col("n2m"), abs(col("n2m") - col("m")).as("dev"))
          .orderBy(col("dev").desc, col("vec_id")).limit(10)
      },
      Some("""WITH n AS (SELECT vec_id,
             |    CAST(sum(CAST(round(x * 1000) AS BIGINT) * CAST(round(x * 1000) AS BIGINT)) AS BIGINT) AS n2m
             |  FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
             |  GROUP BY 1),
             |med AS (SELECT n2m AS m FROM n ORDER BY n2m, vec_id
             |        LIMIT 1 OFFSET (SELECT (count(*) - 1) // 2 FROM n))
             |SELECT vec_id, n2m, abs(n2m - med.m) AS dev
             |FROM n CROSS JOIN med ORDER BY dev DESC, vec_id LIMIT 10""".stripMargin)),

    // end-to-end SEMANTIC dedup — the embedding-space twin of
    // q_dedup_corpus: wide-band LSH candidates → exact cosine threshold →
    // transitive clusters → keep min-id per cluster. Duplicates are
    // injected deterministically (the fixture has no natural near-dups:
    // max pairwise sim ≈ 0.51): exact copies (sim 1.0, always drop) and
    // last-dimension-negated copies (sim = 1 − 2·v₆₄², straddling the
    // 0.95 threshold per vector — both survivors and drops, exercising
    // the discrimination boundary). Negation is EXACT in IEEE float, so
    // both engines compute bit-identical sims; a scaled copy would round
    // differently per engine.
    QueryDef(
      "q_embed_dedup",
      (s, d) => {
        // the corpus union feeds the sig explode, two confirm joins, and
        // the final anti-join — cache the (skinny) table so each branch
        // doesn't re-read and re-union the fixture
        val corpus = Loop.pinnedPersist(dedupCorpus(s, d))
        val eb = explodeBands(corpus, col("embedding"), NdBands, NdBits)
          .drop("embedding")
          // single (band, sig) exchange shared by both self-join sides
          .repartition(col("band"), col("sig"))
        val cand = eb.select(col("vec_id").as("id1"), col("band"), col("sig"))
          .join(eb.select(col("vec_id").as("id2"), col("band"), col("sig"))
            .hint("shuffle_hash"), Seq("band", "sig"))
          .where(col("id1") < col("id2"))
          .select("id1", "id2").distinct()
        val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val pairs = cand
          .join(e.select(col("vec_id").as("id1"), col("ed").as("e1")), "id1")
          .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")), "id2")
          .where(round(dot(col("e1"), col("e2")), 4) >= 0.95)
          .select("id1", "id2")
        val clusters = graft.operators.DedupOps.connectedComponents(pairs)
        val losers = clusters.where(col("id") =!= col("cluster"))
          .select(col("id").as("vec_id"))
        corpus.join(losers, Seq("vec_id"), "left_anti")
          .select("vec_id").orderBy("vec_id")
      },
      Some {
        s"""WITH RECURSIVE $dedupCorpusSql,
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
           |             ${bandSigSqlCols(NdBands, NdBits).mkString(",\n             ")}
           |      FROM corpus),
           |cand AS (
           |  ${(0 until NdBands).map(b =>
               s"SELECT a.vec_id AS id1, b.vec_id AS id2 FROM e a JOIN e b ON a.sig$b = b.sig$b AND a.vec_id < b.vec_id")
               .mkString("\n  UNION\n  ")}),
           |p AS (SELECT c.id1, c.id2
           |      FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2
           |      WHERE round(list_dot_product(a.ed, b.ed), 4) >= 0.95),
           |ee AS (SELECT id1, id2 FROM p UNION SELECT id2, id1 FROM p),
           |reach(id, r) AS (
           |  SELECT id1, id1 FROM ee
           |  UNION
           |  SELECT ee.id1, reach.r FROM ee JOIN reach ON reach.id = ee.id2),
           |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1)
           |SELECT vec_id FROM corpus
           |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster)
           |ORDER BY vec_id""".stripMargin
      }),

    // the ADAPTIVE-shape twin of q_embed_dedup: same semantic contract
    // (cosine ≥ 0.95 pairs → transitive clusters → keep min-id), but
    // candidates come from [[adaptiveNearDupPairs]] — SRP-LSH with
    // bits-per-band sized to log₂(corpus) at runtime, the shape that
    // stays linear where the fixed 8×8 banding goes quadratic (measured:
    // 17.9× time on a 10× corpus). The oracle is the BRUTE-FORCE ground
    // truth (no LSH mirror): the rows hash-match iff realized recall is
    // exactly 1.0 on the gate fixture — the recall target (0.9999 at the
    // 0.95 boundary, higher above it) makes that hold, and with
    // hash-derived hyperplanes the outcome is deterministic, so the gate
    // is stable, not flaky.
    QueryDef(
      "q_embed_dedup_adaptive",
      (s, d) => {
        // cached for the same reason as q_embed_dedup, plus the shape-
        // sizing count() in adaptiveNearDupPairs is one more consumer
        val corpus = Loop.pinnedPersist(dedupCorpus(s, d))
        // COST NOTE (r15 tail sweep): warm ~3.0 s at sf0.1 decomposes as
        // ~0.6 s adaptive-LSH candidate+confirm (q_dedup_sweep runs the
        // same machinery solo, with fewer bands) + the CC checkpoint
        // rounds and anti-join; a star-contraction CC swap was measured
        // NO better (3.04 vs 3.03, and 2.54 vs 2.08 on q_embed_dedup —
        // BENCH.md r15), and pre-r15 warm rows were flattered by the
        // unpinned corpus cache leaking into run 2. The residual is the
        // recall-targeted band expansion + per-round checkpoint I/O,
        // inherent to the adaptive contract; every stage is keyed/banded
        // (no all-pairs), so growth stays ~linear at 10×/100×.
        val pairs = adaptiveNearDupPairs(corpus, 0.95, 0.9999)
        val clusters = graft.operators.DedupOps.connectedComponents(pairs)
        val losers = clusters.where(col("id") =!= col("cluster"))
          .select(col("id").as("vec_id"))
        corpus.join(losers, Seq("vec_id"), "left_anti")
          .select("vec_id").orderBy("vec_id")
      },
      Some {
        s"""WITH RECURSIVE $dedupCorpusSql,
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM corpus),
           |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
           |      FROM e a JOIN e b ON a.vec_id < b.vec_id
           |      WHERE round(list_dot_product(a.ed, b.ed), 4) >= 0.95),
           |ee AS (SELECT id1, id2 FROM p UNION SELECT id2, id1 FROM p),
           |reach(id, r) AS (
           |  SELECT id1, id1 FROM ee
           |  UNION
           |  SELECT ee.id1, reach.r FROM ee JOIN reach ON reach.id = ee.id2),
           |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1)
           |SELECT vec_id FROM corpus
           |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster)
           |ORDER BY vec_id""".stripMargin
      }),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    // embedding space into cells around a deterministic coarse codebook
    // (every 50th vec_id → codebook size n/50, mean cell ≈ 50 vectors at
    // ANY corpus size), then drop, within each cell, every vector with a
    // lower-id neighbor at cosine ≥ 0.95 — reporting the minimum-id
    // witness. Differs from q_embed_dedup on both axes that define the
    // method: candidates come from cluster CO-MEMBERSHIP (not LSH band
    // collisions) and the drop rule is greedy keep-lowest (not transitive
    // CC), which is exactly the published recipe. Scale law, stated
    // honestly: the within-cell pair phase — the part SemDeDup
    // contributes — is quadratic only in CELL size, which the id-stride
    // codebook pins to a constant, so that phase is O(n·cell). The
    // ASSIGNMENT is O(n·k) with k = n/50 — the method's real cost (it is
    // matmul-shaped; the paper runs it as a sharded GPU matmul). Spark
    // shards the n side for free; when k outgrows one broadcast, chunk
    // the codebook into fixed-size broadcasts and merge with a per-vector
    // top-1 — identical semantics, bounded memory — or feed the
    // assignment through the ANN machinery (q_ivf_ann / q_ann_lsh) for
    // sub-brute cost at a recall trade the fixture-scale oracle can't
    // express. Shuffles keyed on cluster throughout.
    // Runs on the same injected-duplicate corpus as q_embed_dedup (the
    // raw fixture has no sim ≥ 0.95 pairs); exact copies share their
    // original's cell by construction (identical rounded dots, same
    // tie-break), so every sim-1.0 pair is caught — the negated-copy
    // boundary cases land by cell geometry, which the oracle replicates.
    QueryDef(
      "q_semantic_dedup",
      (s, d) => {
        val corpus = dedupCorpus(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val cents = corpus.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cent_id"), col("ed").as("ce"))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(col("cdot").desc, col("cent_id"))
        val assign = corpus.crossJoin(broadcast(cents))
          .withColumn("cdot", round(dot(col("ed"), col("ce")), 4))
          .withColumn("crn", row_number().over(wAssign))
          .where(col("crn") === 1)
          .select(col("vec_id"), col("ed"), col("cent_id").as("cluster"))
        val lower = assign.select(col("cluster"),
          col("vec_id").as("witness_id"), col("ed").as("ed2"))
        val pairs = assign.join(lower.hint("shuffle_hash"), Seq("cluster"))
          .where(col("witness_id") < col("vec_id"))
          .withColumn("sim", round(dot(col("ed"), col("ed2")), 4))
          .where(col("sim") >= 0.95)
        val wWitness = Window.partitionBy("vec_id").orderBy("witness_id")
        pairs
          .withColumn("wrn", row_number().over(wWitness))
          .where(col("wrn") === 1)
          .select(col("vec_id"), col("cluster"), col("witness_id"), col("sim"))
          .orderBy("vec_id")
      },
      Some {
        s"""WITH $dedupCorpusSql,
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM corpus),
           |c AS (SELECT vec_id AS cent_id, ed AS ce FROM e WHERE vec_id % 50 = 0),
           |ad AS (SELECT e.vec_id, e.ed, c.cent_id,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY round(list_dot_product(e.ed, c.ce), 4) DESC,
           |             c.cent_id) AS crn
           |       FROM e CROSS JOIN c),
           |a AS (SELECT vec_id, ed, cent_id AS cluster FROM ad WHERE crn = 1),
           |p AS (SELECT x.vec_id, x.cluster, y.vec_id AS witness_id,
           |        round(list_dot_product(x.ed, y.ed), 4) AS sim
           |      FROM a x JOIN a y
           |        ON y.cluster = x.cluster AND y.vec_id < x.vec_id
           |      WHERE round(list_dot_product(x.ed, y.ed), 4) >= 0.95),
           |w AS (SELECT *, row_number()
           |        OVER (PARTITION BY vec_id ORDER BY witness_id) AS wrn
           |      FROM p)
           |SELECT vec_id, cluster, witness_id, sim
           |FROM w WHERE wrn = 1 ORDER BY vec_id""".stripMargin
      }),

    // IVF-style ANN: assign every vector to its nearest "centroid" (a
    // deterministic coarse codebook — the first 8 vectors), then search
    // only the query's cell (nprobe=1). Candidate count drops ~|codebook|×
    // versus brute force; at scale the assignment is one broadcast join
    // and cells become the partitioning key.
    QueryDef(
      "q_ivf_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val cents = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("ed").as("ce"))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(col("cdot").desc, col("cent_id"))
        val assign = emb.crossJoin(broadcast(cents))
          .withColumn("cdot", round(dot(col("ed"), col("ce")), 4))
          .withColumn("crn", row_number().over(wAssign))
          .where(col("crn") === 1)
          .select(col("vec_id"), col("ed"), col("cent_id").as("cluster"))
        val q = assign.where(col("vec_id") >= 8 && col("vec_id") < 13)
          .select(col("vec_id").as("qid"), col("ed").as("qe"), col("cluster"))
        val wRank = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        assign.join(broadcast(q), "cluster")
          .where(col("vec_id") =!= col("qid"))
          .withColumn("sim", round(dot(col("qe"), col("ed")), 4))
          .withColumn("rn", row_number().over(wRank))
          .where(col("rn") <= 3)
          .select("qid", "vec_id", "cluster", "sim", "rn")
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |c AS (SELECT vec_id AS cent_id, ed AS ce FROM e WHERE vec_id < 8),
             |ad AS (SELECT e.vec_id, e.ed, c.cent_id,
             |         round(list_dot_product(e.ed, c.ce), 4) AS cdot,
             |         row_number() OVER (PARTITION BY e.vec_id
             |           ORDER BY round(list_dot_product(e.ed, c.ce), 4) DESC, c.cent_id) AS crn
             |       FROM e CROSS JOIN c),
             |assign AS (SELECT vec_id, ed, cent_id AS cluster FROM ad WHERE crn = 1),
             |q AS (SELECT vec_id AS qid, ed AS qe, cluster FROM assign
             |      WHERE vec_id >= 8 AND vec_id < 13),
             |sims AS (SELECT q.qid, a.vec_id, a.cluster,
             |           round(list_dot_product(q.qe, a.ed), 4) AS sim
             |         FROM q JOIN assign a ON a.cluster = q.cluster
             |         WHERE a.vec_id <> q.qid),
             |r AS (SELECT qid, vec_id, cluster, sim,
             |        CAST(row_number() OVER (PARTITION BY qid
             |          ORDER BY sim DESC, vec_id) AS INT) AS rn
             |      FROM sims)
             |SELECT qid, vec_id, cluster, sim, rn FROM r WHERE rn <= 3
             |ORDER BY qid, rn""".stripMargin)),

    // oracled IVF quality gate: recall@5 of 2-probe IVF search (each
    // query searches its top-2 nearest cells, not just its own) against
    // the exact brute-force top-5 — single-probe IVF silently loses
    // neighbors that fall just across a cell boundary; nprobe is the
    // recall/cost dial and this query measures where it's set. Measured
    // 0.47 mean on the fixtures: the 8-vector codebook is UNTRAINED
    // (first 8 corpus vectors, no k-means), so cells barely cluster —
    // exactly the kind of silent index rot this gate exists to surface;
    // a production codebook is trained and re-measured here.
    QueryDef(
      "q_ivf_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val cents = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("ed").as("ce"))
        ivfRecallAt5(emb, cents, col("vec_id") >= 8 && col("vec_id") < 28,
          nprobe = 2)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |c AS (SELECT vec_id AS cent_id, ed AS ce FROM e WHERE vec_id < 8),
             |ad AS (SELECT e.vec_id, e.ed, c.cent_id,
             |         round(list_dot_product(e.ed, c.ce), 4) AS cdot,
             |         row_number() OVER (PARTITION BY e.vec_id
             |           ORDER BY round(list_dot_product(e.ed, c.ce), 4) DESC, c.cent_id) AS crn
             |       FROM e CROSS JOIN c),
             |assign AS (SELECT vec_id, ed, cent_id AS cluster FROM ad WHERE crn = 1),
             |probes AS (SELECT vec_id AS qid, ed AS qe, cent_id AS cluster FROM ad
             |           WHERE vec_id >= 8 AND vec_id < 28 AND crn <= 2),
             |cand AS (SELECT DISTINCT p.qid, a.vec_id FROM probes p
             |         JOIN assign a ON a.cluster = p.cluster WHERE a.vec_id <> p.qid),
             |isims AS (SELECT cd.qid, cd.vec_id,
             |            round(list_dot_product(q2.ed, e2.ed), 4) AS sim
             |          FROM cand cd JOIN e q2 ON q2.vec_id = cd.qid
             |          JOIN e e2 ON e2.vec_id = cd.vec_id),
             |ivf AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM isims) WHERE rn <= 5),
             |q AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id >= 8 AND vec_id < 28),
             |bsims AS (SELECT q.qid, e.vec_id, round(list_dot_product(q.qe, e.ed), 4) AS sim
             |          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |brute AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM bsims) WHERE rn <= 5),
             |h AS (SELECT b.qid, count(*) AS hits FROM brute b
             |      JOIN ivf i ON i.qid = b.qid AND i.vec_id = b.vec_id GROUP BY 1)
             |SELECT q.qid, coalesce(h.hits, 0) AS hits,
             |  round(coalesce(h.hits, 0) / 5.0, 4) AS recall_at_5
             |FROM q LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin)),

    // product-quantization recall gate: PQ-code ADC (asymmetric distance
    // computation) top-5 against the exact brute-force top-5. Encoding
    // assigns every subvector to a per-subspace centroid (broadcast
    // codebook, map-side); scoring joins the 6-byte codes against the
    // query's per-(subspace, centroid) dot-product LUT — the corpus scan
    // never touches a float vector, which is PQ's entire point at scale.
    // The 8-term LUT sum folds left-to-right in one fixed expression so
    // both engines produce bit-identical scores. Measured ≈0.31 mean
    // recall on the fixtures: the codebook is UNTRAINED (subvector slices
    // of the first PqCents corpus vectors) over near-orthogonal random
    // embeddings — the honest floor this gate exists to surface; a
    // production codebook is k-means-trained per subspace (see
    // [[trainPqCodebooks]]; `SimilaritySpec` measures the trained
    // codebooks beating this floor) and re-measured here.
    QueryDef(
      "q_pq_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val cents = pqSubvectors(emb).where(col("vec_id") < PqCents)
          .select(col("s"), col("vec_id").as("cent_id"), col("xs").as("cs"))
        pqRecallAt5(emb, cents,
          col("vec_id") >= PqCents && col("vec_id") < PqCents + 20,
          (xs, cs) => round(dot(xs, cs), 4))
      },
      Some {
        val m = PqSubs; val k = PqCents; val sd = PqSubDim
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
           |sub AS (SELECT vec_id, s, ed[s*$sd+1 : s*$sd+$sd] AS xs FROM e, range($m) t(s)),
           |cents AS (SELECT s, vec_id AS cent_id, xs AS cs FROM sub WHERE vec_id < $k),
           |ad AS (SELECT sub.vec_id, sub.s, c.cent_id,
           |         round(list_dot_product(sub.xs, c.cs), 4) AS v,
           |         row_number() OVER (PARTITION BY sub.vec_id, sub.s
           |           ORDER BY round(list_dot_product(sub.xs, c.cs), 4) DESC, c.cent_id) AS crn
           |       FROM sub JOIN cents c USING (s)),
           |codes AS (SELECT vec_id, s, cent_id AS code FROM ad WHERE crn = 1),
           |qs AS (SELECT vec_id AS qid, s, xs FROM sub WHERE vec_id >= $k AND vec_id < ${k + 20}),
           |lut AS (SELECT q.qid, q.s, c.cent_id, round(list_dot_product(q.xs, c.cs), 4) AS v
           |        FROM qs q JOIN cents c USING (s)),
           |approx AS (SELECT l.qid, c.vec_id,
           |    round(${(0 until m).map(i => s"max(CASE WHEN c.s = $i THEN l.v END)").mkString("\n        + ")}, 4) AS score
           |  FROM codes c JOIN lut l ON l.s = c.s AND l.cent_id = c.code
           |  WHERE c.vec_id <> l.qid
           |  GROUP BY 1, 2),
           |pq AS (SELECT qid, vec_id FROM (
           |    SELECT qid, vec_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
           |    FROM approx) WHERE rn <= 5),
           |q2 AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id >= $k AND vec_id < ${k + 20}),
           |bsims AS (SELECT q2.qid, e.vec_id, round(list_dot_product(q2.qe, e.ed), 4) AS sim
           |          FROM q2 CROSS JOIN e WHERE e.vec_id <> q2.qid),
           |brute AS (SELECT qid, vec_id FROM (
           |    SELECT qid, vec_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           |    FROM bsims) WHERE rn <= 5),
           |h AS (SELECT b.qid, count(*) AS hits FROM brute b
           |      JOIN pq p ON p.qid = b.qid AND p.vec_id = b.vec_id GROUP BY 1)
           |SELECT q2.qid, coalesce(h.hits, 0) AS hits,
           |  round(coalesce(h.hits, 0) / 5.0, 4) AS recall_at_5
           |FROM q2 LEFT JOIN h ON h.qid = q2.qid ORDER BY q2.qid""".stripMargin
      }),

    // IVF-PQ recall gate — the production-ANN composition: coarse cells
    // prune the candidate set (2-probe), product-quantized RESIDUALS
    // (x − cell_centroid) compress what's left to 8 one-byte codes, and
    // ADC scores candidates as dot(q, c) + Σ_s dot(q_s, pq(r_x)_s) —
    // exact for the inner-product metric modulo quantization (the LUT
    // uses RAW query subvectors; a query-residual LUT would add a
    // −dot(c, r_x) error term). Measured ≈0.15 mean recall@5: coarse
    // cells AND residual codebooks are both untrained seed slices over
    // near-orthogonal random fixtures — the compounded floor this gate
    // surfaces; production trains both (trainCodebook for cells,
    // trainPqCodebooks on residuals) and re-measures here. The 8-term
    // score folds left-to-right FROM the coarse term, matching the
    // oracle's association exactly.
    QueryDef(
      "q_ivfpq_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val cc = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("ed").as("ce"))
        val wA = Window.partitionBy("vec_id").orderBy(col("cdot").desc, col("cell"))
        val ad = emb.crossJoin(broadcast(cc))
          .withColumn("cdot", round(dot(col("ed"), col("ce")), 4))
          .withColumn("crn", row_number().over(wA))
        val assign = ad.where(col("crn") === 1)
          .select(col("vec_id"), col("cell"),
            zip_with(col("ed"), col("ce"), (x, c) => x - c).as("res"))
        val rsub = assign.select(col("vec_id"), col("cell"),
          posexplode(array((0 until PqSubs).map(i =>
            slice(col("res"), i * PqSubDim + 1, PqSubDim)): _*)).as(Seq("s", "xs")))
        val cents = rsub.where(col("vec_id") >= 8 && col("vec_id") < 8 + PqCents)
          .select(col("s"), (col("vec_id") - 8).as("cent_id"), col("xs").as("cs"))
        val wC = Window.partitionBy("vec_id", "s").orderBy(col("v").desc, col("cent_id"))
        val codes = rsub.join(broadcast(cents), "s")
          .withColumn("v", round(dot(col("xs"), col("cs")), 4))
          .withColumn("crn", row_number().over(wC))
          .where(col("crn") === 1)
          .select(col("vec_id"), col("cell"), col("s"), col("cent_id").as("code"))
        val probes = ad.where(
            col("vec_id") >= 72 && col("vec_id") < 92 && col("crn") <= 2)
          .select(col("vec_id").as("qid"), col("ed").as("qe"),
            col("cell"), col("cdot"))
        val qsub = probes.select(col("qid"), col("cell"), col("cdot"),
          posexplode(array((0 until PqSubs).map(i =>
            slice(col("qe"), i * PqSubDim + 1, PqSubDim)): _*)).as(Seq("s", "qs")))
        val lut = qsub.join(broadcast(cents), "s")
          .select(col("qid"), col("cell"), col("cdot"), col("s"),
            col("cent_id").as("code"),
            round(dot(col("qs"), col("cs")), 4).as("v"))
        val scoreSum = (0 until PqSubs)
          .map(i => max(when(col("s") === i, col("v"))))
          .foldLeft(max(col("cdot")))(_ + _)
        val approx = codes.join(broadcast(lut), Seq("cell", "s", "code"))
          .where(col("vec_id") =!= col("qid"))
          .groupBy("qid", "vec_id").agg(round(scoreSum, 4).as("score"))
        val wT = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
        val top = approx.withColumn("rn", row_number().over(wT))
          .where(col("rn") <= 5).select("qid", "vec_id")
        val q2 = emb.where(col("vec_id") >= 72 && col("vec_id") < 92)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        recallAt5VsBrute(emb, top, q2)
      },
      Some {
        val sd = PqSubDim
        val lutSum = (0 until PqSubs).map(i =>
          s"max(CASE WHEN co.s = $i THEN l.v END)").mkString("\n        + ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
           |cc AS (SELECT vec_id AS cell, ed AS ce FROM e WHERE vec_id < 8),
           |ad AS (SELECT e.vec_id, e.ed, cc.cell, cc.ce,
           |         round(list_dot_product(e.ed, cc.ce), 4) AS cdot,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY round(list_dot_product(e.ed, cc.ce), 4) DESC, cc.cell) AS crn
           |       FROM e CROSS JOIN cc),
           |assign AS (SELECT vec_id, ed, cell,
           |    [ed[i] - ce[i] for i in range(1, ${PqSubs * PqSubDim + 1})] AS res
           |  FROM ad WHERE crn = 1),
           |rsub AS (SELECT vec_id, cell, s, res[s*$sd+1 : s*$sd+$sd] AS xs
           |         FROM assign, range(${PqSubs}) t(s)),
           |cents AS (SELECT s, vec_id - 8 AS cent_id, xs AS cs FROM rsub
           |          WHERE vec_id >= 8 AND vec_id < ${8 + PqCents}),
           |codes AS (SELECT vec_id, cell, s, cent_id AS code FROM (
           |    SELECT r.vec_id, r.cell, r.s, c.cent_id,
           |      row_number() OVER (PARTITION BY r.vec_id, r.s
           |        ORDER BY round(list_dot_product(r.xs, c.cs), 4) DESC, c.cent_id) AS crn
           |    FROM rsub r JOIN cents c USING (s)) WHERE crn = 1),
           |probes AS (SELECT vec_id AS qid, ed AS qe, cell, cdot FROM ad
           |           WHERE vec_id >= 72 AND vec_id < 92 AND crn <= 2),
           |qsub AS (SELECT qid, cell, cdot, s, qe[s*$sd+1 : s*$sd+$sd] AS qs
           |         FROM probes, range(${PqSubs}) t(s)),
           |lut AS (SELECT q.qid, q.cell, q.cdot, q.s, c.cent_id,
           |          round(list_dot_product(q.qs, c.cs), 4) AS v
           |        FROM qsub q JOIN cents c USING (s)),
           |approx AS (SELECT l.qid, co.vec_id,
           |    round(max(l.cdot)
           |        + $lutSum, 4) AS score
           |  FROM codes co JOIN lut l ON l.cell = co.cell AND l.s = co.s AND l.cent_id = co.code
           |  WHERE co.vec_id <> l.qid
           |  GROUP BY 1, 2),
           |pq AS (SELECT qid, vec_id FROM (
           |    SELECT qid, vec_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
           |    FROM approx) WHERE rn <= 5),
           |q2 AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id >= 72 AND vec_id < 92),
           |bsims AS (SELECT q2.qid, e.vec_id, round(list_dot_product(q2.qe, e.ed), 4) AS sim
           |          FROM q2 CROSS JOIN e WHERE e.vec_id <> q2.qid),
           |brute AS (SELECT qid, vec_id FROM (
           |    SELECT qid, vec_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           |    FROM bsims) WHERE rn <= 5),
           |h AS (SELECT b.qid, count(*) AS hits FROM brute b
           |      JOIN pq p ON p.qid = b.qid AND p.vec_id = b.vec_id GROUP BY 1)
           |SELECT q2.qid, coalesce(h.hits, 0) AS hits,
           |  round(coalesce(h.hits, 0) / 5.0, 4) AS recall_at_5
           |FROM q2 LEFT JOIN h ON h.qid = q2.qid ORDER BY q2.qid""".stripMargin
      }),

    // int8 quantization integrity: exact integer digests of the quantized
    // vectors (sum/min/max are deterministic ints; the array itself stays
    // engine-internal)
    QueryDef(
      "q_embed_quantize",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"),
          quantizeInt8(asDouble(col("embedding"))).as("q"))
        .select(
          col("vec_id"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  CAST(list_sum(q) AS BIGINT) AS q_sum,
             |  CAST(list_min(q) AS INT) AS q_min,
             |  CAST(list_max(q) AS INT) AS q_max
             |FROM (SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]),
             |      x -> greatest(-127, least(127, CAST(round(x * 127) AS INT)))) AS q
             |  FROM embeddings)
             |ORDER BY vec_id""".stripMargin)),

    // U6 multimodal join: text beside its embedding vector
    QueryDef(
      "q_doc_embed_join",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(col("doc_id"), col("lang"), col("label"),
            size(col("embedding")).as("dim"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, label, CAST(len(embedding) AS INT) AS dim
             |FROM documents JOIN embeddings ON doc_id = vec_id
             |ORDER BY doc_id""".stripMargin)),

    // embedding-table health gate — the validation pass that runs before
    // any ANN index build trusts a batch: per label, vector count,
    // degenerate vectors (zero norm), NaN contamination, dimension
    // consistency, and the norm² range. One map-side-combined aggregate
    // over the scan (label domain is tiny); norm² is the native one-pass
    // DotProduct whose left-to-right IEEE fold is bit-identical to
    // DuckDB's list_dot_product, rounded once per row before any
    // aggregation so min/max are order-free.
    QueryDef(
      "q_embed_health",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("label"), size(col("embedding")).as("dim"),
            round(dot(asDouble(col("embedding")), asDouble(col("embedding"))), 4)
              .as("norm2"),
            exists(col("embedding"), x => isnan(x)).as("has_nan"))
        e.groupBy("label").agg(
            count(lit(1)).as("n_vecs"),
            sum(when(col("norm2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
            sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan"),
            countDistinct(col("dim")).as("n_dims"),
            min("norm2").as("min_norm2"),
            max("norm2").as("max_norm2"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT label, CAST(len(embedding) AS INT) AS dim,
             |    round(list_dot_product(CAST(embedding AS DOUBLE[]),
             |                           CAST(embedding AS DOUBLE[])), 4) AS norm2,
             |    len([x FOR x IN embedding IF isnan(x)]) > 0 AS has_nan
             |  FROM embeddings)
             |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             |  CAST(sum(CASE WHEN norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
             |  CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
             |  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
             |  min(norm2) AS min_norm2, max(norm2) AS max_norm2
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-DIMENSION variance profile — the dimension-selection signal for
    // embedding pruning/truncation (which coordinates actually carry
    // information). Values are micro-quantized ONCE at the scan, then the
    // variance is the exact integer identity (n·Σx² − (Σx)²) div n² — no
    // float mean subtraction, so partial-aggregate merge order can't
    // change a digit. posexplode fans each row out to `dim` rows, but the
    // aggregate is map-side-combined down to one row per dimension before
    // the (≤ dim-sized) shuffle; top-8 via TakeOrderedAndProject.
    QueryDef(
      "q_embed_variance",
      (s, d) => {
        val dims = Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim"),
            round(col("x").cast("double") * 1e6).cast("long").as("xm"))
        // the identity's cross terms exceed int64 once n·Σx² passes ~2^63
        // (a few hundred M vectors at micro scale) — compute them in
        // DECIMAL(38,0), the same 128-bit width DuckDB's hugeint sums use
        dims.groupBy("dim")
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(col("xm").cast("decimal(38,0)")).as("sum_micro"),
            sum((col("xm") * col("xm")).cast("decimal(38,0)")).as("ss"))
          .select(col("dim"), col("n").cast("long").as("n"),
            col("sum_micro").cast("long").as("sum_micro"),
            expr("CAST((n * ss - sum_micro * sum_micro) div (n * n) AS BIGINT)")
              .as("var_micro2"))
          .orderBy(col("var_micro2").desc, col("dim"))
          .limit(8)
      },
      Some("""WITH dims AS (
             |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
             |  FROM embeddings)
             |SELECT CAST(dim AS INT) AS dim, count(*) AS n,
             |  CAST(sum(xm) AS BIGINT) AS sum_micro,
             |  CAST((count(*) * sum(xm*xm) - sum(xm)*sum(xm))
             |       // (count(*) * count(*)) AS BIGINT) AS var_micro2
             |FROM dims GROUP BY 1 ORDER BY var_micro2 DESC, dim LIMIT 8""".stripMargin)),

    // per-label centroids + the inter-label cosine matrix — the class-
    // separation report an embedding space gets on a dataset card (labels
    // whose centroids sit close are the ones a classifier confuses).
    // Centroid coordinates are integer-micro means (exact sums, one
    // truncating division), so the pairwise dot/norm sums are exact
    // integers and the only float op is the final sqrt+divide, rounded to
    // 6dp. Everything after the first map-combined aggregate is bounded
    // by |labels|·dim, not corpus size; the pair join is labels×labels.
    QueryDef(
      "q_label_centroids",
      (s, d) => {
        val dims = Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("label"), col("dim"),
            round(col("x").cast("double") * 1e6).cast("long").as("xm"))
        val cent = dims.groupBy("label", "dim")
          .agg(expr("sum(xm) div count(1)").as("cm"))
        val a = cent.select(col("label").as("label_a"), col("dim"), col("cm").as("ca"))
        val b = cent.select(col("label").as("label_b"), col("dim"), col("cm").as("cb"))
        a.join(broadcast(b), Seq("dim"))
          .where(col("label_a") < col("label_b"))
          .groupBy("label_a", "label_b")
          .agg(sum(col("ca") * col("cb")).as("dot"),
            sum(col("ca") * col("ca")).as("na"),
            sum(col("cb") * col("cb")).as("nb"))
          .select(col("label_a"), col("label_b"),
            // na·nb exceeds int64 (each ≈ dims·(1e7)²); the product is
            // only ever consumed by sqrt, so take it in double — exactly
            // what the oracle's CAST(... AS DOUBLE) * CAST(... AS DOUBLE)
            // computes
            round(col("dot").cast("double") /
              sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
              .as("cos_sim"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH dims AS (
             |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
             |  FROM embeddings),
             |cent AS (SELECT label, dim, sum(xm) // count(*) AS cm
             |         FROM dims GROUP BY 1, 2),
             |pairs AS (
             |  SELECT a.label AS label_a, b.label AS label_b,
             |         sum(a.cm * b.cm) AS dot,
             |         sum(a.cm * a.cm) AS na, sum(b.cm * b.cm) AS nb
             |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
             |  GROUP BY 1, 2)
             |SELECT label_a, label_b,
             |  round(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
             |    AS cos_sim
             |FROM pairs ORDER BY label_a, label_b""".stripMargin)),

    // mislabel-candidate mining: the 10 vectors whose cosine MARGIN (own-
    // label centroid minus best other-label centroid) is most negative —
    // the standard confident-learning-style triage list for label QA.
    // Centroids are the same integer-micro construction as
    // q_label_centroids; every vector scores against the broadcast
    // |labels|-row centroid table (the k-means assignment shape), with
    // per-side norms computed ONCE before the fan-out. The per-vector
    // best-other rank partitions by vec_id (natural unit of work); final
    // top-10 is a TakeOrdered.
    QueryDef(
      "q_mislabel_candidates",
      (s, d) => {
        val dims = Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("label"), col("dim"),
            round(col("x").cast("double") * 1e6).cast("long").as("xm"))
        val cvec = dims.groupBy("label", "dim")
          .agg(expr("sum(xm) div count(1)").as("cm"))
          .groupBy("label")
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("cm")))),
            e => e.getField("cm").cast("double")).as("cv"))
        val c2 = cvec.select(col("label").as("clabel"), col("cv"),
          sqrt(dot(col("cv"), col("cv"))).as("cnorm"))
        val v = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
            transform(col("embedding"), x => round(x.cast("double") * 1e6)).as("vm"))
          .withColumn("vnorm", sqrt(dot(col("vm"), col("vm"))))
        val sc = v.crossJoin(broadcast(c2))
          .withColumn("cos",
            round(dot(col("vm"), col("cv")) / (col("vnorm") * col("cnorm")), 6))
        val own = sc.where(col("label") === col("clabel"))
          .select(col("vec_id"), col("label"), col("cos").as("own_cos"))
        val wv = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("clabel"))
        val oth = sc.where(col("label") =!= col("clabel"))
          .withColumn("rn", row_number().over(wv))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("clabel").as("other_label"),
            col("cos").as("other_cos"))
        own.join(oth, "vec_id")
          .select(col("vec_id"), col("label"), col("own_cos"),
            col("other_label"), col("other_cos"),
            round(col("own_cos") - col("other_cos"), 6).as("margin"))
          .orderBy(col("margin"), col("vec_id"))
          .limit(10)
      },
      Some("""WITH dims AS (
             |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
             |  FROM embeddings),
             |cent AS (SELECT label, dim, sum(xm) // count(*) AS cm FROM dims GROUP BY 1, 2),
             |cvec AS (SELECT label, list(CAST(cm AS DOUBLE) ORDER BY dim) AS cv
             |         FROM cent GROUP BY 1),
             |v AS (SELECT vec_id, label,
             |        [CAST(round(CAST(x AS DOUBLE)*1000000) AS DOUBLE) FOR x IN embedding] AS vm
             |      FROM embeddings),
             |sc AS (SELECT v.vec_id, v.label, c.label AS clabel,
             |         round(list_dot_product(v.vm, c.cv) /
             |           (sqrt(list_dot_product(v.vm, v.vm)) * sqrt(list_dot_product(c.cv, c.cv))), 6)
             |           AS cos
             |       FROM v CROSS JOIN cvec c),
             |own AS (SELECT vec_id, label, cos AS own_cos FROM sc WHERE label = clabel),
             |oth AS (SELECT vec_id, clabel AS other_label, cos AS other_cos,
             |          row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
             |        FROM sc WHERE label <> clabel)
             |SELECT o.vec_id, o.label, o.own_cos, t.other_label, t.other_cos,
             |  round(o.own_cos - t.other_cos, 6) AS margin
             |FROM own o JOIN oth t ON t.vec_id = o.vec_id AND t.rn = 1
             |ORDER BY margin, o.vec_id LIMIT 10""".stripMargin)),

    // Matryoshka-style truncation gate: recall@5 of brute-force search in
    // the FIRST-16-dims subspace against the full-64-dim exact top-5 —
    // the measurement that tells you whether a cheaper prefix-dim index
    // (4× less memory and FLOPs per probe) is safe for candidate
    // generation at scale. Same query set and exact-scoring conventions
    // as q_ann_recall; the fixture embeddings are isotropic so the
    // expected number is LOW — the gate exists to measure, and a real
    // MRL-trained space would be admitted or rejected on this exact
    // query.
    QueryDef(
      "q_matryoshka_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val plain = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val trunc = emb.select(col("vec_id"),
          asDouble(slice(col("embedding"), 1, 16)).as("ed"))
        val qt = trunc.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        val truncTop = bruteTopK(trunc, qt, 5).select("qid", "vec_id")
        val qf = plain.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        recallAt5VsBrute(plain, truncTop, qf)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
             |             CAST(embedding[1:16] AS DOUBLE[]) AS td FROM embeddings),
             |q AS (SELECT vec_id AS qid, ed AS qe, td AS qt FROM e WHERE vec_id < 20),
             |fsims AS (SELECT q.qid, e.vec_id, round(list_dot_product(q.qe, e.ed), 4) AS sim
             |          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |brute AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM fsims) WHERE rn <= 5),
             |tsims AS (SELECT q.qid, e.vec_id, round(list_dot_product(q.qt, e.td), 4) AS sim
             |          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |tr AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM tsims) WHERE rn <= 5),
             |h AS (SELECT b.qid, count(*) AS hits FROM brute b
             |      JOIN tr l ON l.qid = b.qid AND l.vec_id = b.vec_id GROUP BY 1)
             |SELECT q.qid, coalesce(h.hits, 0) AS hits,
             |  round(coalesce(h.hits, 0) / 5.0, 4) AS recall_at_5
             |FROM q LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin)),

    // retrieval-quality eval harness: per query vector, hits@10 and MRR
    // against LABEL relevance (retrieved neighbor counts as relevant iff
    // it shares the query's label) — the standard embedding-space quality
    // scorecard an index build is accepted on. Reciprocal rank is the
    // exact integer 1e6 div first-relevant-rank (0 when no hit), so the
    // metric is ulp-proof. Brute-force exactness path; at scale the same
    // scorecard runs over any ANN candidate stream (the metrics only see
    // (qid, rank, label) pairs).
    QueryDef(
      "q_retrieval_eval",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("ed"))
        val q2 = e.where(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("ed").as("qe"))
        bruteTopK(e, q2, 10)
          .groupBy("qid")
          .agg(max("qlabel").as("label"),
            count(when(col("label") === col("qlabel"), 1)).as("hits_at_10"),
            coalesce(
              expr("CAST(1000000 AS BIGINT) div min(CASE WHEN label = qlabel THEN rn END)"),
              lit(0L)).as("rr_micro"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, ed AS qe
             |      FROM e WHERE vec_id < 50),
             |sims AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
             |           round(list_dot_product(q.qe, e.ed), 4) AS sim
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |top AS (SELECT qid, qlabel, vec_id, label,
             |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |        FROM sims QUALIFY rn <= 10)
             |SELECT qid, any_value(qlabel) AS label,
             |  count(*) FILTER (label = qlabel) AS hits_at_10,
             |  CAST(coalesce(1000000 // min(rn) FILTER (label = qlabel), 0) AS BIGINT)
             |    AS rr_micro
             |FROM top GROUP BY qid ORDER BY qid""".stripMargin)),

    // NDCG@10 — the position-weighted companion of q_retrieval_eval's
    // hits/MRR (a hit at rank 1 is worth more than one at rank 10; NDCG
    // is the metric retrieval A/B tests actually move). Binary label
    // relevance; the 1/log₂(r+1) discount is micro-rounded ONCE per rank
    // (ten fixed constants, the same IEEE expression in both engines),
    // so DCG and the ideal DCG (= hits compacted to the top ranks via a
    // running hit index) are exact integer sums, and NDCG an exact
    // integer ratio. Windows run inside the ≤10-row per-query lists.
    QueryDef(
      "q_ndcg",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("ed"))
        val q2 = e.where(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("ed").as("qe"))
        val w = Window.partitionBy("qid").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, 0)
        bruteTopK(e, q2, 10)
          .withColumn("rel", when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .withColumn("hit_idx", sum("rel").over(w))
          .groupBy("qid")
          .agg(
            sum("rel").as("hits"),
            sum(expr("CASE WHEN rel = 1 THEN CAST(round(1000000 / log2(rn + 1)) AS BIGINT) ELSE 0 END"))
              .as("dcg_micro"),
            // hit_idx is 0 until the first hit — the discount is only
            // defined (and only counted) on rel rows
            sum(expr("CASE WHEN rel = 1 THEN CAST(round(1000000 / log2(hit_idx + 1)) AS BIGINT) ELSE 0 END"))
              .as("idcg_micro"))
          .select(col("qid"), col("hits"), col("dcg_micro"), col("idcg_micro"),
            expr("CASE WHEN idcg_micro = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE dcg_micro * 1000 div idcg_micro END").as("ndcg_milli"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, ed AS qe
             |      FROM e WHERE vec_id < 50),
             |sims AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
             |           round(list_dot_product(q.qe, e.ed), 4) AS sim
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |top AS (SELECT qid, qlabel, vec_id, label,
             |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |        FROM sims QUALIFY rn <= 10),
             |rel AS (SELECT qid, rn,
             |          CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
             |          sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY qid ORDER BY rn
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_idx
             |        FROM top),
             |agg AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS hits,
             |          CAST(sum(CASE WHEN rel = 1
             |            THEN CAST(round(1000000 / log2(rn + 1)) AS BIGINT) ELSE 0 END) AS BIGINT)
             |            AS dcg_micro,
             |          CAST(sum(CASE WHEN rel = 1
             |            THEN CAST(round(1000000 / log2(hit_idx + 1)) AS BIGINT) ELSE 0 END) AS BIGINT)
             |            AS idcg_micro
             |        FROM rel GROUP BY qid)
             |SELECT qid, hits, dcg_micro, idcg_micro,
             |  CAST(coalesce(dcg_micro * 1000 // nullif(idcg_micro, 0), 0) AS BIGINT)
             |    AS ndcg_milli
             |FROM agg ORDER BY qid""".stripMargin)),

    // int8 scalar-quantization recall gate: rank by the INTEGER dot of
    // the q_embed_quantize codes (4× memory cut, exact integer scores —
    // no rounding convention needed at all) and measure recall@5 against
    // the full-precision exact top-5. Completes the compression-fidelity
    // family (PQ / IVF-PQ / Matryoshka / SQ): per byte of code, SQ keeps
    // far more of the neighborhood structure than prefix truncation on
    // an isotropic space — this pair of gates is how you'd prove that
    // choice for a real corpus.
    QueryDef(
      "q_sq_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val plain = emb.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        // int8 codes carried as exact small-integer doubles so the shared
        // brute-force ranker applies; its round-to-4dp is the identity on
        // integer-valued dots
        val quant = emb.select(col("vec_id"),
          quantizeInt8(asDouble(col("embedding"))).cast("array<double>").as("ed"))
        val qq = quant.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        val sqTop = bruteTopK(quant, qq, 5).select("qid", "vec_id")
        val qf = plain.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        recallAt5VsBrute(plain, sqTop, qf)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
             |             list_transform(CAST(embedding AS DOUBLE[]),
             |               x -> CAST(greatest(-127, least(127, CAST(round(x * 127) AS INT))) AS DOUBLE)) AS qv
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, ed AS qe, qv AS qq FROM e WHERE vec_id < 20),
             |fsims AS (SELECT q.qid, e.vec_id, round(list_dot_product(q.qe, e.ed), 4) AS sim
             |          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |brute AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM fsims) WHERE rn <= 5),
             |qsims AS (SELECT q.qid, e.vec_id,
             |            round(list_dot_product(q.qq, e.qv), 4) AS sim
             |          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
             |sq AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM qsims) WHERE rn <= 5),
             |h AS (SELECT b.qid, count(*) AS hits FROM brute b
             |      JOIN sq l ON l.qid = b.qid AND l.vec_id = b.vec_id GROUP BY 1)
             |SELECT q.qid, coalesce(h.hits, 0) AS hits,
             |  round(coalesce(h.hits, 0) / 5.0, 4) AS recall_at_5
             |FROM q LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin)),

    // IVF cell-balance report — the index-maintenance number next to the
    // recall gates: per cell, occupancy, corpus share, and the balance
    // factor (1e6 = perfectly even; a hot cell >> 1e6 means probes that
    // hit it scan far more than corpus/cells candidates, the quiet way an
    // IVF index rots as data drifts from its codebook). Same 8-centroid
    // assignment as q_ivf_ann; everything after the one grouped count is
    // bounded by the codebook size.
    QueryDef(
      "q_ivf_balance",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val cents = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("ed").as("ce"))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(col("cdot").desc, col("cent_id"))
        val assign = emb.crossJoin(broadcast(cents))
          .withColumn("cdot", round(dot(col("ed"), col("ce")), 4))
          .withColumn("crn", row_number().over(wAssign))
          .where(col("crn") === 1)
          .select(col("vec_id"), col("cent_id").as("cluster"))
        val per = assign.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
        val tot = per.agg(sum("n_vecs").as("t"), count(lit(1)).as("cells"))
        per.crossJoin(tot)
          .select(col("cluster"), col("n_vecs"),
            expr("(n_vecs * CAST(1000000 AS BIGINT)) div t").as("share_micro"),
            expr("(n_vecs * cells * CAST(1000000 AS BIGINT)) div t").as("balance_micro"))
          .orderBy("cluster")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |c AS (SELECT vec_id AS cent_id, ed AS ce FROM e WHERE vec_id < 8),
             |ad AS (SELECT e.vec_id, c.cent_id,
             |         row_number() OVER (PARTITION BY e.vec_id
             |           ORDER BY round(list_dot_product(e.ed, c.ce), 4) DESC, c.cent_id) AS crn
             |       FROM e CROSS JOIN c),
             |assign AS (SELECT vec_id, cent_id AS cluster FROM ad WHERE crn = 1),
             |per AS (SELECT cluster, count(*) AS n_vecs FROM assign GROUP BY 1),
             |tot AS (SELECT sum(n_vecs) AS t, count(*) AS cells FROM per)
             |SELECT p.cluster, p.n_vecs,
             |  CAST((p.n_vecs * 1000000) // t.t AS BIGINT) AS share_micro,
             |  CAST((p.n_vecs * t.cells * 1000000) // t.t AS BIGINT) AS balance_micro
             |FROM per p CROSS JOIN tot t ORDER BY cluster""".stripMargin)),

    // kNN-graph hub profile: the IN-degree histogram of the directed
    // top-3 graph (out-degree is 3 by construction; in-degree is where
    // hubness shows). Hub vectors — in-degree far above k — are the known
    // failure mode of high-dim neighbor graphs (they dominate clustering
    // and retrieval); this is the one-line health check run after every
    // graph build. Zero-in-degree vectors come from a left join against
    // the corpus so the histogram's mass always sums to the corpus size.
    // Scale note (measured): the shared [[knnGraph]] build carries the
    // FIXED NdBands×NdBits shape, whose per-bucket occupancy — and so
    // its candidate-pair count — grows quadratically once the corpus
    // outruns 2^bits·parallelism; the 100× probe (500 k vectors on 8-bit
    // bands) hits exactly that wall (disk-exhausting spill in the bucket
    // self-join). That is the documented tuning law at the top of this
    // file (bits ∝ log₂ corpus), not a plan defect: a production build
    // re-derives the band shape from the corpus count the way
    // [[adaptiveNearDupPairs]] does, and this histogram is the gate that
    // would catch a mis-sized shape before anything trusts the graph.
    QueryDef(
      "q_knn_degree",
      (s, d) => {
        val deg = knnGraph(s, d)
          .groupBy(col("neighbor").as("vec_id"))
          .agg(count(lit(1)).as("indeg"))
        Tables.embeddings(s, d).select("vec_id")
          .join(deg, Seq("vec_id"), "left")
          .select(coalesce(col("indeg"), lit(0L)).as("in_degree"))
          .groupBy("in_degree").agg(count(lit(1)).as("n_vectors"))
          .orderBy("in_degree")
      },
      Some(s"""WITH $knnGraphCte,
              |deg AS (SELECT neighbor AS vec_id, count(*) AS indeg
              |        FROM knn GROUP BY 1),
              |d2 AS (SELECT a.vec_id, coalesce(deg.indeg, 0) AS indeg
              |       FROM (SELECT vec_id FROM embeddings) a
              |       LEFT JOIN deg USING (vec_id))
              |SELECT indeg AS in_degree, count(*) AS n_vectors
              |FROM d2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PQ reconstruction DISTORTION — the other axis of q_pq_recall: per
    // subspace, the mean squared error between each subvector and its
    // assigned centroid (micro-quantized per row, so the per-subspace
    // averages are exact integer sums). Recall tells you whether the
    // index still finds neighbors; distortion tells you WHERE the codes
    // lose geometry (a hot subspace with 2× the MSE is the one to give
    // more centroids). Assignment mirrors q_pq_recall's max-dot codes;
    // ‖x−c‖² comes from three shared-traversal dot products.
    QueryDef(
      "q_pq_distortion",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val sub = pqSubvectors(emb)
        val cents = sub.where(col("vec_id") < PqCents)
          .select(col("s"), col("vec_id").as("cent_id"), col("xs").as("cs"))
        val wA = Window.partitionBy("vec_id", "s")
          .orderBy(col("v").desc, col("cent_id"))
        val best = sub.join(broadcast(cents), "s")
          .withColumn("v", round(dot(col("xs"), col("cs")), 4))
          .withColumn("crn", row_number().over(wA))
          .where(col("crn") === 1)
        best
          .select(col("s"),
            round((dot(col("xs"), col("xs")) - lit(2.0) * dot(col("xs"), col("cs")) +
              dot(col("cs"), col("cs"))) * lit(1e6)).cast("long").as("dist_micro"))
          .groupBy("s")
          .agg(count(lit(1)).as("n"),
            expr("sum(dist_micro) div count(1)").as("mse_micro"))
          .orderBy("s")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
              |sub AS (SELECT vec_id, s, ed[s*$PqSubDim+1 : s*$PqSubDim+$PqSubDim] AS xs
              |        FROM e, range($PqSubs) t(s)),
              |cents AS (SELECT s, vec_id AS cent_id, xs AS cs FROM sub WHERE vec_id < $PqCents),
              |ad AS (SELECT sub.vec_id, sub.s, sub.xs, c.cs,
              |         row_number() OVER (PARTITION BY sub.vec_id, sub.s
              |           ORDER BY round(list_dot_product(sub.xs, c.cs), 4) DESC, c.cent_id) AS crn
              |       FROM sub JOIN cents c USING (s)),
              |best AS (SELECT * FROM ad WHERE crn = 1),
              |dist AS (SELECT s, CAST(round((list_dot_product(xs, xs)
              |           - 2*list_dot_product(xs, cs)
              |           + list_dot_product(cs, cs)) * 1000000) AS BIGINT) AS dist_micro
              |         FROM best)
              |SELECT CAST(s AS INT) AS s, count(*) AS n,
              |  CAST(sum(dist_micro) // count(*) AS BIGINT) AS mse_micro
              |FROM dist GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LSH hyperplane BALANCE: per embedding dimension, the share of
    // positive signs — the health check on the sign-test hyperplanes the
    // banded ANN index is built from. A dimension that is 90/10 carries
    // ~0.47 bits instead of 1: its band positions mostly agree for ALL
    // vectors, inflating bucket occupancy without adding selectivity.
    // Top-8 most imbalanced dims, everything in exact integer micros
    // computed from the raw sign counts (never from a pre-truncated
    // share, so the two engines cannot round differently).
    QueryDef(
      "q_lsh_bit_balance",
      (s, d) => {
        val dims = Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim"),
            when(col("x") >= 0, 1L).otherwise(0L).as("pos"))
        dims.groupBy("dim")
          .agg(count(lit(1)).as("n"), sum("pos").as("positives"))
          .select(col("dim"), col("n"), col("positives"),
            expr("(positives * CAST(1000000 AS BIGINT)) div n").as("pos_micro"),
            expr("abs((2 * positives * CAST(1000000 AS BIGINT)) div n " +
              "- CAST(1000000 AS BIGINT))").as("imbalance_micro"))
          .orderBy(col("imbalance_micro").desc, col("dim"))
          .limit(8)
      },
      Some("""WITH dims AS (
             |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             |         CASE WHEN unnest(embedding) >= 0 THEN 1 ELSE 0 END AS pos
             |  FROM embeddings)
             |SELECT CAST(dim AS INT) AS dim, count(*) AS n,
             |  CAST(sum(pos) AS BIGINT) AS positives,
             |  CAST((sum(pos) * 1000000) // count(*) AS BIGINT) AS pos_micro,
             |  CAST(abs((2 * sum(pos) * 1000000) // count(*) - 1000000) AS BIGINT)
             |    AS imbalance_micro
             |FROM dims GROUP BY 1 ORDER BY imbalance_micro DESC, dim LIMIT 8""".stripMargin)),

    // pairwise-cosine GEOMETRY histogram: the distribution of cosine over
    // a 50-query × corpus sample, banded at 0.1 — the isotropy sanity
    // check run before trusting any similarity threshold (a mean-shifted
    // or collapsed embedding space shows up here first; thresholds like
    // "0.95 = duplicate" only mean something against this background).
    // The native one-pass cosine expression ([[cosine]]) is bit-identical
    // to the oracle's dot/(√·√) composition; floor on the 4dp-rounded
    // value keeps band edges exact.
    QueryDef(
      "q_cosine_hist",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
        val q2 = e.where(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("ed").as("qe"))
        e.crossJoin(broadcast(q2))
          .where(col("vec_id") =!= col("qid"))
          .select(floor(round(cosine(col("qe"), col("ed")), 4) * 10)
            .cast("int").as("band"))
          .groupBy("band").agg(count(lit(1)).as("pairs"))
          .orderBy("band")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |q AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id < 50),
             |sims AS (SELECT round(list_dot_product(q.qe, e.ed) /
             |           (sqrt(list_dot_product(q.qe, q.qe)) *
             |            sqrt(list_dot_product(e.ed, e.ed))), 4) AS cos
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid)
             |SELECT CAST(floor(cos * 10) AS INT) AS band, count(*) AS pairs
             |FROM sims GROUP BY 1 ORDER BY 1""".stripMargin)),

    // embedding-batch DRIFT: per label, how far the centroid computed on
    // one half of the corpus sits from the other half's (cosine + L2 in
    // micro units) — q_feature_drift's question asked of the embedding
    // space, the check a pipeline runs before mixing two ingestion
    // batches through one index. Deterministic halves (vec_id parity),
    // integer-micro centroids, exact integer dot/norm/diff sums; the
    // only float ops are the final sqrt/divide on exactly-cast values.
    QueryDef(
      "q_embed_drift",
      (s, d) => {
        val dims = Tables.embeddings(s, d)
          .select(col("label"),
            when(col("vec_id") % 2 === 0, "h1").otherwise("h2").as("half"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("label"), col("half"), col("dim"),
            round(col("x").cast("double") * 1e6).cast("long").as("xm"))
        val cent = dims.groupBy("label", "half", "dim")
          .agg(expr("sum(xm) div count(1)").as("cm"))
        val a = cent.where(col("half") === "h1")
          .select(col("label"), col("dim"), col("cm").as("ca"))
        val b = cent.where(col("half") === "h2")
          .select(col("label"), col("dim"), col("cm").as("cb"))
        a.join(b, Seq("label", "dim"))
          .groupBy("label")
          .agg(sum(col("ca") * col("cb")).as("dot"),
            sum(col("ca") * col("ca")).as("na"),
            sum(col("cb") * col("cb")).as("nb"),
            sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("d2"))
          .select(col("label"),
            round(col("dot").cast("double") /
              sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
              .as("cos_shift"),
            round(sqrt(col("d2").cast("double"))).cast("long").as("l2_micro"))
          .orderBy("label")
      },
      Some("""WITH half AS (SELECT vec_id, label,
             |        CASE WHEN vec_id % 2 = 0 THEN 'h1' ELSE 'h2' END AS half, embedding
             |      FROM embeddings),
             |dims AS (SELECT label, half, generate_subscripts(embedding, 1) - 1 AS dim,
             |           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
             |         FROM half),
             |cent AS (SELECT label, half, dim, sum(xm) // count(*) AS cm
             |         FROM dims GROUP BY 1, 2, 3),
             |p AS (SELECT a.label, sum(a.cm * b.cm) AS dot,
             |        sum(a.cm * a.cm) AS na, sum(b.cm * b.cm) AS nb,
             |        sum((a.cm - b.cm) * (a.cm - b.cm)) AS d2
             |      FROM cent a JOIN cent b ON a.label = b.label AND a.dim = b.dim
             |      WHERE a.half = 'h1' AND b.half = 'h2'
             |      GROUP BY 1)
             |SELECT label,
             |  round(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
             |    AS cos_shift,
             |  CAST(round(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS l2_micro
             |FROM p ORDER BY label""".stripMargin)),

    // int8 SQ reconstruction distortion — q_pq_distortion's twin for the
    // scalar quantizer: per-element |x − dequantize(quantize(x))| in
    // nano units, mean and max over the corpus. The max lands at
    // ~1/(2·127) ≈ 0.0039 by construction (half the quantization grain)
    // — a report that DOESN'T is how a scaling bug in the codec
    // announces itself. One scan, one generator, one map-combined
    // aggregate.
    QueryDef(
      "q_sq_distortion",
      (s, d) => {
        val x = Tables.embeddings(s, d)
          .select(explode(col("embedding")).as("xf"))
          .select(col("xf").cast("double").as("x"))
        val q = greatest(lit(-127), least(lit(127),
          round(col("x") * 127).cast("int")))
        x.select(round(abs(col("x") - q.cast("double") / 127.0) * 1e9)
            .cast("long").as("e"))
          .agg(count(lit(1)).as("elements"),
            expr("sum(e) div count(1)").as("mae_nano"),
            max("e").as("max_err_nano"))
      },
      Some("""WITH err AS (
             |  SELECT CAST(round(abs(x - CAST(greatest(-127, least(127,
             |           CAST(round(x * 127) AS INT))) AS DOUBLE) / 127.0) * 1e9) AS BIGINT) AS e
             |  FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings))
             |SELECT count(*) AS elements,
             |  CAST(sum(e) // count(*) AS BIGINT) AS mae_nano,
             |  CAST(max(e) AS BIGINT) AS max_err_nano
             |FROM err""".stripMargin)),

    // spectral anisotropy probe: top-eigenvalue SHARE of the second-
    // moment matrix via two distributed power iterations — the one
    // number that says whether the space has collapsed toward a dominant
    // direction (isotropic ⇒ share ≈ 1/dim; a rogue normalization bug ⇒
    // share → 1, and every cosine threshold silently changes meaning).
    // Everything is exact integer arithmetic: milli-quantized inputs,
    // the dim×dim moment matrix as a (i, j, Σxᵢxⱼ) TABLE (one corpus
    // pass, map-combined to dim² rows — the only data-sized stage),
    // iteration vectors re-quantized to 1e6 max-norm by truncating
    // division each step (deterministic), the Rayleigh quotient in
    // 128-bit (the triple product passes int64). Fixed iteration count
    // + fixed start vector — no convergence test, so both engines walk
    // the identical integer path.
    QueryDef(
      "q_top_eigen",
      (s, d) => {
        // r15 note: a map-side double-posexplode build of this moment
        // matrix (the q_dim_corr rewrite) was MEASURED SLOWER here
        // (1.42 vs 1.14 s): q_top_eigen's five m-consuming branches ride
        // the self-join's reusable exchange, while the generate subtree
        // is re-inlined per branch (HOF quantization is interpreted —
        // CodegenFallback). The join form stays: measured-best.
        val dims = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("vec_id"), col("dim"),
            round(col("x").cast("double") * 1e3).cast("long").as("xm"))
        val m = dims.select(col("vec_id"), col("dim").as("i"), col("xm").as("xa"))
          .join(dims.select(col("vec_id"), col("dim").as("j"), col("xm").as("xb")),
            "vec_id")
          .groupBy("i", "j").agg(sum(col("xa") * col("xb")).as("mij"))
        def iterate(v: org.apache.spark.sql.DataFrame) = {
          val w = m.join(v.select(col("dim").as("j"), col("v")), "j")
            .groupBy(col("i").as("dim"))
            // 128-bit like the oracle's HUGEINT: at corpus scale (500k
            // vectors, milli-quantized) Σ mij*v passes 2^63 exactly on the
            // collapsed/anisotropic spaces this probe exists to detect.
            .agg(sum(expr("CAST(mij AS DECIMAL(38,0)) * v")).as("w"))
          val mx = w.agg(max(abs(col("w"))).as("mx"))
          w.crossJoin(mx)
            .select(col("dim"),
              expr("CAST((CAST(w AS DECIMAL(38,0)) * 1000000) div mx AS BIGINT)")
                .as("v"))
        }
        val v0 = m.select(col("i").as("dim")).distinct()
          .withColumn("v", lit(1000000L))
        val v2 = iterate(iterate(v0))
        val ray = m
          .join(v2.select(col("dim").as("i"), col("v").as("va")), "i")
          .join(v2.select(col("dim").as("j"), col("v").as("vb")), "j")
          .agg(sum(expr("CAST(mij AS DECIMAL(38,0)) * va * vb")).as("vmv"))
        val vv = v2.agg(sum(col("v") * col("v")).as("v2n"))
        val tr = m.where(col("i") === col("j")).agg(sum("mij").as("trace"))
        ray.crossJoin(vv).crossJoin(tr)
          .select(expr("CAST(vmv div v2n AS BIGINT)").as("lambda_top"),
            col("trace"),
            expr("CAST((CAST(vmv div v2n AS DECIMAL(38,0)) * 1000000) div trace AS BIGINT)")
              .as("top_share_micro"))
      },
      Some("""WITH dims AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS xm
             |  FROM embeddings),
             |m AS (SELECT a.dim AS i, b.dim AS j, CAST(sum(a.xm * b.xm) AS BIGINT) AS mij
             |      FROM dims a JOIN dims b ON a.vec_id = b.vec_id
             |      GROUP BY 1, 2),
             |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS BIGINT) AS v FROM m),
             |w1 AS (SELECT m.i AS dim, sum(CAST(m.mij AS HUGEINT) * v0.v) AS w
             |       FROM m JOIN v0 ON v0.dim = m.j GROUP BY 1),
             |n1 AS (SELECT max(abs(w)) AS mx FROM w1),
             |v1 AS (SELECT w1.dim, CAST((w1.w * 1000000) // n1.mx AS BIGINT) AS v
             |       FROM w1 CROSS JOIN n1),
             |w2 AS (SELECT m.i AS dim, sum(CAST(m.mij AS HUGEINT) * v1.v) AS w
             |       FROM m JOIN v1 ON v1.dim = m.j GROUP BY 1),
             |n2 AS (SELECT max(abs(w)) AS mx FROM w2),
             |v2 AS (SELECT w2.dim, CAST((w2.w * 1000000) // n2.mx AS BIGINT) AS v
             |       FROM w2 CROSS JOIN n2),
             |ray AS (SELECT sum(CAST(m.mij AS HUGEINT) * a.v * b.v) AS vmv
             |        FROM m JOIN v2 a ON a.dim = m.i JOIN v2 b ON b.dim = m.j),
             |vv AS (SELECT CAST(sum(v * v) AS BIGINT) AS v2n FROM v2),
             |tr AS (SELECT CAST(sum(mij) AS BIGINT) AS trace FROM m WHERE i = j)
             |SELECT CAST(ray.vmv // vv.v2n AS BIGINT) AS lambda_top, tr.trace,
             |  CAST(((ray.vmv // vv.v2n) * 1000000) // tr.trace AS BIGINT)
             |    AS top_share_micro
             |FROM ray CROSS JOIN vv CROSS JOIN tr""".stripMargin)),

    // label-separation statistic: mean/min/max pairwise cosine split by
    // same-label vs cross-label over the 50-query sample — the two-row
    // summary that says whether labels carry ANY geometry (a trained
    // space shows intra ≫ inter; the isotropic fixture shows both at
    // ~0, which is the honest reading this gate exists to give).
    // Cosines micro-quantized per pair before aggregation so the means
    // are exact integer sums.
    QueryDef(
      "q_label_separation",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("ed"))
        val q2 = e.where(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("ed").as("qe"))
        e.crossJoin(broadcast(q2))
          .where(col("vec_id") =!= col("qid"))
          .select(
            when(col("label") === col("qlabel"), "intra").otherwise("inter")
              .as("kind"),
            round(cosine(col("qe"), col("ed")) * 1e6).cast("long").as("cos_micro"))
          .groupBy("kind")
          .agg(count(lit(1)).as("pairs"),
            expr("sum(cos_micro) div count(1)").as("mean_cos_micro"),
            min("cos_micro").as("min_cos_micro"),
            max("cos_micro").as("max_cos_micro"))
          .orderBy("kind")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, ed AS qe
             |      FROM e WHERE vec_id < 50),
             |sims AS (SELECT CASE WHEN e.label = q.qlabel THEN 'intra'
             |                  ELSE 'inter' END AS kind,
             |           CAST(round(list_dot_product(q.qe, e.ed) /
             |             (sqrt(list_dot_product(q.qe, q.qe)) *
             |              sqrt(list_dot_product(e.ed, e.ed))) * 1000000) AS BIGINT)
             |             AS cos_micro
             |         FROM q CROSS JOIN e WHERE e.vec_id <> q.qid)
             |SELECT kind, count(*) AS pairs,
             |  CAST(sum(cos_micro) // count(*) AS BIGINT) AS mean_cos_micro,
             |  CAST(min(cos_micro) AS BIGINT) AS min_cos_micro,
             |  CAST(max(cos_micro) AS BIGINT) AS max_cos_micro
             |FROM sims GROUP BY 1 ORDER BY 1""".stripMargin)),

    // effective dimensionality (diagonal participation ratio):
    // (Σvᵢ)² / Σvᵢ² over the per-dimension variances — how many
    // dimensions the space EFFECTIVELY uses (isotropic ⇒ ≈ dim; one hot
    // dimension ⇒ → 1). The cheap per-dimension complement of
    // q_top_eigen's cross-dimension probe: variances come from the same
    // exact integer identity as q_embed_variance, and the ratio runs in
    // 128-bit integers (Σv² passes 2^63 immediately at micro² scale).
    QueryDef(
      "q_effective_dims",
      (s, d) => {
        val dims = Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim"),
            round(col("x").cast("double") * 1e6).cast("long").as("xm"))
        val v = dims.groupBy("dim")
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(col("xm").cast("decimal(38,0)")).as("sxm"),
            sum((col("xm") * col("xm")).cast("decimal(38,0)")).as("ss"))
          .select(expr("CAST((n * ss - sxm * sxm) div (n * n) AS DECIMAL(38,0))")
            .as("var_micro2"))
        v.agg(count(lit(1)).as("dims"),
            sum("var_micro2").as("sv"),
            sum(expr("var_micro2 * var_micro2")).as("sv2"))
          .select(col("dims"),
            expr("CAST((sv * sv * 1000) div sv2 AS BIGINT)").as("pr_milli"))
      },
      Some("""WITH dims AS (
             |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
             |  FROM embeddings),
             |v AS (SELECT dim,
             |        CAST((count(*) * sum(xm*xm) - sum(xm)*sum(xm))
             |             // (count(*) * count(*)) AS HUGEINT) AS var_micro2
             |      FROM dims GROUP BY 1),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS dims,
             |        sum(var_micro2) AS sv,
             |        sum(var_micro2 * var_micro2) AS sv2
             |      FROM v)
             |SELECT dims, CAST((sv * sv * 1000) // sv2 AS BIGINT) AS pr_milli
             |FROM m""".stripMargin)),

    // dimension-pair CORRELATION screen: the 8 most-correlated embedding
    // coordinate pairs from the same integer moment matrix q_top_eigen
    // iterates on (corr = mᵢⱼ/√(mᵢᵢmⱼⱼ)) — redundant dimension pairs are
    // where truncation/PQ subspace splits should cut, and a pair near
    // ±1 means the model wastes a coordinate. The upper-triangle moment
    // table is dim²/2 rows from one map-combined corpus pass; everything
    // after is bounded by dim².
    QueryDef(
      "q_dim_corr",
      (s, d) => {
        // r15 optimization (guide §2.3/§2.4): the q_top_eigen rewrite —
        // upper-triangle moment matrix built map-side (double
        // posexplode + i ≤ j filter inside the scan task, partial
        // aggregation before the only tiny exchange) instead of the
        // corpus-sized dims self-join on vec_id; the three consuming
        // branches (off-diagonal pass + both broadcast diag dims) share
        // the subtree, so ReuseExchange dedupes the corpus pass.
        // EQUIVALENCE ASSUMPTION (r15 advice item 2): the per-row
        // moment build equals the oracle's vec_id self-join only while
        // vec_id is UNIQUE per embeddings row — FixtureDriftSpec pins
        // that uniqueness, so a fixture regeneration that breaks it
        // trips a test instead of a silent hash mismatch here.
        val qarr = Tables.embeddings(s, d)
          .select(transform(col("embedding"),
            x => round(x.cast("double") * 1e3).cast("long")).as("xs"))
        val m = qarr
          .select(col("xs"), posexplode(col("xs")).as(Seq("i", "xa")))
          .select(col("i"), col("xa"), posexplode(col("xs")).as(Seq("j", "xb")))
          .where(col("i") <= col("j"))
          .groupBy("i", "j").agg(sum(col("xa") * col("xb")).as("mij"))
        val diag = m.where(col("i") === col("j"))
          .select(col("i").as("dim"), col("mij").as("mii"))
        m.where(col("i") < col("j"))
          .join(broadcast(diag.select(col("dim").as("i"), col("mii").as("ma"))), "i")
          .join(broadcast(diag.select(col("dim").as("j"), col("mii").as("mb"))), "j")
          .select(col("i"), col("j"),
            round(col("mij").cast("double") /
              sqrt(col("ma").cast("double") * col("mb").cast("double")), 6)
              .as("corr"))
          .orderBy(abs(col("corr")).desc, col("i"), col("j"))
          .limit(8)
      },
      Some("""WITH dims AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS xm
             |  FROM embeddings),
             |m AS (SELECT a.dim AS i, b.dim AS j, CAST(sum(a.xm * b.xm) AS BIGINT) AS mij
             |      FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.dim <= b.dim
             |      GROUP BY 1, 2),
             |diag AS (SELECT i AS dim, mij AS mii FROM m WHERE i = j),
             |off AS (SELECT m.i, m.j,
             |          round(CAST(m.mij AS DOUBLE) /
             |            sqrt(CAST(da.mii AS DOUBLE) * CAST(db.mii AS DOUBLE)), 6) AS corr
             |        FROM m JOIN diag da ON da.dim = m.i JOIN diag db ON db.dim = m.j
             |        WHERE m.i < m.j)
             |SELECT i, j, corr FROM off
             |ORDER BY abs(corr) DESC, i, j LIMIT 8""".stripMargin)),

    // cross-MODALITY dedup agreement: on the same injected-duplicate
    // corpus (doc_id ≡ vec_id), how much do the text-LSH candidate set
    // and the embedding near-dup pair set overlap? The consistency audit
    // a multimodal pipeline runs before trusting either modality alone —
    // embeddings catching pairs text misses (paraphrases) and vice versa
    // (shared boilerplate) both show up here as a low Jaccard. The
    // banded embedding path matches the oracle's exact all-pairs form
    // because every injected duplicate is an exact copy (identical
    // signatures bucket together; the raw fixture has no other sim ≥
    // 0.95 pair).
    QueryDef(
      "q_modal_dedup_agreement",
      (s, d) => {
        import graft.operators.DedupOps
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val tcorpus = docs.unionByName(docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val textp = DedupOps.lshCandidates(
          DedupOps.minhashSignature(tcorpus, "doc_id", "text", 4, shingleN = 3),
          "doc_id", 4, 2)
        val embBase = Tables.embeddings(s, d).select("vec_id", "embedding")
        val ec = embBase.unionByName(embBase.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        val embp = adaptiveNearDupPairs(ec, 0.95, 0.9999)
        val marked = textp.select(col("id1"), col("id2"),
            lit(1L).as("t"), lit(0L).as("e"))
          .unionByName(embp.select(col("id1"), col("id2"),
            lit(0L).as("t"), lit(1L).as("e")))
          .groupBy("id1", "id2")
          .agg(max("t").as("in_text"), max("e").as("in_emb"))
        marked.agg(
          sum("in_text").cast("long").as("text_pairs"),
          sum("in_emb").cast("long").as("embed_pairs"),
          count(when(col("in_text") === 1 && col("in_emb") === 1, 1))
            .as("both_pairs"),
          expr("(count(CASE WHEN in_text = 1 AND in_emb = 1 THEN 1 END) " +
            "* CAST(1000000 AS BIGINT)) div count(1)").as("jaccard_micro"))
      },
      Some("""WITH t AS (
             |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |          FROM (SELECT doc_id, text FROM documents
             |                UNION ALL
             |                SELECT doc_id + 100000 AS doc_id, text
             |                FROM documents WHERE doc_id % 10 = 0)))),
             |sig AS (SELECT doc_id,
             |    min(substr(md5(tok), 1, 8)) AS s1, min(substr(md5(tok), 9, 8)) AS s2,
             |    min(substr(md5(tok), 17, 8)) AS s3, min(substr(md5(tok), 25, 8)) AS s4
             |  FROM t GROUP BY 1),
             |b AS (SELECT doc_id, 0 AS band, md5(s1 || s2) AS bucket FROM sig
             |      UNION ALL SELECT doc_id, 1, md5(s3 || s4) FROM sig),
             |textp AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
             |          FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
             |          WHERE l.doc_id < r.doc_id),
             |ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
             |       UNION ALL
             |       SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
             |       FROM embeddings WHERE vec_id % 10 = 0),
             |embp AS (SELECT a.vec_id AS id1, b2.vec_id AS id2
             |         FROM ec a JOIN ec b2 ON a.vec_id < b2.vec_id
             |         WHERE round(list_dot_product(a.ed, b2.ed), 4) >= 0.95),
             |u AS (SELECT id1, id2, max(t) AS in_text, max(e) AS in_emb FROM (
             |        SELECT id1, id2, 1 AS t, 0 AS e FROM textp
             |        UNION ALL SELECT id1, id2, 0, 1 FROM embp)
             |      GROUP BY 1, 2)
             |SELECT CAST(sum(in_text) AS BIGINT) AS text_pairs,
             |  CAST(sum(in_emb) AS BIGINT) AS embed_pairs,
             |  CAST(sum(CASE WHEN in_text = 1 AND in_emb = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS both_pairs,
             |  CAST((sum(CASE WHEN in_text = 1 AND in_emb = 1 THEN 1 ELSE 0 END) * 1000000)
             |       // count(*) AS BIGINT) AS jaccard_micro
             |FROM u""".stripMargin)),

    // Johnson-Lindenstrauss distortion gate — project the 64-d embeddings
    // to 16-d with a DETERMINISTIC ±1 sign matrix (md5-parity per (i, j),
    // the repo's seedless-sampling convention) and measure how well
    // consecutive-id pair distances survive: the health check to run
    // before trusting any dimensionality-reduced index. Coordinates
    // quantize to integer micro BEFORE distances, so both squared norms
    // are exact 128-bit integers and the per-pair ratio is one double on
    // exact inputs. Everything is linear: the sign matrix is a 1024-row
    // broadcast, pairs come from the id+1 equi-join, never n².
    QueryDef(
      "q_jl_distortion",
      (s, d) => {
        val x = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
          .select(col("vec_id"), col("i").cast("long").as("i"),
            round(col("e").cast("double") * 1e6).cast("long").as("xq"))
        // pivoted sign matrix: 64 rows × 16 sign columns, so the z shuffle
        // carries n rows of 16 sums instead of 16n exploded rows
        val sgp = s.range(0, 64).toDF("i").select(
          col("i") +: (0 until 16).map { j =>
            when(conv(substring(md5(concat(lit("jl:"), col("i").cast("string"),
              lit(s":$j"))), 1, 12), 16, 10)
              .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as(s"s$j")
          }: _*)
        val zAggs = (0 until 16).map(j => sum(col(s"s$j") * col("xq")).as(s"z$j"))
        val z = x.join(broadcast(sgp), "i")
          .groupBy("vec_id").agg(zAggs.head, zAggs.tail: _*)
        val dx = x.select((col("vec_id") + 1).as("vid"), col("i"), col("xq").as("ax"))
          .join(x.select(col("vec_id").as("vid"), col("i"), col("xq").as("bx")),
            Seq("vid", "i"))
          .groupBy("vid")
          .agg(sum(expr("CAST(ax - bx AS DECIMAL(38,0)) * (ax - bx)")).as("dx2"))
        val za = z.select((col("vec_id") + 1).as("vid") +:
          (0 until 16).map(j => col(s"z$j").as(s"az$j")): _*)
        val zb = z.select(col("vec_id").as("vid") +:
          (0 until 16).map(j => col(s"z$j").as(s"bz$j")): _*)
        val dzExpr = (0 until 16)
          .map(j => s"CAST(az$j - bz$j AS DECIMAL(38,0)) * (az$j - bz$j)")
          .mkString(" + ")
        val dz = za.join(zb, "vid").select(col("vid"), expr(dzExpr).as("dz2"))
        dx.join(dz, "vid").where(col("dx2") > 0)
          .select(expr("CAST(dz2 AS DOUBLE) / (16.0 * CAST(dx2 AS DOUBLE))").as("ratio"))
          .agg(count(lit(1)).as("n_pairs"),
            expr("CAST(round(1000000.0*avg(ratio)) AS BIGINT)").as("mean_ratio_micro"),
            expr("""CAST(sum(CASE WHEN abs(ratio - 1.0) <= 0.2 THEN 1 ELSE 0 END)
                   | * 1000000 div count(1) AS BIGINT)""".stripMargin)
              .as("share_within20_micro"))
          .select(col("n_pairs"), lit(64L).as("d_in"), lit(16L).as("d_out"),
            col("mean_ratio_micro"), col("share_within20_micro"))
      },
      Some("""WITH x AS (SELECT vec_id,
             |        CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq
             |      FROM embeddings),
             |sg AS (SELECT ii.i, jj.j,
             |        CASE WHEN CAST(('0x' || substr(md5('jl:' || ii.i || ':' || jj.j), 1, 12))
             |            AS BIGINT) % 2 = 0
             |          THEN 1 ELSE -1 END AS s
             |      FROM (SELECT unnest(range(0, 64)) AS i) ii
             |      CROSS JOIN (SELECT unnest(range(0, 16)) AS j) jj),
             |z AS (SELECT x.vec_id, sg.j, sum(sg.s * x.xq) AS zq
             |      FROM x JOIN sg ON sg.i = x.i GROUP BY 1, 2),
             |dx AS (SELECT a.vec_id, sum(CAST(a.xq - b.xq AS HUGEINT)*(a.xq - b.xq)) AS dx2
             |       FROM x a JOIN x b ON b.vec_id = a.vec_id + 1 AND b.i = a.i GROUP BY 1),
             |dz AS (SELECT a.vec_id, sum(CAST(a.zq - b.zq AS HUGEINT)*(a.zq - b.zq)) AS dz2
             |       FROM z a JOIN z b ON b.vec_id = a.vec_id + 1 AND b.j = a.j GROUP BY 1),
             |r AS (SELECT dx.vec_id, CAST(dz2 AS DOUBLE) / (16.0 * CAST(dx2 AS DOUBLE)) AS ratio
             |      FROM dx JOIN dz USING (vec_id) WHERE dx2 > 0)
             |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(64 AS BIGINT) AS d_in, CAST(16 AS BIGINT) AS d_out,
             |  CAST(round(1000000.0*avg(ratio)) AS BIGINT) AS mean_ratio_micro,
             |  CAST(sum(CASE WHEN abs(ratio - 1.0) <= 0.2 THEN 1 ELSE 0 END) * 1000000
             |    // count(*) AS BIGINT) AS share_within20_micro
             |FROM r""".stripMargin)),

    // Gonzalez greedy k-center coreset — pick the 4 most mutually
    // distant embeddings (the diversity-maximizing selection that seeds
    // diverse training subsets and gives the 2-approximation covering
    // radius). Each round is ONE distributed argmax of the running
    // min-distance-to-selected (a 1-row TopOrdered collect, bounded by
    // k=4 — the BPE merge-loop convention), then a least() fold against
    // the new center's distance column; coordinates quantize to integer
    // micro so every distance is an exact 128-bit integer and the greedy
    // trace is engine-identical. Reports the selection order, each
    // center's distance at selection, and the covering radius after it.
    QueryDef(
      "q_kcenter_coreset",
      (s, d) => {
        // the exploded quantized frame feeds every one of the greedy
        // loop's ~9 actions (4 rounds × argmax/radius readouts, each
        // with a center-distance join) — persist it once instead of
        // re-exploding the embedding table per action
        val x = Loop.pinnedPersist(
          Tables.embeddings(s, d)
            .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
            .select(col("vec_id"), col("i"),
              round(col("e").cast("double") * 1e6).cast("long").as("xq")))
        def distTo(id: Long) = x
          .join(x.where(col("vec_id") === id)
            .select(col("i"), col("xq").as("cq")), "i")
          .groupBy("vec_id")
          .agg(sum(expr("CAST(xq - cq AS DECIMAL(38,0)) * (xq - cq)")).as("dist"))
        def radius(df: org.apache.spark.sql.DataFrame): Long =
          df.agg(max("dist")).head().getDecimal(0).longValueExact()
        // persist-only convention for the evolving min-distance frame
        // (the q_markov_stationary bounded-loop rule): dcur feeds TWO
        // actions per round (argmax + radius) and the next round's
        // join — unpersisted, each action replayed the whole join
        // chain back to round 1 (≈ O(k²) replays of the center-
        // distance join). One corpus-sized persist per round.
        val c1 = x.agg(min("vec_id")).head().getLong(0)
        var dcur = Loop.pinnedPersist(distTo(c1))
        var rows = List((1L, c1, 0L, radius(dcur)))
        for (r <- 2 to 4) {
          val sel = dcur.orderBy(col("dist").desc, col("vec_id")).limit(1).head()
          val cid = sel.getLong(0)
          val sd = sel.getDecimal(1).longValueExact()
          val dn = distTo(cid)
            .select(col("vec_id"), col("dist").as("dn"))
          dcur = Loop.pinnedPersist(dcur.join(dn, "vec_id")
            .select(col("vec_id"),
              least(col("dist"), col("dn")).cast("decimal(38,0)").as("dist")))
          rows = rows :+ ((r.toLong, cid, sd, radius(dcur)))
        }
        s.createDataFrame(rows)
          .toDF("round", "center_id", "sel_dist2", "radius2_after")
          .orderBy("round")
      },
      Some(kcenterOracle)),

    // linear-time MMD two-sample test — are label-0 and label-1
    // embeddings drawn from the same distribution? Gretton's MMD_l:
    // disjoint quadruples (x₁,x₂,y₁,y₂) paired deterministically within
    // md5 buckets (bucket count ADAPTIVE, max(8, n/64), so partitions
    // scale with the corpus instead of funneling into |labels| tasks),
    // h = k(x₁,x₂)+k(y₁,y₂)−k(x₁,y₁)−k(x₂,y₂) with an RBF kernel on
    // exact integer micro² distances, each kernel value quantized to
    // nano before the sum. O(n) where the full MMD is O(n²) — the
    // two-sample gate that still runs at corpus scale. Honest null on
    // the fixture (labels iid): MMD ≈ 0.
    QueryDef(
      "q_mmd_linear",
      (s, d) => {
        val n0 = Tables.embeddings(s, d).where(col("label").isin(0, 1))
          .agg(count(lit(1)).as("n"))
        val bp = n0.select(expr("greatest(8, n div 64)").as("b"))
        val v = Tables.embeddings(s, d).where(col("label").isin(0, 1))
          .crossJoin(bp)
          .select(col("vec_id"), col("label"),
            (conv(substring(md5(concat(lit("mm:"),
              col("vec_id").cast("string"))), 1, 12), 16, 10)
              .cast("long") % col("b")).as("bkt"))
        val rk = v.withColumn("r",
          row_number().over(Window.partitionBy("label", "bkt")
            .orderBy("vec_id")) - 1)
        val pr = rk.groupBy(col("label"), col("bkt"), expr("r div 2").as("pair"))
          .agg(count(lit(1)).as("c"),
            max(when(col("r") % 2 === 0, col("vec_id"))).as("ida"),
            max(when(col("r") % 2 === 1, col("vec_id"))).as("idb"))
          .where(col("c") === 2)
        val quad = pr.where(col("label") === 0)
          .select(col("bkt"), col("pair"), col("ida").as("x1"), col("idb").as("x2"))
          .join(pr.where(col("label") === 1)
            .select(col("bkt"), col("pair"), col("ida").as("y1"), col("idb").as("y2")),
            Seq("bkt", "pair"))
        val need = quad.select(col("bkt"), col("pair"), lit("xx").as("role"),
            col("x1").as("ia"), col("x2").as("ib"))
          .unionAll(quad.select(col("bkt"), col("pair"), lit("yy"),
            col("y1"), col("y2")))
          .unionAll(quad.select(col("bkt"), col("pair"), lit("xy"),
            col("x1"), col("y1")))
          .unionAll(quad.select(col("bkt"), col("pair"), lit("x2y2"),
            col("x2"), col("y2")))
        val xq = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
          .select(col("vec_id"), col("i"),
            round(col("e").cast("double") * 1e6).cast("long").as("q"))
        val d2 = need
          .join(xq.select(col("vec_id").as("ia"), col("i"), col("q").as("qa")), "ia")
          .join(xq.select(col("vec_id").as("ib"), col("i"), col("q").as("qb")),
            Seq("ib", "i"))
          .groupBy("bkt", "pair", "role")
          .agg(sum(expr("CAST(qa - qb AS DECIMAL(38,0))*(qa - qb)")).as("d2"))
        val h = d2
          .select(col("bkt"), col("pair"),
            expr("""CASE WHEN role IN ('xx', 'yy')
                   | THEN CAST(round(1e9*exp(-CAST(d2 AS DOUBLE)/2e12)) AS BIGINT)
                   | ELSE -CAST(round(1e9*exp(-CAST(d2 AS DOUBLE)/2e12)) AS BIGINT)
                   | END""".stripMargin).as("k"))
          .groupBy("bkt", "pair")
          .agg(count(lit(1)).as("c"), sum("k").as("h"))
          .where(col("c") === 4)
        h.agg(count(lit(1)).as("n_quads"),
          expr("CAST(round(1000000.0 * sum(h) / count(1) / 1e9) AS BIGINT)")
            .as("mmd_micro"))
      },
      Some("""WITH n0 AS (SELECT count(*) AS n FROM embeddings WHERE label IN (0, 1)),
             |bp AS (SELECT greatest(8, (SELECT n FROM n0) // 64) AS b),
             |v AS (SELECT vec_id, label,
             |      CAST(('0x' || substr(md5('mm:' || vec_id), 1, 12)) AS BIGINT)
             |        % (SELECT b FROM bp) AS bkt
             |    FROM embeddings WHERE label IN (0, 1)),
             |rk AS (SELECT vec_id, label, bkt,
             |      row_number() OVER (PARTITION BY label, bkt ORDER BY vec_id) - 1 AS r
             |    FROM v),
             |pr AS (SELECT label, bkt, r // 2 AS pair,
             |        max(CASE WHEN r % 2 = 0 THEN vec_id END) AS ida,
             |        max(CASE WHEN r % 2 = 1 THEN vec_id END) AS idb
             |      FROM rk GROUP BY 1, 2, 3 HAVING count(*) = 2),
             |quad AS (SELECT a.bkt, a.pair, a.ida AS x1, a.idb AS x2,
             |        b.ida AS y1, b.idb AS y2
             |      FROM pr a JOIN pr b ON a.bkt = b.bkt AND a.pair = b.pair
             |      WHERE a.label = 0 AND b.label = 1),
             |need AS (SELECT bkt, pair, 'xx' AS role, x1 AS ia, x2 AS ib FROM quad
             |  UNION ALL SELECT bkt, pair, 'yy', y1, y2 FROM quad
             |  UNION ALL SELECT bkt, pair, 'xy', x1, y1 FROM quad
             |  UNION ALL SELECT bkt, pair, 'x2y2', x2, y2 FROM quad),
             |xq AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             |      CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
             |    FROM embeddings),
             |d2 AS (SELECT n.bkt, n.pair, n.role,
             |      sum(CAST(a.q - b.q AS HUGEINT)*(a.q - b.q)) AS d2
             |    FROM need n JOIN xq a ON a.vec_id = n.ia
             |    JOIN xq b ON b.vec_id = n.ib AND b.i = a.i
             |    GROUP BY 1, 2, 3),
             |kv AS (SELECT bkt, pair, role,
             |      CAST(round(1e9*exp(-CAST(d2 AS DOUBLE)/2e12)) AS BIGINT) AS k FROM d2),
             |h AS (SELECT bkt, pair,
             |      sum(CASE WHEN role = 'xx' THEN k WHEN role = 'yy' THEN k
             |           WHEN role = 'xy' THEN -k WHEN role = 'x2y2' THEN -k END) AS h
             |    FROM kv GROUP BY 1, 2 HAVING count(*) = 4)
             |SELECT CAST(count(*) AS BIGINT) AS n_quads,
             |  CAST(round(1000000.0 * sum(h) / count(*) / 1e9) AS BIGINT) AS mmd_micro
             |FROM h""".stripMargin))
  ) :+ ivfSweepDef :+ dedupSweepDef :+ silhouetteDef :+ daviesBouldinDef

  /** Exact integer (vec, label-centroid) squared distances — the shared
    * frame of the clustering-quality pair (q_silhouette /
    * q_davies_bouldin): embedding components quantize to micro ints
    * ONCE (the q_label_centroids convention), centroids are exact
    * integer means, and every distance is a 128-bit Σ(x−c)² — no float
    * summation order exists anywhere before the final per-point sqrt.
    * Rows: (vec_id, label, cl, dd). n·|labels| rows after the dim join
    * — linear in the corpus for the fixed label/dim domains. */
  private def centroidDist2(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val dims = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        round(col("x").cast("double") * 1e6).cast("long").as("xm"))
    val cent = dims.groupBy(col("label").as("cl"), col("dim"))
      .agg(expr("sum(xm) div count(1)").as("cm"))
    val d2 = dims.join(broadcast(cent), "dim")
      .groupBy("vec_id", "label", "cl")
      .agg(sum(expr("CAST(xm - cm AS DECIMAL(38,0)) * (xm - cm)")).as("dd"))
    (d2, cent)
  }

  private def centroidDist2Sql: String =
    """dims AS (SELECT vec_id, label, u.dim, CAST(round(u.x * 1000000) AS BIGINT) AS xm
      |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
      |  LATERAL (SELECT unnest(ed) AS x, generate_subscripts(ed, 1) AS dim) u),
      |cent AS (SELECT label AS cl, dim, sum(xm) // count(*) AS cm FROM dims GROUP BY 1, 2),
      |d2 AS (SELECT d.vec_id, d.label, c.cl,
      |    sum(CAST(d.xm - c.cm AS HUGEINT) * (d.xm - c.cm)) AS dd
      |  FROM dims d JOIN cent c USING (dim) GROUP BY 1, 2, 3)""".stripMargin

  /** Simplified silhouette per label (centroid form, Hruschka et al.):
    * s = (b − a)/max(a, b) with a the distance to the own centroid and
    * b the nearest other centroid — O(n·k) where the classic silhouette
    * is O(n²), the form that exists at corpus scale. Per-point scores
    * micro-quantize before the exact per-label integer mean. The
    * isotropic fixture reads ≈ 0: the honest no-cluster-structure
    * verdict this gate exists to give. */
  private def silhouetteDef = QueryDef(
    "q_silhouette",
    (s, d) => {
      val (d2, _) = centroidDist2(s, d)
      d2.groupBy("vec_id", "label")
        .agg(
          expr("sqrt(CAST(max(CASE WHEN cl = label THEN dd END) AS DOUBLE))")
            .as("a"),
          expr("sqrt(CAST(min(CASE WHEN cl <> label THEN dd END) AS DOUBLE))")
            .as("b"))
        .select(col("label"),
          // greatest(a,b)=0 (a point coinciding with both its own and
          // the nearest other centroid) would be 0/0 = NaN, which Spark
          // ANSI-off CASTs to 0 while DuckDB's CAST errors — a crash-vs-
          // value divergence; a coincident point's silhouette IS 0
          expr("""CAST(CASE WHEN greatest(a, b) = 0 THEN 0
                 |  ELSE round(1000000 * (b - a) / greatest(a, b)) END AS BIGINT)"""
            .stripMargin).as("sil"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_points"),
          expr("sum(sil) div count(1)").as("mean_sil_micro"))
        .select(col("label"), col("n_points").cast("long").as("n_points"),
          col("mean_sil_micro").cast("long").as("mean_sil_micro"))
        .orderBy("label")
    },
    Some(s"""WITH $centroidDist2Sql,
           |pp AS (SELECT vec_id, label,
           |    sqrt(CAST(max(CASE WHEN cl = label THEN dd END) AS DOUBLE)) AS a,
           |    sqrt(CAST(min(CASE WHEN cl <> label THEN dd END) AS DOUBLE)) AS b
           |  FROM d2 GROUP BY 1, 2),
           |sp AS (SELECT label,
           |    CAST(CASE WHEN greatest(a, b) = 0 THEN 0
           |      ELSE round(1000000 * (b - a) / greatest(a, b)) END AS BIGINT) AS sil
           |  FROM pp)
           |SELECT label, CAST(count(*) AS BIGINT) AS n_points,
           |  CAST(sum(sil) // count(*) AS BIGINT) AS mean_sil_micro
           |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Davies–Bouldin index of the label partition: DB = meanᵢ maxⱼ≠ᵢ
    * (Sᵢ + Sⱼ)/Mᵢⱼ with per-cluster scatter S and centroid separation M
    * — lower is better-separated; the scalar companion to
    * q_silhouette's per-label view. Per-point distances micro-quantize
    * before the exact per-cluster mean; the (i, j) grid is |labels|²
    * exact-integer ratios. Isotropic fixture ⇒ DB ≫ 1: honest. */
  private def daviesBouldinDef = QueryDef(
    "q_davies_bouldin",
    (s, d) => {
      val (d2, cent) = centroidDist2(s, d)
      val si = d2.where(col("cl") === col("label"))
        .select(col("label"),
          expr("CAST(round(sqrt(CAST(dd AS DOUBLE))) AS BIGINT)").as("dist"))
        .groupBy("label").agg(expr("sum(dist) div count(1)").as("s"))
      val a = cent.select(col("cl").as("i"), col("dim"), col("cm").as("ci"))
      val b = cent.select(col("cl").as("j"), col("dim"), col("cm").as("cj"))
      val mm = a.join(broadcast(b), Seq("dim"))
        .where(col("i") =!= col("j"))
        .groupBy("i", "j")
        .agg(expr("""CAST(round(sqrt(CAST(sum(CAST(ci - cj AS DECIMAL(38,0))
                    |  * (ci - cj)) AS DOUBLE))) AS BIGINT)""".stripMargin)
          .as("m"))
      mm.join(si.select(col("label").as("i"), col("s").as("s1")), Seq("i"))
        .join(si.select(col("label").as("j"), col("s").as("s2")), Seq("j"))
        .groupBy("i")
        .agg(max(expr("(1000 * (s1 + s2)) div m")).as("ri"))
        .agg(count(lit(1)).as("k"), sum("ri").as("rsum"))
        .select(col("k").cast("long").as("k"),
          expr("CAST(rsum div k AS BIGINT)").as("db_milli"))
    },
    Some(s"""WITH $centroidDist2Sql,
           |sp AS (SELECT d2.label, CAST(round(sqrt(CAST(dd AS DOUBLE))) AS BIGINT) AS dist
           |  FROM d2 WHERE cl = label),
           |si AS (SELECT label, sum(dist) // count(*) AS s FROM sp GROUP BY 1),
           |mm AS (SELECT a.cl AS i, b.cl AS j,
           |    CAST(round(sqrt(CAST(sum(CAST(a.cm - b.cm AS HUGEINT) * (a.cm - b.cm)) AS DOUBLE))) AS BIGINT) AS m
           |  FROM cent a JOIN cent b USING (dim) WHERE a.cl <> b.cl GROUP BY 1, 2),
           |r AS (SELECT mm.i, max((1000 * (si1.s + si2.s)) // mm.m) AS ri
           |  FROM mm JOIN si si1 ON si1.label = mm.i JOIN si si2 ON si2.label = mm.j
           |  GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS k,
           |  CAST(sum(ri) // count(*) AS BIGINT) AS db_milli
           |FROM r""".stripMargin))

  /** Near-dup threshold dial — the q_ivf_sweep idea applied to embedding
    * dedup: confirmed pair count and affected-doc count at cosine 0.90 /
    * 0.95 / 0.99, from ONE banded-LSH candidate generation + ONE exact
    * scoring pass (the q_embed_dedup machinery verbatim) and three
    * conditional counts. The number that decides how aggressive a dedup
    * release can be before it starts deleting genuinely distinct docs. */
  private def dedupSweepDef: QueryDef = QueryDef(
    "q_dedup_sweep",
    (s, d) => {
      val corpus = Loop.pinnedPersist(dedupCorpus(s, d))
      val eb = explodeBands(corpus, col("embedding"), NdBands, NdBits)
        .drop("embedding")
        .repartition(col("band"), col("sig"))
      val cand = eb.select(col("vec_id").as("id1"), col("band"), col("sig"))
        .join(eb.select(col("vec_id").as("id2"), col("band"), col("sig"))
          .hint("shuffle_hash"), Seq("band", "sig"))
        .where(col("id1") < col("id2"))
        .select("id1", "id2").distinct()
      val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("ed"))
      val sims = cand
        .join(e.select(col("vec_id").as("id1"), col("ed").as("e1")), "id1")
        .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")), "id2")
        .select(col("id1"), col("id2"),
          round(dot(col("e1"), col("e2")), 4).as("sim"))
      val grid = s.range(0, 3).select(
        expr("CAST(element_at(array(900, 950, 990), CAST(id AS INT) + 1) AS BIGINT)")
          .as("thr_milli"))
      val hit = sims.crossJoin(broadcast(grid))
        .where(col("sim") * 1000 >= col("thr_milli"))
      val pairs = hit.groupBy("thr_milli").agg(count(lit(1)).as("dup_pairs"))
      val docs = hit.select(col("thr_milli"), col("id1").as("id"))
        .unionAll(hit.select(col("thr_milli"), col("id2").as("id")))
        .groupBy("thr_milli").agg(countDistinct("id").as("docs_affected"))
      grid.join(pairs, Seq("thr_milli"), "left")
        .join(docs, Seq("thr_milli"), "left")
        .select(col("thr_milli"),
          coalesce(col("dup_pairs"), lit(0L)).as("dup_pairs"),
          coalesce(col("docs_affected"), lit(0L)).as("docs_affected"))
        .orderBy("thr_milli")
    },
    Some {
      s"""WITH RECURSIVE $dedupCorpusSql,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |             ${bandSigSqlCols(NdBands, NdBits).mkString(",\n             ")}
         |      FROM corpus),
         |cand AS (
         |  SELECT DISTINCT id1, id2 FROM (
         |  ${(0 until NdBands).map(b =>
             s"SELECT a.vec_id AS id1, b.vec_id AS id2 FROM e a JOIN e b ON a.sig$b = b.sig$b AND a.vec_id < b.vec_id")
             .mkString("\n  UNION ALL\n  ")})),
         |sims AS (SELECT c.id1, c.id2, round(list_dot_product(a.ed, b.ed), 4) AS sim
         |      FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
         |grid AS (SELECT unnest([900, 950, 990]) AS thr_milli),
         |hit AS (SELECT g.thr_milli, s.id1, s.id2 FROM sims s CROSS JOIN grid g
         |        WHERE s.sim * 1000 >= g.thr_milli),
         |p AS (SELECT thr_milli, count(*) AS dup_pairs FROM hit GROUP BY 1),
         |dd AS (SELECT thr_milli, count(DISTINCT id) AS docs_affected FROM (
         |    SELECT thr_milli, id1 AS id FROM hit
         |    UNION ALL SELECT thr_milli, id2 FROM hit) GROUP BY 1)
         |SELECT CAST(g.thr_milli AS BIGINT) AS thr_milli,
         |  CAST(coalesce(p.dup_pairs, 0) AS BIGINT) AS dup_pairs,
         |  CAST(coalesce(dd.docs_affected, 0) AS BIGINT) AS docs_affected
         |FROM grid g LEFT JOIN p ON p.thr_milli = g.thr_milli
         |LEFT JOIN dd ON dd.thr_milli = g.thr_milli
         |ORDER BY thr_milli""".stripMargin
    })

  /** One DuckDB stage set shared by every q_ivf_sweep nprobe point: the
    * q_ivf_recall oracle parameterized by an unnest([1..4]) grid. */
  private def ivfSweepOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, ed AS ce FROM e WHERE vec_id < 8),
      |ad AS (SELECT e.vec_id, c.cent_id,
      |         round(list_dot_product(e.ed, c.ce), 4) AS cdot,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY round(list_dot_product(e.ed, c.ce), 4) DESC, c.cent_id) AS crn
      |       FROM e CROSS JOIN c),
      |assign AS (SELECT vec_id, cent_id AS cluster FROM ad WHERE crn = 1),
      |grid AS (SELECT unnest([1, 2, 3, 4]) AS np),
      |probes AS (SELECT g.np, ad.vec_id AS qid, ad.cent_id AS cluster
      |           FROM ad CROSS JOIN grid g
      |           WHERE ad.vec_id >= 8 AND ad.vec_id < 28 AND ad.crn <= g.np),
      |cand AS (SELECT DISTINCT p.np, p.qid, a.vec_id FROM probes p
      |         JOIN assign a ON a.cluster = p.cluster WHERE a.vec_id <> p.qid),
      |isims AS (SELECT cd.np, cd.qid, cd.vec_id,
      |            round(list_dot_product(q2.ed, e2.ed), 4) AS sim
      |          FROM cand cd JOIN e q2 ON q2.vec_id = cd.qid
      |          JOIN e e2 ON e2.vec_id = cd.vec_id),
      |ivf AS (SELECT np, qid, vec_id FROM (
      |    SELECT np, qid, vec_id,
      |      row_number() OVER (PARTITION BY np, qid ORDER BY sim DESC, vec_id) AS rn
      |    FROM isims) WHERE rn <= 5),
      |q AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id >= 8 AND vec_id < 28),
      |bsims AS (SELECT q.qid, e.vec_id, round(list_dot_product(q.qe, e.ed), 4) AS sim
      |          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid),
      |brute AS (SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      |    FROM bsims) WHERE rn <= 5),
      |h AS (SELECT g.np, b.qid, count(i.np) AS hits
      |      FROM grid g CROSS JOIN brute b
      |      LEFT JOIN ivf i ON i.np = g.np AND i.qid = b.qid AND i.vec_id = b.vec_id
      |      GROUP BY 1, 2),
      |per AS (SELECT g.np, q.qid,
      |         round(coalesce(h.hits, 0) / 5.0, 4) AS r
      |       FROM grid g CROSS JOIN q
      |       LEFT JOIN (SELECT np, qid, sum(hits) AS hits FROM h GROUP BY 1, 2) h
      |         ON h.np = g.np AND h.qid = q.qid),
      |rec AS (SELECT np, CAST(round(1000000*avg(r)) AS BIGINT) AS recall_micro
      |        FROM per GROUP BY 1),
      |cc AS (SELECT np, count(*) AS nc FROM cand GROUP BY 1)
      |SELECT CAST(rec.np AS BIGINT) AS nprobe, rec.recall_micro,
      |  CAST(coalesce(cc.nc, 0) * 1000000 // 20 AS BIGINT) AS cand_per_q_micro
      |FROM rec LEFT JOIN cc ON cc.np = rec.np ORDER BY nprobe""".stripMargin

  /** The IVF tuning curve as an ORACLED query (AnnFrontier prints the
    * same numbers as a diagnostic main; this pins them): recall@5 and
    * mean exact-score candidates per query at nprobe 1..4 — the two
    * numbers the index dial trades off. Reuses ivfCandidates /
    * ivfRecallAt5 verbatim per point so the sweep can never measure a
    * different index shape than the gates; 4 fixed points union post-agg. */
  private def ivfSweepDef: QueryDef = QueryDef(
    "q_ivf_sweep",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("ed"))
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("ed").as("ce"))
      val isQ = col("vec_id") >= 8 && col("vec_id") < 28
      val points = (1 to 4).map { np =>
        val rec = ivfRecallAt5(emb, cents, isQ, np)
          .agg(expr("CAST(round(1000000*avg(recall_at_5)) AS BIGINT)")
            .as("recall_micro"))
        val cc = ivfCandidates(emb, cents, isQ, np)
          .agg(expr("CAST(count(1) * 1000000 div 20 AS BIGINT)")
            .as("cand_per_q_micro"))
        rec.crossJoin(cc).select(lit(np.toLong).as("nprobe"),
          col("recall_micro"), col("cand_per_q_micro"))
      }
      points.reduce(_ unionByName _).orderBy("nprobe")
    },
    Some(ivfSweepOracle))

  /** Unrolled 4-round Gonzalez greedy trace — each round a MATERIALIZED
    * argmax-of-min-distance CTE (materialized because every round
    * references its predecessor's distance column; default inlining
    * would re-derive the whole prefix per reference), exact integer
    * micro² distances mirroring the Spark loop term for term. */
  private def kcenterOracle: String = {
    val head =
      """WITH x AS MATERIALIZED (SELECT vec_id,
        |      CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
        |      CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq
        |    FROM embeddings),
        |c1 AS MATERIALIZED (SELECT min(vec_id) AS id FROM x),
        |d1 AS MATERIALIZED (SELECT a.vec_id,
        |      sum(CAST(a.xq - b.xq AS HUGEINT)*(a.xq - b.xq)) AS d
        |    FROM x a JOIN x b ON b.vec_id = (SELECT id FROM c1) AND b.i = a.i
        |    GROUP BY 1)""".stripMargin
    val rounds = (2 to 4).map { r =>
      s"""c$r AS MATERIALIZED (SELECT vec_id AS id, d FROM d${r - 1}
         |    ORDER BY d DESC, vec_id LIMIT 1),
         |d$r AS MATERIALIZED (SELECT a.vec_id,
         |      least(d${r - 1}.d, sum(CAST(a.xq - b.xq AS HUGEINT)*(a.xq - b.xq))) AS d
         |    FROM x a JOIN x b ON b.vec_id = (SELECT id FROM c$r) AND b.i = a.i
         |    JOIN d${r - 1} ON d${r - 1}.vec_id = a.vec_id
         |    GROUP BY 1, d${r - 1}.d)""".stripMargin
    }
    val tail =
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, (SELECT id FROM c1) AS center_id,
        |    CAST(0 AS BIGINT) AS sel_dist2,
        |    CAST((SELECT max(d) FROM d1) AS BIGINT) AS radius2_after
        |  UNION ALL SELECT 2, (SELECT id FROM c2), CAST((SELECT d FROM c2) AS BIGINT),
        |    CAST((SELECT max(d) FROM d2) AS BIGINT)
        |  UNION ALL SELECT 3, (SELECT id FROM c3), CAST((SELECT d FROM c3) AS BIGINT),
        |    CAST((SELECT max(d) FROM d3) AS BIGINT)
        |  UNION ALL SELECT 4, (SELECT id FROM c4), CAST((SELECT d FROM c4) AS BIGINT),
        |    CAST((SELECT max(d) FROM d4) AS BIGINT)
        |) ORDER BY round""".stripMargin
    (head +: rounds).mkString(",\n") + "\n" + tail
  }
}
