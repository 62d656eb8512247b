package graft

import graft.functions.Similarity
import org.apache.spark.sql.functions._

/** The persisted ANN index lifecycle: `saveIvfIndex` pays the
  * corpus-sized work once (codebook training + full cell assignment) and
  * publishes two parquet artifacts; `queryIvfIndex` probes them with no
  * corpus-sized recomputation. Mirrors `DedupOps.dedupAgainstIndex`'s
  * build/probe asymmetry for the similarity-search side.
  */
class AnnIndexSpec extends SparkSpec {

  test("persisted IVF index: build once, probe from a fresh session, in-memory parity + recall") {
    val dir = tempDir("graft-ivf")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ed"))
    Similarity.saveIvfIndex(emb, dir, k = 8, iters = 3)

    // artifact shapes: k-row codebook, one skinny assignment per vector
    val cents = spark.read.parquet(s"$dir/codebook")
    assert(cents.count() == 8)
    assert(cents.columns.toSeq == Seq("cent_id", "ce"))
    val assign = spark.read.parquet(s"$dir/assignments")
    assert(assign.count() == emb.count())
    assert(assign.columns.toSeq == Seq("vec_id", "cluster"))

    // probe through a FRESH session — nothing may ride the builder
    // session's temp state; the index is the only contract
    val s2 = spark.newSession()
    val emb2 = Tables.embeddings(s2, sf)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ed"))
    val q = emb2.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    val got = Similarity.queryIvfIndex(s2, dir, q,
      emb2.select("vec_id", "ed"), nprobe = 2, k = 5)
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs.nonEmpty)

    // parity: the stored-index probe must equal the in-memory IVF
    // formulation over the same codebook (both use round(dot, 4) cell
    // ranks, so the assignments are identical by construction)
    val memCand = Similarity.ivfCandidates(emb, cents, col("vec_id") < 10, 2)
    val mem = Similarity.scoreCandidatesTopK(memCand, emb.select("vec_id", "ed"), 5)
    val memPairs = mem.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == memPairs,
      s"stored-index probe diverged from the in-memory path: ${gotPairs.diff(memPairs)} / ${memPairs.diff(gotPairs)}")

    // quality gate: recall@5 vs brute force stays useful through the
    // persisted path (same bound q_ivf_recall holds for the in-memory one)
    val recall = Similarity.recallAt5VsBrute(emb2.select("vec_id", "ed"), got, q)
      .agg(avg("recall_at_5")).head().getDouble(0)
    assert(recall >= 0.8, s"persisted-index recall@5 degraded to $recall")
  }

  test("incremental append: delta-only assignment, probe identical to full re-assignment") {
    val dir = tempDir("graft-ivf-inc")
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ed"))
    val base = all.where(col("vec_id") < 400)
    val delta = all.where(col("vec_id") >= 400)
    Similarity.saveIvfIndex(base, dir, k = 8, iters = 3)

    val report = Similarity.appendToIvfIndex(spark, dir, delta)
    // every delta vector landed exactly once; base rows untouched
    val assign = spark.read.parquet(s"$dir/assignments")
    assert(assign.count() == all.count())
    assert(assign.select("vec_id").distinct().count() == all.count())

    // the identity that makes freezing the codebook sound: append-then-
    // probe ≡ one full re-assignment of the unioned corpus against the
    // SAME codebook (assignment is pointwise per vector)
    val cents = spark.read.parquet(s"$dir/codebook")
    val dir2 = tempDir("graft-ivf-full")
    cents.write.parquet(s"$dir2/codebook")
    Similarity.assignToCodebook(all, cents)
      .write.parquet(s"$dir2/assignments")
    val q = all.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    def probe(d: String) = Similarity
      .queryIvfIndex(spark, d, q, all.select("vec_id", "ed"), nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(dir) == probe(dir2),
      "append-path probe diverged from full re-assignment against the same codebook")

    // in-distribution delta: occupancy shift is sampling noise, PSI far
    // under the conventional 0.25 retrain bound
    val psi = report.agg(org.apache.spark.sql.functions.sum("psi_micro"))
      .head().getLong(0)
    assert(psi >= 0 && psi < 250000, s"in-distribution delta PSI $psi µ out of range")
  }

  test("append drift report flags an out-of-distribution delta") {
    val dir = tempDir("graft-ivf-ood")
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ed"))
    Similarity.saveIvfIndex(all.where(col("vec_id") < 400), dir, k = 8, iters = 3)
    // OOD batch: every dimension collapsed to the first — all vectors
    // point along ±(1,1,…,1), so they pile into one or two cells
    val ood = all.where(col("vec_id") >= 400)
      .select(col("vec_id"),
        transform(col("ed"), _ => element_at(col("ed"), 1)).as("ed"))
    val psi = Similarity.appendToIvfIndex(spark, dir, ood)
      .agg(org.apache.spark.sql.functions.sum("psi_micro")).head().getLong(0)
    assert(psi >= 250000,
      s"collapsed-direction delta should trip the 0.25 PSI retrain gate, got $psi µ")
  }

  test("compaction: append xN grows the file count, compact shrinks it, probe identical") {
    val dir = tempDir("graft-ivf-cmp")
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ed"))
    Similarity.saveIvfIndex(all.where(col("vec_id") < 300), dir, k = 8, iters = 3)
    for (b <- 0 until 4)
      Similarity.appendToIvfIndex(spark, dir,
        all.where(col("vec_id") >= 300 && col("vec_id") % 4 === b))

    def files(): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/assignments")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    val q = all.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    def probe() = Similarity
      .queryIvfIndex(spark, dir, q, all.select("vec_id", "ed"), nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def rows() = spark.read.parquet(s"$dir/assignments")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

    val filesBefore = files()
    assert(filesBefore > 4, s"appends did not fan out files: $filesBefore")
    val (rowsBefore, probeBefore) = (rows(), probe())

    // under the default bound nothing compacts (the auto-call in
    // appendToIvfIndex is a no-op until the bound is exceeded) …
    assert(!Similarity.compactIvfIndex(spark, dir, maxFiles = 1000))
    assert(files() == filesBefore)
    // … over it, one rewrite shrinks the file count and changes nothing
    assert(Similarity.compactIvfIndex(spark, dir, maxFiles = 2))
    assert(files() < filesBefore, s"compaction did not shrink ${files()}")
    assert(rows() == rowsBefore, "compaction changed the assignment rows")
    assert(probe() == probeBefore, "compaction changed probe results")

    // crash recovery: simulate a writer that died BETWEEN its two swap
    // renames — live path renamed away, compacted table stranded in tmp.
    // The next call must finish the interrupted swap (restore from tmp,
    // the newer table), lose no rows, and not throw on the missing path.
    val fsPath = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_assignments_compacting")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/_assignments_old")
    fs.rename(fsPath, tmp) // the "compacted" table, stranded mid-swap
    fs.mkdirs(bak) // a stale leftover backup must not confuse recovery
    assert(!Similarity.compactIvfIndex(spark, dir, maxFiles = 1000))
    assert(fs.exists(fsPath) && !fs.exists(tmp) && !fs.exists(bak),
      "interrupted swap was not recovered to a clean live path")
    assert(rows() == rowsBefore, "recovery lost assignment rows")
    assert(probe() == probeBefore, "recovery changed probe results")
    // …and the crash point BEFORE any rename (live path intact, stale
    // tmp only) is cleaned up without touching the live table
    fs.mkdirs(tmp)
    assert(Similarity.compactIvfIndex(spark, dir, maxFiles = 0))
    assert(fs.exists(fsPath) && !fs.exists(tmp) && !fs.exists(bak))
    assert(rows() == rowsBefore, "stale-tmp cleanup corrupted the table")
  }

  test("probe plan touches the stored assignments, never re-assigns the corpus") {
    val dir = tempDir("graft-ivf2")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ed"))
    Similarity.saveIvfIndex(emb, dir, k = 8, iters = 1)
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    val plan = Similarity.queryIvfIndex(spark, dir, q,
        emb.select("vec_id", "ed"), nprobe = 2, k = 5)
      .queryExecution.executedPlan.toString
    // the corpus×codebook cross join exists only at BUILD time; at probe
    // time the single nested-loop join is queries×codebook (5 rows)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 1, s"probe re-ranks the corpus against the codebook:\n$plan")
    assert(plan.contains("assignments"),
      s"probe does not scan the stored assignments:\n$plan")
  }
}
