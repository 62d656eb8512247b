package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-scale deduplication (north-star scope), generalizing the
  * reference's exact dedups (composite-key keep-first
  * src/trv/transform.py:111-114, latest-wins-by-id
  * src/trv/transform.py:116-118, cross-page seen-ids
  * src/trv/endpoints.py:177-202): exact hash-dedup,
  * MinHash signatures + LSH band-bucket candidate join, SimHash, and
  * n-gram Jaccard verification.
  *
  * Scale shape: exact dedup is one hash-shuffle on the digest; MinHash/LSH
  * turns the O(n²) near-dup problem into a per-band equi-join on bucket
  * keys (shuffle ∝ corpus size, not pairs); Jaccard runs only on LSH
  * candidates. Hashes are md5-derived so results are engine-portable and
  * deterministic (no seed-dependent murmur differences vs the oracle).
  */
object DedupOps {

  /** Declared scope bound for `q_setsim_join`, the exact pair-listing
    * verification oracle: a pair lister's OUTPUT is Ω(n²)·density on a
    * near-dup-dense corpus, so past this many sliced documents the query
    * fails fast naming `q_setsim_topk` (bounded top-1-per-doc output) as
    * the production path — the [[graft.functions.Similarity.FixedKnnMaxN]]
    * precedent. 2¹⁸ docs ≈ 40× the sf0.1 slice, far above every
    * verification scale and far below corpus scale. */
  val SetsimJoinMaxDocs: Long = 1L << 18

  /** Attach the [[SetsimJoinMaxDocs]] scope guard to a pair-lister input
    * WITHOUT a separate count action: the doc count rides the plan as a
    * broadcast 1-row frame and `assert_true` raises inside the (single)
    * job's first tasks past the bound — the fail-fast semantics of an
    * eager `require(docs.count() <= max)` at one fewer Spark action per
    * invocation. `assert_true` yields NULL when the bound holds, so the
    * `isnull` filter keeps every row and the optimizer cannot fold it
    * away (the condition is a runtime column). */
  private[graft] def setsimScopeGuard(docs: DataFrame,
      maxDocs: Long = SetsimJoinMaxDocs): DataFrame = {
    val nd = docs.agg(count(lit(1)).as("__nd"))
    docs.crossJoin(nd)
      .where(assert_true(col("__nd") <= maxDocs,
        lit(s"q_setsim_join is the small-scale exactness oracle (pair-list " +
          s"output is quadratic in near-dup density): bounded to $maxDocs " +
          "sliced docs; use q_setsim_topk (top-1-per-doc, bounded output) " +
          "in production")).isNull)
      .drop("__nd")
  }

  /** Bag-of-words duplicate signature: md5 of the SORTED token list —
    * catches word-order permutations that byte-exact dedup misses while
    * staying exact (no shingle probability). One projection; the sort
    * is per-row over the doc's own tokens. */
  def bowSignature(text: Column): Column =
    md5(concat_ws(" ", array_sort(split(text, " "))))

  /** Distinct whitespace tokens, one row per (id, token). */
  def explodeTokens(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(array_distinct(split(col(text), " "))).as("tok"))

  /** Distinct word n-gram shingles as an array column. Unigram token SETS
    * saturate on small vocabularies (every document contains every word →
    * Jaccard 1.0 between unrelated docs); shingles of n≥3 keep word order
    * and discriminate. */
  def shingles(text: Column, n: Int): Column = {
    if (n <= 1) return array_distinct(split(text, " "))
    array_distinct(wordNGrams(text, n))
  }

  /** Raw (non-distinct) word n-gram array — the native single-pass form
    * of `transform(starts, i => concat_ws(" ", slice(toks, i, n)))`,
    * shared by the set-semantics [[shingles]] and the occurrence-count
    * consumers (repetition/boilerplate scoring), which need multiplicity.
    */
  def wordNGrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WordNGrams(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))

  /** k-component one-permutation MinHash signature per document, over
    * unigram tokens (`shingleN = 1`) or word n-gram shingles. Shingles
    * are what the LSH candidate path should hash on for small
    * vocabularies: unigram SETS saturate (see [[shingles]]) and put half
    * the corpus in one bucket, turning the candidate join quadratic.
    *
    * SHUFFLE-FREE and one md5 per shingle: the signature is a pure
    * projection — hash the shingle array once with a higher-order
    * `transform`, then ONE `aggregate` fold takes the running min of
    * each component's 8-hex-char digest slice. No explode, no groupBy:
    * at corpus scale the signature stage is map-only inside
    * WholeStageCodegen, and the LSH bucket join downstream is the first
    * shuffle in the whole dedup plan. Disjoint slices of one digest are
    * independent hash values for min-wise sampling (min over the
    * multiset equals min over the set, so shingle de-duplication is
    * irrelevant here); lexicographic min over fixed-width hex slices is
    * uniform and identical across engines. */
  /** The k one-permutation minhash components as COLUMN expressions — a
    * stateless projection, so it composes into batch plans and streaming
    * queries alike (see [[graft.streaming.StreamDedup.runNearDupSignature]]). */
  def minhashComponents(text: Column, k: Int, shingleN: Int = 1): Seq[Column] = {
    require(k >= 1 && k <= 4,
      "one-permutation minhash slices a 32-hex md5 into at most 4 components")
    // native single-pass expression (functions.MinHashSlices): identical
    // output to the declarative transform+aggregate fold this replaced —
    // every md5-mirroring DuckDB oracle still matches — but ~10× faster:
    // the HOF fold was interpreted per SHINGLE (closure + Md5 eval +
    // struct alloc each), where this runs one tight per-row loop and
    // codegens to a static call. Repeated getItem on the same subtree is
    // deduplicated by whole-stage codegen's subexpression elimination.
    val arr = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.MinHashSlices(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), k, shingleN))
    (1 to k).map(i => arr.getItem(i - 1))
  }

  def minhashSignature(df: DataFrame, id: String, text: String, k: Int,
      shingleN: Int = 1): DataFrame =
    df.select(col(id) +:
      minhashComponents(col(text), k, shingleN).zipWithIndex
        .map { case (c, i) => c.as(s"sig${i + 1}") }: _*)

  /** LSH banding: hash `rowsPerBand` signature components into one bucket
    * key per band; docs sharing any band bucket are near-dup candidates.
    * Returns (id, band, bucket).
    */
  def lshBuckets(sig: DataFrame, id: String, k: Int, rowsPerBand: Int): DataFrame = {
    // explode ONE array of (band, bucket) structs rather than unioning
    // per-band projections: a union's branches are distinct subplans, so a
    // downstream self-join would recompute the (expensive) signature
    // aggregation once per branch per side — the explode keeps a single
    // child plan whose shuffle the self-join reuses (ReuseExchange)
    val bands = (1 to k).grouped(rowsPerBand).zipWithIndex.map { case (comps, b) =>
      struct(lit(b).as("band"),
        md5(concat(comps.map(i => col(s"sig$i")): _*)).as("bucket"))
    }.toSeq
    sig.select(col(id), explode(array(bands: _*)).as("__bb"))
      .select(col(id), col("__bb.band").as("band"), col("__bb.bucket").as("bucket"))
  }

  /** Candidate near-dup pairs (id1 < id2) from any shared LSH band bucket.
    *
    * The explicit repartition on the join key is a REUSE point, not a
    * tuning knob: since [[minhashSignature]] became a shuffle-free
    * projection there is no aggregation exchange in this plan, and
    * without one the self-join would evaluate the signature subtree
    * (md5 over every shingle) once per side. One exchange on
    * (band, bucket) — skinny banded rows, ~bands per doc — hashes the
    * corpus once and both join sides read it (ReuseExchange). */
  def lshCandidates(sig: DataFrame, id: String, k: Int, rowsPerBand: Int): DataFrame = {
    val b = lshBuckets(sig, id, k, rowsPerBand)
      .repartition(col("band"), col("bucket"))
    val l = b.select(col(id).as("id1"), col("band"), col("bucket"))
    val r = b.select(col(id).as("id2"), col("band"), col("bucket"))
    // shuffle_hash, not broadcast: both sides of a self-join are the
    // whole corpus, so AQE's small-table broadcast conversion (which
    // fires on small fixtures) is the wrong shape at scale AND builds a
    // second copy of the signature subtree; with both sides shuffled,
    // the planner reuses one exchange and the hash join needs no sort
    l.join(r.hint("shuffle_hash"), Seq("band", "bucket"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Star-pattern candidate edges for CONNECTIVITY consumers
    * (connected-components clustering): every bucket member links to the
    * bucket's minimum id instead of to every other member.
    *
    * Same components, same min-id labels as [[lshCandidates]] — a bucket
    * is a clique there and a star here, and both connect exactly the same
    * node set (any two members reach each other through the hub; the hub
    * is the bucket min, so component minima are untouched). What changes
    * is the COST LAW: a duplicate family of m docs sharing a bucket emits
    * m−1 edges instead of m·(m−1)/2 pairs. All-pairs is quadratic in
    * duplicate-cluster size — measured: the 100× scale probe (families of
    * ~100, ≈50M pairs) ran the corpus-CC chain out of aggregate memory,
    * while the star form stays linear in corpus size at any family size.
    * Use [[lshCandidates]] only where the SEMANTICS are pair-level
    * (recall gates, Jaccard confirmation); use this wherever the pairs
    * feed [[connectedComponents]].
    *
    * One exchange: the window's (band, bucket) partitioning is the same
    * repartition the bucket rows already carry. */
  def lshStarEdges(sig: DataFrame, id: String, k: Int, rowsPerBand: Int): DataFrame =
    starEdgesFromBuckets(
      lshBuckets(sig, id, k, rowsPerBand).repartition(col("band"), col("bucket")), id)

  /** The star construction itself, shared by [[lshStarEdges]] and
    * [[dedupAgainstIndex]] so the two star forms cannot drift: per
    * (band, bucket), every member links to the bucket minimum. Input
    * should already be partitioned on (band, bucket) so the hub window
    * reuses that exchange. */
  private def starEdgesFromBuckets(buckets: DataFrame, id: String): DataFrame = {
    val hub = min(col(id)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket"))
    buckets.withColumn("hub", hub)
      .where(col(id) =!= col("hub"))
      .select(col("hub").as("id1"), col(id).as("id2")).distinct()
  }

  /** Incremental batch dedup against a STORED corpus index — the
    * operating mode a 100 TB curation pipeline actually runs: the
    * established corpus is never re-read or re-clustered; only its
    * skinny (id, band, bucket) LSH index (maintained by appending each
    * accepted batch's buckets, see [[lshBuckets]]) joins against the new
    * batch. Cost ∝ |batch| · bands, independent of corpus size.
    *
    * Contract (candidate-level, like [[lshCandidates]]): a batch row
    * sharing ANY band bucket with the index is a duplicate of the
    * corpus and drops; the remaining rows dedup among themselves
    * (bucket self-join → transitive clusters → keep min id). Returns
    * the surviving batch rows with their original columns. */
  def dedupAgainstIndex(batch: DataFrame, index: DataFrame, id: String,
      k: Int, rowsPerBand: Int): DataFrame = {
    // bb and fresh are each consumed twice (bb: index probe + batch-
    // internal clustering; fresh: clustering input + final survivors),
    // and the CC loop's own actions would otherwise re-run the whole
    // signature chain once more per consumer — measured 3× sig / 2×
    // index rebuilds per call. A pin (recomputable on eviction, so
    // never a correctness risk) collapses that to one build each; the
    // pinned sets are id/bucket lists, ∝ batch size only.
    val bb = Loop.pinnedPersist(lshBuckets(
      minhashSignature(batch, id, "text", k, shingleN = 3), id, k, rowsPerBand))
    val hitBase = bb
      .join(index.select(col("band"), col("bucket")), Seq("band", "bucket"),
        "left_semi")
      .select(col(id)).distinct()
    val fresh = Loop.pinnedPersist(batch.join(hitBase, Seq(id), "left_anti"))
    val fb = bb.join(fresh.select(id), Seq(id), "left_semi")
      .repartition(col("band"), col("bucket"))
    // star edges (hub = bucket min): same components as the all-pairs
    // bucket join, linear in duplicate-family size (see lshStarEdges)
    val pairs = starEdgesFromBuckets(fb, id)
    val losers = connectedComponentsStar(pairs)
      .where(col("id") =!= col("cluster")).select(col("id").as(id))
    fresh.join(losers, Seq(id), "left_anti")
  }

  /** Exact token-set Jaccard similarity for a pair set — used to verify
    * LSH candidates. Input: token table (id, tok) distinct; pairs from a
    * self equi-join on tok (cheap when restricted to candidates).
    */
  def jaccardPairs(tokens: DataFrame, id: String,
      broadcastTokens: Boolean = false): DataFrame = {
    val counts = tokens.groupBy(col(id)).agg(count(lit(1)).as("n"))
    val l = tokens.select(col(id).as("id1"), col("tok"))
    val r = tokens.select(col(id).as("id2"), col("tok"))
    // when the pair set is known-small (LSH candidates, bounded subsets)
    // broadcasting the right side removes the token shuffle entirely
    val rSide = if (broadcastTokens) broadcast(r) else r
    val inter = l.join(rSide, "tok").where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("i"))
    inter
      .join(counts.select(col(id).as("id1"), col("n").as("n1")), "id1")
      .join(counts.select(col(id).as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("i").cast("double") / (col("n1") + col("n2") - col("i")), 4).as("jaccard"))
  }

  /** 8-bit SimHash from md5 nibble high-bits: per token, nibble j of the
    * digest votes +1/-1 on bit j; the sign of the vote sum is the bit.
    */
  def simhashBits(df: DataFrame, id: String, text: String, bits: Int = 8): DataFrame = {
    val toks = df.select(col(id), explode(split(col(text), " ")).as("tok"))
    val votes = (1 to bits).map { j =>
      sum(when(substring(md5(col("tok")), j, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)).as(s"s$j")
    }
    val agg = toks.groupBy(col(id)).agg(votes.head, votes.tail: _*)
    agg.select(col(id),
      concat((1 to bits).map(j => when(col(s"s$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Transitive near-dup clustering: connected components over a pair
    * edge list (id1, id2) by iterative min-label propagation — after LSH
    * pair generation, duplicates form chains (A~B, B~C) that pairwise
    * removal misses; the cluster id (minimum member id) is the keeper.
    *
    * Each iteration is one join + aggregate (both shuffles on the node
    * id) and converges in O(component diameter) rounds. Near-dup
    * clusters are tiny (diameter ≪ 10), so the loop is effectively
    * bounded; `maxIter` guards pathological inputs. Returns
    * (id, cluster). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // eager cut (not cache) at every step ([[Loop.cutLineage]]): an
    // iterative DataFrame loop otherwise grows its logical plan each
    // round, and the accumulating lineage blows up analysis time and
    // JVM heap. The cut is pre-partitioned on the per-round join key
    // (id2), but under AQE (the default) a cut frame reports
    // UnknownPartitioning(0) — with AQE off it reports
    // hashpartitioning(id2, n) — so every round still plans an exchange
    // of the edges by id2 (`graft.Probe plans q_dup_clusters`); the
    // layout pays only with AQE off
    val edges = Loop.cutLineage(pairs.select(col("id1"), col("id2"))
      .unionByName(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .distinct().repartition(col("id2")))
    var labels = Loop.cutLineage(edges.select(col("id1").as("id")).distinct()
      .withColumn("cluster", col("id")))
    // Convergence is checked EVERY iteration, for free: the step's cut
    // keeps the pre-propagation label alongside the new one and counts
    // the changed rows inside its own eager job (no probe job). Near-dup
    // graphs are mostly diameter-1 pairs, and a batched check (every k
    // rounds) costs k−1 full propagation shuffles on exactly that common
    // case — measured 6 rounds instead of 2 on the corpus-dedup pair graph.
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // propagate: each node takes the min of its own and neighbors' labels
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "id2"), "id2")
        .groupBy(col("id1").as("id"))
        .agg(min("cluster").as("n_cluster"))
      val (step, changed) = Loop.cutLineage(
        labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"), col("cluster").as("old"),
            least(col("cluster"), coalesce(col("n_cluster"), col("cluster"))).as("cluster")),
        count(when(col("cluster") =!= col("old"), 1)))
      converged = changed.getLong(0) == 0
      labels = step.select("id", "cluster")
      i += 1
    }
    // a component with diameter > maxIter would otherwise ship WRONG
    // cluster labels with no signal at all
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter iterations; " +
        "labels are incomplete (some components carry more than one cluster id). " +
        "Raise maxIter.")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log n) rounds INDEPENDENT of
    * component diameter, where [[connectedComponents]]' min-label
    * propagation needs O(diameter) rounds. Near-dup clusters are tiny
    * stars and the simple loop wins there; this is the scale path for
    * pathological inputs — long chains (A~B~C~…) from chained
    * boilerplate edits, where diameter grows with corpus size.
    *
    * Each round is two grouped aggregations + joins on the node id, all
    * shuffle-partitioned the same way; edges stay canonical (hi, lo)
    * and strictly shrink toward stars rooted at each component's min.
    * Returns (id, cluster) like [[connectedComponents]].
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // every cut counts its own rows ([[Loop.cutLineage]] metrics), so the
    // equality probe needs no separate count job of either edge list (the
    // loop is action-latency-bound, not data-bound)
    def cutCounted(df: DataFrame): (DataFrame, Long) = {
      val (cut, m) = Loop.cutLineage(df, count(lit(1)))
      (cut, m.getLong(0))
    }
    var (edges, edgeCount) = cutCounted(pairs
      .select(greatest(col("id1"), col("id2")).as("hi"),
        least(col("id1"), col("id2")).as("lo"))
      .where(col("hi") =!= col("lo")).distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: every node u links its LARGER neighbors to
      // m = min(Γ(u) ∪ {u}); needs both orientations of each edge.
      // ONE explicit exchange on the grouping key per half-round, read
      // by both the min-aggregate and the join (ReuseExchange; the
      // aggregate's output partitioning satisfies the join in place, and
      // shuffle_hash keeps the planner from inserting sorts) — the naive
      // form shuffles 6–7× per round, this one 3×, and per-round shuffle
      // count is exactly what a 100 TB CC run pays for.
      val bidir = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
        .repartition(col("u"))
      val mins = bidir.groupBy("u").agg(min("v").as("mv"))
      // no intermediate distinct: duplicate ls rows change neither the
      // small-star minima nor the final distinct'd edge set, and the
      // dedup shuffle they'd need costs more than carrying them one step
      val ls = bidir.join(mins.hint("shuffle_hash"), "u")
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("mv"), col("u")).as("lo"))
        .where(col("hi") =!= col("lo"))
        .repartition(col("hi"))
      // small-star: every node links its smaller neighbors AND itself to
      // m = min(Γ⁻(u) ∪ {u}); canonical (hi, lo) rows ARE Γ⁻
      val minsS = ls.groupBy("hi").agg(min("lo").as("m"))
      val ss = ls.join(minsS.hint("shuffle_hash"), "hi")
        .select(col("lo").as("x"), col("m"))
        .unionByName(minsS.select(col("hi").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(greatest(col("x"), col("m")).as("hi"),
          least(col("x"), col("m")).as("lo"))
        .distinct()
      val (next, nextCount) = cutCounted(ss)
      // star-shaped fixpoint: the round rewrote every edge to point at a
      // root and changed nothing — set equality via anti-join on the
      // (small, persisted) edge lists, both already canonical+distinct
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("hi", "lo"), "left_anti").limit(1).count() == 0
      edges = next
      edgeCount = nextCount
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge within $maxIter rounds")
    edges.select(col("hi").as("id"), col("lo").as("cluster"))
      .unionByName(edges.select(col("lo"), col("lo")).distinct()
        .toDF("id", "cluster"))
  }

  /** MLlib-assisted fuzzy dedup (SURVEY §2.8 U4 scale path): token sets →
    * sparse term vectors (HashingTF, binary) → MinHashLSH →
    * approxSimilarityJoin on Jaccard distance. Fixed seed keeps hash
    * tables deterministic. Returns (id1, id2, jaccard_distance) for pairs
    * under `maxDistance`. Complement to the md5-based [[minhashSignature]]
    * (which exists for engine-portable oracle checks).
    */
  def mlNearDupPairs(df: DataFrame, id: String, text: String,
      maxDistance: Double, numHashTables: Int = 5, shingleN: Int = 1): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val toks = df.select(col(id), shingles(col(text), shingleN).as("toks"))
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val vecs = tf.transform(toks)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, maxDistance, "dist")
      .select(
        col(s"datasetA.$id").as("id1"),
        col(s"datasetB.$id").as("id2"),
        round(col("dist"), 4).as("jaccard_distance"))
      .where(col("id1") < col("id2"))
  }

  private val docsWithDups =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Shared chain of the corpus-dedup compositions: the exact-dup-salted
    * corpus and its MinHash-LSH duplicate-cluster labels (id → cluster,
    * clustered docs only). Every stage is a keyed shuffle ∝ corpus size.
    *
    * The cluster labels are what every `q_dup_*` report reads, and the
    * LSH + star-contraction chain that produces them is the expensive
    * part — so the labels are built ONCE per (JVM, dataset) and
    * published as a parquet artifact ([[Artifacts.dirFor]]), the U11
    * index convention applied to the report family. The corpus itself
    * is a cheap two-scan union and stays a live plan (reports filter
    * and re-join it; parquet would only add a write). `ArtifactSpec`
    * pins consume-path ≡ build-path row-for-row. */
  private[graft] def corpusAndClusters(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val dir = Artifacts.dirFor(s"dupClusters:$d", { out =>
      corpusAndClustersRaw(s, d)._2.write.parquet(s"$out/clusters")
    })
    (saltedCorpus(s, d), s.read.parquet(s"$dir/clusters"))
  }

  /** The exact-dup-salted corpus every dedup composition starts from. */
  private def saltedCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val dups = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.unionByName(dups)
  }

  /** LSH bucket index (doc_id, band, bucket) of the incremental-dedup
    * BASE split (doc_id % 5 ≠ 0), published once per (JVM, dataset) via
    * [[Artifacts.dirFor]]. [[dedupAgainstIndex]]'s whole reason to exist
    * is the 100 TB asymmetry — the established corpus is an index READ,
    * never a re-shingled corpus scan — so the declared query must time
    * exactly that: a parquet scan of the stored skinny index, cost
    * ∝ |batch| · bands. `ArtifactSpec` pins stored ≡ fresh;
    * `PlanAuditSpec` pins the query-time plan to the stored scan. */
  private[graft] def incrementalBaseIndex(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val dir = Artifacts.dirFor(s"incrBaseIndex:$d", { out =>
      incrementalBaseIndexRaw(s, d).write.parquet(s"$out/index")
    })
    s.read.parquet(s"$dir/index")
  }

  /** The uncached build path of [[incrementalBaseIndex]] — what the
    * artifact materializes (and what appending an accepted batch's
    * buckets would extend). Kept callable for `ArtifactSpec`. */
  private[graft] def incrementalBaseIndexRaw(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val base = Tables.documents(s, d).select("doc_id", "text")
      .where(col("doc_id") % 5 =!= 0)
    lshBuckets(minhashSignature(base, "doc_id", "text", 4, shingleN = 3),
      "doc_id", 4, 2)
  }

  /** The uncached build path of [[corpusAndClusters]] — what the
    * artifact materializes. Kept callable so `ArtifactSpec` can prove
    * the stored labels equal a fresh derivation. */
  private[graft] def corpusAndClustersRaw(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val corpus = saltedCorpus(s, d)
    val sig = minhashSignature(corpus, "doc_id", "text", 4, shingleN = 3)
    // star edges, not all-pairs: identical components and labels, but
    // linear (not quadratic) in duplicate-family size — see lshStarEdges.
    // Clustering via the Kiveris star-contraction CC: O(log n) rounds
    // regardless of component diameter — at 100× the scaled corpus forms
    // CHAINS of near-dup copies (copy i buckets with copy i±1 only), so
    // diameter grows with scale and O(diameter) min-label propagation
    // hits any fixed iteration cap; measured on the 100× probe.
    (corpus, connectedComponentsStar(lshStarEdges(sig, "doc_id", 4, 2)))
  }

  /** The recursive-CTE oracle mirror of [[corpusAndClusters]]: CTEs up to
    * `lab(id, cluster)`. Callers append their own final SELECT. */
  private[operators] val corpusClustersCte =
    s"""WITH RECURSIVE corpus AS ($docsWithDups),
      |t AS (SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
      |    SELECT doc_id,
      |      [array_to_string(toks[i:i+2], ' ')
      |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus))),
      |sig AS (SELECT doc_id,
      |    min(substr(md5(tok), 1, 8)) AS s1, min(substr(md5(tok), 9, 8)) AS s2,
      |    min(substr(md5(tok), 17, 8)) AS s3, min(substr(md5(tok), 25, 8)) AS s4
      |  FROM t GROUP BY 1),
      |b AS (SELECT doc_id, md5(s1 || s2) AS bucket FROM sig
      |      UNION ALL SELECT doc_id, md5(s3 || s4) FROM sig),
      |p AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      |      FROM b l JOIN b r USING (bucket) WHERE l.doc_id < r.doc_id),
      |e AS (SELECT id1, id2 FROM p UNION SELECT id2, id1 FROM p),
      |reach(id, r) AS (
      |  SELECT id1, id1 FROM e
      |  UNION
      |  SELECT e.id1, reach.r FROM e JOIN reach ON reach.id = e.id2),
      |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1)""".stripMargin

  /** Shingle-share edge list over the bounded doc subset — the common
    * input of the two q_dup_clusters variants. */
  private[operators] def shareEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).where(col("doc_id") < 20)
    val toks = docs.select(col("doc_id"),
      explode(shingles(col("text"), 3)).as("tok")).distinct()
    val l = toks.select(col("doc_id").as("id1"), col("tok"))
    val r = toks.select(col("doc_id").as("id2"), col("tok"))
    l.join(broadcast(r), "tok").where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  private val dupClustersOracle =
    """WITH RECURSIVE
      |t AS (SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
      |    SELECT doc_id,
      |      [array_to_string(toks[i:i+2], ' ')
      |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id < 20))),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
      |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |e AS (SELECT id1, id2 FROM p UNION SELECT id2, id1 FROM p),
      |reach(id, r) AS (
      |  SELECT id1, id1 FROM e
      |  UNION
      |  SELECT e.id1, reach.r FROM e JOIN reach ON reach.id = e.id2)
      |SELECT id, min(r) AS cluster FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // C4-style corpus-wide LINE dedup (the other axis from whole-doc
    // dedup: a boilerplate line repeated across thousands of pages is
    // removed everywhere but its first occurrence, and documents that
    // become empty are dropped). Three stages, all keyed shuffles with
    // no driver state, so the shape survives 100 TB: segment (here into
    // deterministic 8-word lines — the fixture text has no newlines;
    // with real text the split is `\n`), keep-first per exact line
    // (window partitioned BY LINE TEXT — the canonical C4 shuffle,
    // skinny (line, doc_id, line_no) rows), reassemble in line order
    // (shuffle by doc_id). Keep-first order is pinned (doc_id, line_no)
    // for cross-engine determinism.
    QueryDef(
      "q_line_dedup",
      (s, d) => {
        val words = split(col("text"), " ")
        val nLines = ceil(size(words) / lit(8.0)).cast("int")
        val segmented = Tables.documents(s, d).select(
          col("doc_id"),
          when(nLines > lit(0), transform(sequence(lit(0), nLines - 1),
              i => array_join(slice(words, i * 8 + 1, lit(8)), " ")))
            .otherwise(array().cast("array<string>")).as("lines"))
        val exploded = segmented.select(col("doc_id"),
          posexplode(col("lines")).as(Seq("line_no", "line")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("line").orderBy("doc_id", "line_no")
        exploded
          .withColumn("rn", row_number().over(w))
          .groupBy("doc_id")
          .agg(
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept_lines"),
            sum(when(col("rn") > 1, 1L).otherwise(0L)).as("dropped_lines"),
            array_join(
              transform(
                array_sort(collect_list(
                  when(col("rn") === 1, struct(col("line_no"), col("line"))))),
                x => x.getField("line")),
              " ").as("cleaned"))
          .where(col("kept_lines") > 0)
          .orderBy("doc_id")
      },
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |lines AS (
             |  SELECT doc_id, CAST(i AS INT) AS line_no,
             |    array_to_string(w[(CAST(i AS INT)*8+1):(CAST(i AS INT)*8+8)], ' ') AS line
             |  FROM words, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)
             |),
             |kept AS (
             |  SELECT doc_id, line_no, line,
             |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
             |  FROM lines
             |)
             |SELECT doc_id,
             |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_lines,
             |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_lines,
             |  string_agg(line, ' ' ORDER BY line_no) FILTER (WHERE rn = 1) AS cleaned
             |FROM kept GROUP BY doc_id
             |HAVING count(*) FILTER (WHERE rn = 1) > 0
             |ORDER BY doc_id""".stripMargin)),

    // Exact-substring (repeated-span) dedup map — the Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better"
    // granularity the chunk/line/shingle passes approximate from above:
    // which CONTIGUOUS token spans of each document are covered by an
    // 8-gram that also appears verbatim in ANOTHER document, merged
    // into maximal covered spans. q_chunk_dedup counts shared fixed
    // windows and q_ngram_novelty scores set-semantics shingles;
    // neither yields the removable span inventory an exact-substring
    // cut pass consumes. Semantics: token position t is covered iff
    // some cross-doc-duplicated window start q with q ≤ t ≤ q+7
    // exists; sorted duplicated starts whose gap ≤ 7 merge (interval
    // union via lag/running-sum islands), so spans are maximal and
    // DISJOINT and dup_tokens is the exact union coverage ≤ n_tokens —
    // the per-doc "how much of this text exists verbatim elsewhere"
    // number. Docs shorter than 8 tokens contribute their whole text
    // as one truncated window (the wordNGrams contract); the final
    // least() clamp makes that doc's coverage exact (it is necessarily
    // a single span, so clamping the sum equals clamping the span).
    // Cost: one posexplode (rows ∝ corpus tokens), one 128-bit
    // fingerprint hash agg + one fingerprint-keyed join back (both
    // map-side combined, shuffle linear in corpus tokens), then
    // doc-partitioned lag/sum windows — per-partition size is one
    // doc's duplicated-window count, never global. No pairwise
    // anything; hot fingerprints are bounded by the duplicate-family
    // size, the q_chunk_dedup argument.
    QueryDef(
      "q_dup_spans",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // r16 (guide §2.3/§2.4): fp is unhex(md5) — the 16-byte BINARY
        // digest instead of the 32-char hex string (bijective, so
        // grouping/joining is collision-identical and every output row
        // is unchanged; the fingerprint never leaves the plan) — and
        // ONE fp-keyed exchange feeds both the cross-doc aggregate and
        // the join back (the q_fuzzy_join convention; shuffle_hash
        // keeps AQE from broadcasting the grouped side, which would
        // rebuild the subtree instead of riding the shared exchange).
        // Measured 100× noop: 13.7 → 9.4 s run-2.
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(wordNGrams(col("text"), 8)).as(Seq("p", "g")))
          .select(col("doc_id"), col("p"), unhex(md5(col("g"))).as("fp"))
          .repartition(col("fp"))
        val crossDoc = grams.groupBy("fp")
          .agg(countDistinct("doc_id").as("nd"))
          .where(col("nd") > 1).select("fp")
        val dupPos = grams.join(crossDoc.hint("shuffle_hash"), "fp")
          .select("doc_id", "p")
        val byDoc = Window.partitionBy("doc_id").orderBy("p")
        val spans = dupPos
          .withColumn("brk",
            when(col("p") - lag("p", 1).over(byDoc) <= 7, 0).otherwise(1))
          .withColumn("isl", sum("brk").over(
            byDoc.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "isl")
          .agg(min("p").as("s0"), max("p").as("e0"), count(lit(1)).as("nw"))
        val perDoc = spans.groupBy("doc_id").agg(
          count(lit(1)).as("n_spans"),
          sum(col("e0") - col("s0") + 8).cast("long").as("cov"),
          max(col("e0") - col("s0") + 8).cast("long").as("cov_max"),
          sum("nw").as("n_dup_windows"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(perDoc, "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("n_spans"),
            col("n_dup_windows"),
            least(col("cov"), col("n_tokens")).as("dup_tokens"),
            least(col("cov_max"), col("n_tokens")).as("longest_span"))
          .withColumn("dup_frac_micro",
            expr("(dup_tokens * CAST(1000000 AS BIGINT)) div n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |g AS (SELECT doc_id,
             |    unnest([i - 1 for i in range(1, greatest(len(t) - 7, 1) + 1)]) AS p,
             |    unnest([md5(array_to_string(t[i:i+7], ' '))
             |            for i in range(1, greatest(len(t) - 7, 1) + 1)]) AS fp
             |  FROM d),
             |x AS (SELECT fp FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
             |dp AS (SELECT doc_id, p FROM g JOIN x USING (fp)),
             |fl AS (SELECT doc_id, p,
             |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 7
             |         THEN 0 ELSE 1 END AS brk
             |  FROM dp),
             |il AS (SELECT doc_id, p,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM fl),
             |sp AS (SELECT doc_id, isl, min(p) AS s0, max(p) AS e0,
             |    count(*) AS nw FROM il GROUP BY 1, 2),
             |pd AS (SELECT doc_id, count(*) AS n_spans,
             |    sum(e0 - s0 + 8) AS cov, max(e0 - s0 + 8) AS cov_max,
             |    sum(nw) AS n_dup_windows FROM sp GROUP BY 1),
             |l AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
             |  FROM documents)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_spans AS BIGINT) AS n_spans,
             |  CAST(n_dup_windows AS BIGINT) AS n_dup_windows,
             |  CAST(least(cov, n_tokens) AS BIGINT) AS dup_tokens,
             |  CAST(least(cov_max, n_tokens) AS BIGINT) AS longest_span,
             |  CAST(least(cov, n_tokens) * 1000000 // n_tokens AS BIGINT)
             |    AS dup_frac_micro
             |FROM pd JOIN l USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Span-level contamination map — q_ngram_contamination reports
    // per-source set-semantics hit RATES; this extracts the actual
    // contiguous TRAIN-doc spans whose 8-grams appear in the TEST split
    // (same doc_id-parity split convention), i.e. the passages a
    // surgical decontamination pass cuts from train instead of
    // amputating whole documents (q_decontaminate's granularity). Same
    // machinery as q_dup_spans — positional fingerprints, a semi join
    // against the test-side distinct gram set, lag/running-sum interval
    // union per doc, coverage clamp for sub-8-token docs — with the
    // membership predicate swapped from "any OTHER doc" to "any TEST
    // doc". Cost: fingerprint-keyed shuffles linear in corpus tokens
    // (the semi join's build side is the distinct test gram set, itself
    // corpus-bounded), doc-partitioned windows only.
    QueryDef(
      "q_contamination_spans",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // r16: unhex(md5) binary fingerprint + one shared fp-keyed
        // exchange for the test-side distinct and the train-side semi
        // join — see the q_dup_spans note (same rewrite, same proof of
        // output identity).
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(wordNGrams(col("text"), 8)).as(Seq("p", "g")))
          .select(col("doc_id"), col("p"), unhex(md5(col("g"))).as("fp"))
          .repartition(col("fp"))
        val testSet = grams.where(col("doc_id") % 2 === 1)
          .select("fp").distinct()
        val dirty = grams.where(col("doc_id") % 2 === 0)
          .join(testSet.hint("shuffle_hash"), Seq("fp"), "left_semi")
          .select("doc_id", "p")
        val byDoc = Window.partitionBy("doc_id").orderBy("p")
        val spans = dirty
          .withColumn("brk",
            when(col("p") - lag("p", 1).over(byDoc) <= 7, 0).otherwise(1))
          .withColumn("isl", sum("brk").over(
            byDoc.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "isl")
          .agg(min("p").as("s0"), max("p").as("e0"), count(lit(1)).as("nw"))
        val perDoc = spans.groupBy("doc_id").agg(
          count(lit(1)).as("n_spans"),
          sum(col("e0") - col("s0") + 8).cast("long").as("cov"),
          max(col("e0") - col("s0") + 8).cast("long").as("cov_max"),
          sum("nw").as("n_dirty_windows"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(perDoc, "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("n_spans"),
            col("n_dirty_windows"),
            least(col("cov"), col("n_tokens")).as("contaminated_tokens"),
            least(col("cov_max"), col("n_tokens")).as("longest_span"))
          .withColumn("contaminated_frac_micro",
            expr("(contaminated_tokens * CAST(1000000 AS BIGINT)) div n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |g AS (SELECT doc_id,
             |    unnest([i - 1 for i in range(1, greatest(len(t) - 7, 1) + 1)]) AS p,
             |    unnest([md5(array_to_string(t[i:i+7], ' '))
             |            for i in range(1, greatest(len(t) - 7, 1) + 1)]) AS fp
             |  FROM d),
             |ts AS (SELECT DISTINCT fp FROM g WHERE doc_id % 2 = 1),
             |dp AS (SELECT doc_id, p FROM g
             |  WHERE doc_id % 2 = 0 AND fp IN (SELECT fp FROM ts)),
             |fl AS (SELECT doc_id, p,
             |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 7
             |         THEN 0 ELSE 1 END AS brk
             |  FROM dp),
             |il AS (SELECT doc_id, p,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM fl),
             |sp AS (SELECT doc_id, isl, min(p) AS s0, max(p) AS e0,
             |    count(*) AS nw FROM il GROUP BY 1, 2),
             |pd AS (SELECT doc_id, count(*) AS n_spans,
             |    sum(e0 - s0 + 8) AS cov, max(e0 - s0 + 8) AS cov_max,
             |    sum(nw) AS n_dirty_windows FROM sp GROUP BY 1),
             |l AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
             |  FROM documents)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_spans AS BIGINT) AS n_spans,
             |  CAST(n_dirty_windows AS BIGINT) AS n_dirty_windows,
             |  CAST(least(cov, n_tokens) AS BIGINT) AS contaminated_tokens,
             |  CAST(least(cov_max, n_tokens) AS BIGINT) AS longest_span,
             |  CAST(least(cov, n_tokens) * 1000000 // n_tokens AS BIGINT)
             |    AS contaminated_frac_micro
             |FROM pd JOIN l USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Exact-substring cut — q_dup_spans is the MAP, this is the APPLY:
    // materialize the deduplicated corpus the way an exact-substring
    // pass ships it. Ownership rule (the Lee et al. keep-one-copy
    // contract, made deterministic): each cross-doc-duplicated 8-gram
    // window is OWNED by the minimum doc_id that contains it; a token
    // position is removed iff it is covered by at least one duplicated
    // window and NONE of the duplicated windows covering it are owned
    // by its own document — so the first occurrence of every duplicated
    // passage survives verbatim somewhere, and a doc that is itself the
    // first occurrence keeps its text. Output: every doc with its
    // kept/removed token accounting and the reassembled cleaned text
    // (the q_line_dedup materialization convention, at substring
    // granularity). Cost: the q_dup_spans fingerprint agg + join, one
    // bounded ×8 position expansion (explode of an 8-element sequence —
    // linear in corpus tokens, the window length is a constant), one
    // (doc, pos) agg, one per-doc reassembly agg. NO windows at all —
    // every step is a keyed groupBy/join, so there is nothing
    // partitionless to whitelist and the shape survives any corpus.
    QueryDef(
      "q_dup_span_cut",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // r16 reassembly rewrite (guide §2.3 "shuffle keys and metadata
        // instead of payloads", verdict item 4): the old form exploded
        // EVERY token, left-joined it against the covered-position map
        // and rebuilt each doc with a collect_list + array_sort — two
        // corpus-sized shuffles of token STRINGS plus a per-doc sort.
        // Only the REMOVED positions (doc_id, t — no strings) shuffle
        // now; the cleaned text reassembles MAP-SIDE from the bound
        // split array via array_except over the position sequence
        // (order-preserving on the left operand, hash-set lookup on the
        // removed set — linear per doc). 100× cold 17.6 → 9.2 s.
        val dl = docs.select(col("doc_id"), split(col("text"), " ").as("l"))
          .select(col("doc_id"), col("l"),
            size(col("l")).cast("long").as("n_tokens"))
        val lens = dl.select("doc_id", "n_tokens")
        // unhex(md5) binary fingerprint + one shared fp-keyed exchange
        // for the owner aggregate and the join back — see the
        // q_dup_spans note (same rewrite, same proof of output identity)
        val grams = docs
          .select(col("doc_id"),
            posexplode(wordNGrams(col("text"), 8)).as(Seq("p", "g")))
          .select(col("doc_id"), col("p"), unhex(md5(col("g"))).as("fp"))
          .repartition(col("fp"))
        val owners = grams.groupBy("fp")
          .agg(countDistinct("doc_id").as("nd"), min("doc_id").as("owner"))
          .where(col("nd") > 1).select("fp", "owner")
        // covered positions of each duplicated window, clamped to the
        // doc length (the <8-token truncated-window contract)
        val cover = grams.join(owners.hint("shuffle_hash"), "fp")
          .join(lens, "doc_id")
          .select(col("doc_id"),
            (col("doc_id") === col("owner")).cast("int").as("own"),
            explode(sequence(col("p").cast("long"),
              least(col("p") + 7L, col("n_tokens") - 1L))).as("t"))
          .groupBy("doc_id", "t").agg(max("own").as("any_owned"))
        val rm = cover.where(col("any_owned") === 0)
          .groupBy("doc_id")
          .agg(collect_list("t").as("rm"),
            count(lit(1)).cast("long").as("removed"))
        dl.join(rm, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            (col("n_tokens") - coalesce(col("removed"), lit(0L)))
              .as("kept_tokens"),
            coalesce(col("removed"), lit(0L)).as("removed_tokens"),
            coalesce(col("rm"), array().cast("array<bigint>")).as("rm"),
            col("l"))
          .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
            col("removed_tokens"),
            expr("(removed_tokens * CAST(1000000 AS BIGINT)) div n_tokens")
              .as("removed_frac_micro"),
            array_join(transform(
              array_except(sequence(lit(0L), col("n_tokens") - 1L), col("rm")),
              t => element_at(col("l"), (t + 1L).cast("int"))), " ")
              .as("cleaned"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |l AS (SELECT doc_id, len(tk) AS n_tokens FROM d),
             |g AS (SELECT doc_id,
             |    unnest([i - 1 for i in range(1, greatest(len(tk) - 7, 1) + 1)]) AS p,
             |    unnest([md5(array_to_string(tk[i:i+7], ' '))
             |            for i in range(1, greatest(len(tk) - 7, 1) + 1)]) AS fp
             |  FROM d),
             |o AS (SELECT fp, min(doc_id) AS owner FROM g
             |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
             |cov AS (SELECT g.doc_id, t,
             |    max(CASE WHEN g.doc_id = o.owner THEN 1 ELSE 0 END) AS any_owned
             |  FROM g JOIN o USING (fp) JOIN l ON l.doc_id = g.doc_id,
             |    unnest(range(p, least(p + 8, n_tokens))) AS u(t)
             |  GROUP BY 1, 2),
             |tox AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS t, tk[i] AS tok
             |  FROM d, unnest(range(1, len(tk) + 1)) AS r(i)),
             |k AS (SELECT tox.doc_id, tox.t, tox.tok,
             |    (cov.any_owned IS NULL OR cov.any_owned = 1) AS keep
             |  FROM tox LEFT JOIN cov
             |    ON cov.doc_id = tox.doc_id AND cov.t = tox.t)
             |SELECT k.doc_id, CAST(l.n_tokens AS BIGINT) AS n_tokens,
             |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept_tokens,
             |  CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS removed_tokens,
             |  CAST(count(*) FILTER (WHERE NOT keep) * 1000000
             |    // l.n_tokens AS BIGINT) AS removed_frac_micro,
             |  coalesce(string_agg(tok, ' ' ORDER BY k.t)
             |    FILTER (WHERE keep), '') AS cleaned
             |FROM k JOIN l ON l.doc_id = k.doc_id
             |GROUP BY k.doc_id, l.n_tokens
             |ORDER BY k.doc_id""".stripMargin)),

    // edit-distance-1 fuzzy self-join via deletion-neighborhood blocking
    // (the SymSpell trick): every string produces itself plus each
    // one-char-deletion variant; two strings within Levenshtein distance
    // 1 — substitution, insertion, or deletion — necessarily SHARE a
    // variant, so an equi-join on the variant finds every candidate and
    // the exact confirm only runs on that tiny set. Candidates scale
    // with true near-matches (an equi-join shuffle), never |table|² —
    // unlike the oracle's quadratic formulation, which is the
    // independent algorithm the gate compares against.
    QueryDef(
      "q_fuzzy_join",
      (s, d) => {
        val names = Tables.customer(s, d).select(col("c_name").as("name"))
        val variants = names.select(col("name"), explode(expr(
          """array_distinct(transform(
            |  sequence(1, length(name) + 1),
            |  i -> concat(substring(name, 1, i - 1), substring(name, i + 1))))"""
            .stripMargin)).as("v"))
        // one exchange on the variant key, both join sides read it
        // (ReuseExchange) — without it each side re-runs the variant
        // explode; shuffle_hash keeps AQE from broadcasting one side
        // (which would rebuild the subtree instead of reusing the
        // exchange, and is the wrong shape at corpus scale anyway)
        val vparts = variants.repartition(col("v"))
        val a = vparts.select(col("name").as("name1"), col("v"))
        val b = vparts.select(col("name").as("name2"), col("v"))
        a.join(b.hint("shuffle_hash"), Seq("v"))
          .where(col("name1") < col("name2") &&
            levenshtein(col("name1"), col("name2")) <= 1)
          // confirm BEFORE the dedup shuffle: a pair reaches distinct() at
          // most |name|+1 times but levenshtein on a candidate is cheaper
          // than shuffling the ~10× larger unconfirmed candidate set
          .select("name1", "name2").distinct()
          .orderBy("name1", "name2")
      },
      Some("""SELECT a.c_name AS name1, b.c_name AS name2
             |FROM customer a JOIN customer b
             |  ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
             |ORDER BY 1, 2""".stripMargin)),

    // exact dedup by content digest over a corpus with injected duplicates:
    // group on md5(text), keep min id, count copies
    QueryDef(
      "q_dedup_exact",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dups = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        docs.unionByName(dups)
          .groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
          .orderBy("keeper")
      },
      Some(s"""SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
              |FROM ($docsWithDups) GROUP BY 1 ORDER BY keeper""".stripMargin)),

    // bag-of-words dedup — the EXACT dedup semantics between byte-exact
    // (q_dedup_exact, misses any reordering) and MinHash (approximate):
    // hash the SORTED token multiset, so word-order permutations and
    // sentence-shuffled copies collapse while genuinely different texts
    // never collide. The salted corpus adds reversed-word copies of
    // every 7th doc — invisible to md5(text), caught here; the report
    // is the per-signature family table with the byte-exact count
    // alongside, so the gap IS the reorder-dup mass. One projection +
    // one grouped count (shuffle on the signature).
    QueryDef(
      "q_bow_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val shuffled = docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 300000).as("doc_id"),
            concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
        docs.unionByName(shuffled)
          .groupBy(bowSignature(col("text")).as("bow_h"))
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"),
            countDistinct(md5(col("text"))).as("n_distinct_texts"))
          .where(col("n_copies") > 1)
          .orderBy("keeper")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 300000,
             |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
             |  FROM documents WHERE doc_id % 7 = 0)
             |SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow_h,
             |  min(doc_id) AS keeper, count(*) AS n_copies,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
             |FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY keeper""".stripMargin)),

    // template mining — cluster documents by SHAPE (the sequence of
    // token lengths), the cheap boilerplate detector web-scrape
    // curation runs before content-level dedup: form letters and
    // generated pages share a length skeleton even when every slot
    // differs. Signature = md5 of the dash-joined token-length
    // sequence; report the top-10 template families with size and how
    // many DISTINCT texts share the skeleton (all-distinct ⇒ a true
    // template, not plain copies). One projection + one grouped count.
    QueryDef(
      "q_template_mining",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(md5(concat_ws("-",
            transform(split(col("text"), " "), t => length(t).cast("string"))))
            .as("shape_h"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct_texts"),
            min("doc_id").as("exemplar"))
          .orderBy(col("n_docs").desc, col("exemplar"))
          .limit(10)
      },
      Some("""SELECT md5(array_to_string(
             |    [CAST(len(t) AS VARCHAR) for t in string_split(text, ' ')], '-')) AS shape_h,
             |  count(*) AS n_docs,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
             |  min(doc_id) AS exemplar
             |FROM documents GROUP BY 1
             |ORDER BY n_docs DESC, exemplar LIMIT 10""".stripMargin)),

    // MinHash signatures (k=4) per document
    QueryDef(
      "q_minhash_sig",
      (s, d) => minhashSignature(Tables.documents(s, d), "doc_id", "text", 4)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  min(substr(md5(tok), 1, 8)) AS sig1, min(substr(md5(tok), 9, 8)) AS sig2,
             |  min(substr(md5(tok), 17, 8)) AS sig3, min(substr(md5(tok), 25, 8)) AS sig4
             |FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             |      FROM documents)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // MinHash estimation-quality gate: signature-agreement Jaccard
    // estimate vs the exact set Jaccard, per bounded doc pair, with the
    // absolute error as a column — the sketch-accuracy twin of the LSH
    // recall gates. k=4 components → estimates on a 1/4 grid; at
    // production k (128+) the same query measures real sketch error.
    // Everything is md5-derived and deterministic, so even the ERROR of
    // the approximation is oracle-checkable cross-engine.
    QueryDef(
      "q_minhash_est",
      (s, d) => {
        val docs = Tables.documents(s, d).where(col("doc_id") < 20)
        val sig = minhashSignature(docs, "doc_id", "text", 4)
        val a = sig.select(col("doc_id").as("id1") +:
          (1 to 4).map(i => col(s"sig$i").as(s"a$i")): _*)
        val b = sig.select(col("doc_id").as("id2") +:
          (1 to 4).map(i => col(s"sig$i").as(s"b$i")): _*)
        val agree = (1 to 4).map(i =>
          (col(s"a$i") === col(s"b$i")).cast("int")).reduce(_ + _)
        val est = a.crossJoin(broadcast(b)).where(col("id1") < col("id2"))
          .select(col("id1"), col("id2"), round(agree / 4.0, 4).as("est"))
        val exact = jaccardPairs(explodeTokens(docs, "doc_id", "text"),
          "doc_id", broadcastTokens = true)
          .withColumnRenamed("jaccard", "exact_j")
        est.join(exact, Seq("id1", "id2"), "left")
          .select(col("id1"), col("id2"), col("est"),
            coalesce(col("exact_j"), lit(0.0)).as("exact_j"),
            round(abs(col("est") - coalesce(col("exact_j"), lit(0.0))), 4).as("err"))
          .orderBy("id1", "id2")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
             |sig AS (SELECT doc_id,
             |    min(substr(md5(tok), 1, 8)) AS s1, min(substr(md5(tok), 9, 8)) AS s2,
             |    min(substr(md5(tok), 17, 8)) AS s3, min(substr(md5(tok), 25, 8)) AS s4
             |  FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM d)
             |  GROUP BY 1),
             |t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
             |n AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
             |          FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |ex AS (SELECT id1, id2,
             |         round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS exact_j
             |       FROM inter JOIN n na ON na.doc_id = id1
             |       JOIN n nb ON nb.doc_id = id2),
             |est AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             |    round(((CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END)
             |         + (CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END)
             |         + (CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END)
             |         + (CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END)) / 4.0, 4) AS est
             |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
             |SELECT e.id1, e.id2, e.est, coalesce(x.exact_j, 0) AS exact_j,
             |  round(abs(e.est - coalesce(x.exact_j, 0)), 4) AS err
             |FROM est e LEFT JOIN ex x USING (id1, id2)
             |ORDER BY 1, 2""".stripMargin)),

    // SimHash (8-bit) per document
    QueryDef(
      "q_simhash",
      (s, d) => simhashBits(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some {
        val sums = (1 to 8).map(j =>
          s"""sum(CASE WHEN substr(md5(tok), $j, 1) IN
             | ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$j"""
            .stripMargin.replace("\n", "")).mkString(",\n    ")
        val bits = (1 to 8).map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END")
          .mkString(" || ")
        s"""SELECT doc_id, $bits AS simhash FROM (
           |  SELECT doc_id,
           |    $sums
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
           |  GROUP BY 1)
           |ORDER BY doc_id""".stripMargin
      }),

    // word-3-gram shingle Jaccard — the discriminating variant (unigram
    // sets saturate on small vocabularies); same join shape as
    // q_ngram_jaccard but over ordered shingles
    QueryDef(
      "q_shingle_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d).where(col("doc_id") < 20)
        val toks = docs.select(col("doc_id"),
          explode(shingles(col("text"), 3)).as("tok")).distinct()
        jaccardPairs(toks, "doc_id", broadcastTokens = true)
          .orderBy("id1", "id2")
      },
      Some("""WITH t AS (
             |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |          FROM documents WHERE doc_id < 20))),
             |c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
             |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
             |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT id1, id2,
             |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
             |FROM i JOIN c ca ON ca.doc_id = id1 JOIN c cb ON cb.doc_id = id2
             |ORDER BY id1, id2""".stripMargin)),

    // asymmetric set containment — |A∩B|/|A| and |A∩B|/|B| per pair:
    // the measure Jaccard can't express. A 30-token doc fully quoted
    // inside a 300-token doc has Jaccard ≈ 0.1 (looks unrelated) but
    // containment(A→B) = 1.0 — exactly the sub-document duplication a
    // training corpus needs to catch (q_chunk_dedup is its fixed-window
    // cousin). Same token-join shape as q_shingle_jaccard on the same
    // audit slice; at scale this formula runs on LSH candidate pairs
    // (q_lsh_candidates), not all pairs — the slice here is the
    // exactness oracle for the formula itself.
    QueryDef(
      "q_containment",
      (s, d) => {
        val toks = Tables.documents(s, d).where(col("doc_id") < 20)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
        val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = toks.as("a")
          .join(toks.as("b"),
            col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
          .agg(count(lit(1)).as("i"))
        inter
          .join(broadcast(sizes).withColumnRenamed("doc_id", "id1")
            .withColumnRenamed("n", "n1"), "id1")
          .join(broadcast(sizes).withColumnRenamed("doc_id", "id2")
            .withColumnRenamed("n", "n2"), "id2")
          .select(col("id1"), col("id2"),
            round(col("i").cast("double") / col("n1"), 4).as("cont_1in2"),
            round(col("i").cast("double") / col("n2"), 4).as("cont_2in1"))
          .orderBy("id1", "id2")
      },
      Some("""WITH t AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents WHERE doc_id < 20),
             |c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
             |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
             |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT id1, id2,
             |  round(CAST(i AS DOUBLE) / ca.n, 4) AS cont_1in2,
             |  round(CAST(i AS DOUBLE) / cb.n, 4) AS cont_2in1
             |FROM i JOIN c ca ON ca.doc_id = id1 JOIN c cb ON cb.doc_id = id2
             |ORDER BY id1, id2""".stripMargin)),

    // sub-corpus leakage matrix: pairwise 3-gram-shingle Jaccard between
    // SOURCES over the whole corpus — the dataset-card number that says
    // "these two crawls are 40% the same data" before mixture weights get
    // assigned (q_shingle_jaccard is its per-document cousin on an audit
    // slice). The distinct (source, shingle) projection is
    // vocabulary-sized, the shingle self-join fans out at most
    // |sources|² per shingle, and the output is (|sources| choose 2)
    // rows — every step bounded by source count, not corpus size.
    QueryDef(
      "q_source_overlap",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("source"), explode(shingles(col("text"), 3)).as("sh"))
          .distinct()
        val sizes = t.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = t.as("a")
          .join(t.as("b"),
            col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
          .agg(count(lit(1)).as("i"))
        inter
          .join(broadcast(sizes).withColumnRenamed("source", "s1")
            .withColumnRenamed("n", "n1"), "s1")
          .join(broadcast(sizes).withColumnRenamed("source", "s2")
            .withColumnRenamed("n", "n2"), "s2")
          .select(col("s1"), col("s2"), col("i"),
            round(col("i").cast("double") / (col("n1") + col("n2") - col("i")), 4)
              .as("jaccard"))
          .orderBy("s1", "s2")
      },
      Some("""WITH t AS (
             |  SELECT DISTINCT source, unnest(sh) AS sh FROM (
             |    SELECT source,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
             |    FROM (SELECT source, string_split(text, ' ') AS toks
             |          FROM documents))),
             |c AS (SELECT source, count(*) AS n FROM t GROUP BY 1),
             |i AS (SELECT a.source AS s1, b.source AS s2, count(*) AS i
             |      FROM t a JOIN t b ON a.sh = b.sh AND a.source < b.source
             |      GROUP BY 1, 2)
             |SELECT s1, s2, i,
             |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
             |FROM i JOIN c ca ON ca.source = s1 JOIN c cb ON cb.source = s2
             |ORDER BY s1, s2""".stripMargin)),

    // transitive dup clusters over shingle-share edges: iterative
    // connected components on the Spark side, recursive-CTE reachability
    // closure as the oracle
    QueryDef(
      "q_dup_clusters",
      (s, d) => connectedComponents(shareEdges(s, d)).orderBy("id"),
      Some(dupClustersOracle)),

    // the SAME clusters via the large-star/small-star contraction — the
    // O(log n)-round scale path gets its own end-to-end oracle gate (one
    // oracle, two algorithms: both must produce the identical min-id
    // labeling)
    QueryDef(
      "q_dup_clusters_star",
      (s, d) => connectedComponentsStar(shareEdges(s, d)).orderBy("id"),
      Some(dupClustersOracle)),

    // the SCALE dedup path, oracle-gated end to end: MinHash signatures
    // over 3-gram shingles → 2-band LSH bucketing → candidate pairs from
    // any shared band bucket, over the corpus with injected exact
    // duplicates. This per-band equi-join (shuffle ∝ corpus, not pairs)
    // is what actually runs at 100 TB; the all-pairs Jaccard forms above
    // only verify it. Shingles, not unigrams: the fixture vocabulary is
    // ~31 words, so unigram-set MinHash puts half the corpus in one
    // bucket (measured: a 3 518-doc bucket → 12.8 M candidate pairs at
    // sf0.1) where shingle signatures keep buckets ∝ true duplicates
    // (max bucket 8, ~2 k pairs).
    QueryDef(
      "q_lsh_candidates",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dups = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val sig = minhashSignature(docs.unionByName(dups), "doc_id", "text", 4,
          shingleN = 3)
        lshCandidates(sig, "doc_id", 4, 2).orderBy("id1", "id2")
      },
      Some(s"""WITH t AS (
              |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
              |    SELECT doc_id,
              |      [array_to_string(toks[i:i+2], ' ')
              |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
              |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
              |          FROM ($docsWithDups)))),
              |sig AS (
              |  SELECT doc_id,
              |    min(substr(md5(tok), 1, 8)) AS sig1, min(substr(md5(tok), 9, 8)) AS sig2,
              |    min(substr(md5(tok), 17, 8)) AS sig3, min(substr(md5(tok), 25, 8)) AS sig4
              |  FROM t
              |  GROUP BY 1),
              |b AS (
              |  SELECT doc_id, 0 AS band, md5(sig1 || sig2) AS bucket FROM sig
              |  UNION ALL
              |  SELECT doc_id, 1 AS band, md5(sig3 || sig4) AS bucket FROM sig)
              |SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
              |FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
              |WHERE l.doc_id < r.doc_id
              |ORDER BY id1, id2""".stripMargin)),

    // the end-to-end corpus dedup a curation user actually runs:
    // signatures → LSH candidates → transitive clusters → keep one doc
    // (min id) per cluster plus every unclustered doc. Composes the
    // oracle-gated pieces (q_lsh_candidates + q_dup_clusters) into the
    // "give me the deduplicated corpus" operation; the oracle recomputes
    // the whole chain with a recursive-CTE closure.
    QueryDef(
      "q_dedup_corpus",
      (s, d) => {
        val (corpus, clusters) = corpusAndClusters(s, d)
        // non-keeper cluster members (id != cluster label) drop out;
        // docs in no candidate pair never appear in `clusters` and stay
        val losers = clusters.where(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        corpus.join(losers, Seq("doc_id"), "left_anti")
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""$corpusClustersCte
              |SELECT doc_id FROM corpus
              |WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> cluster)
              |ORDER BY doc_id""".stripMargin)),

    // keep-BEST corpus dedup: same clusters, but the survivor of each
    // duplicate cluster is the member you'd actually keep in a training
    // corpus — the longest text (ties → lowest id) — rather than the
    // arbitrary min-id label. The survivor selection is a per-cluster
    // top-1 (row_number()==1), which the GroupTopKRewrite turns into the
    // heap operator: no per-cluster sort materializes. Differs from
    // q_dedup_corpus exactly on clusters whose members have unequal
    // lengths (real near-dups, not the injected exact copies) — so a
    // policy regression cannot hide behind the exact-dup majority.
    QueryDef(
      "q_dedup_keep_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (corpus, clusters) = corpusAndClusters(s, d)
        val withLen = corpus
          .select(col("doc_id"), length(col("text")).cast("long").as("doc_len"))
        val kept = clusters.join(withLen, col("id") === col("doc_id"))
          .withColumn("rn", row_number().over(Window.partitionBy("cluster")
            .orderBy(col("doc_len").desc, col("doc_id"))))
          .where(col("rn") === 1)
          .select("doc_id", "doc_len")
        val unclustered = withLen
          .join(clusters.select("id"), col("doc_id") === col("id"), "left_anti")
          .select("doc_id", "doc_len")
        kept.unionByName(unclustered).orderBy("doc_id")
      },
      Some(s"""$corpusClustersCte
              |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len FROM (
              |  SELECT c.doc_id, length(c.text) AS doc_len,
              |    row_number() OVER (PARTITION BY lab.cluster
              |      ORDER BY length(c.text) DESC, c.doc_id) AS rn
              |  FROM lab JOIN corpus c ON lab.id = c.doc_id) WHERE rn = 1
              |UNION ALL
              |SELECT doc_id, CAST(length(text) AS BIGINT) AS doc_len FROM corpus
              |WHERE doc_id NOT IN (SELECT id FROM lab)
              |ORDER BY doc_id""".stripMargin)),

    // dataset-card duplication metric: per-source document counts, how
    // many are cluster losers (would drop in dedup), and the dup rate —
    // the number a corpus curator actually reports. Joins the cluster
    // labels back to the REAL documents only (injected ids carry no
    // source); one broadcast-sized join + one grouped aggregate on top of
    // the chain.
    QueryDef(
      "q_dup_stats_by_source",
      (s, d) => {
        val (_, clusters) = corpusAndClusters(s, d)
        val losers = clusters.where(col("id") =!= col("cluster"))
          .select(col("id").as("l_id"))
        Tables.documents(s, d).select("doc_id", "source")
          .join(losers, col("doc_id") === col("l_id"), "left_outer")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(col("l_id")).as("n_dup"))
          .withColumn("dup_rate",
            round(col("n_dup").cast("double") / col("n_docs"), 4))
          .orderBy("source")
      },
      Some(s"""$corpusClustersCte,
              |losers AS (SELECT id FROM lab WHERE id <> cluster)
              |SELECT source, count(*) AS n_docs,
              |  CAST(count(losers.id) AS BIGINT) AS n_dup,
              |  round(CAST(count(losers.id) AS DOUBLE) / count(*), 4) AS dup_rate
              |FROM documents LEFT OUTER JOIN losers ON doc_id = losers.id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SOFT dedup (SlimPajama-style down-weighting): instead of DROPPING
    // near-dup losers, give every document a sampling weight 1/family —
    // a family of 4 near-copies contributes one document's worth of
    // expected tokens, spread over the variants. The complement of
    // q_dedup_keep_best on the same cluster chain: curators choose drop
    // or down-weight per corpus, so the engine offers both from one CC
    // labeling. Exact integer micros (1e6 div family size) — no FP, no
    // rounding divergence. One count over the labels + one label-keyed
    // left join against the real documents.
    QueryDef(
      "q_dup_weights",
      (s, d) => {
        val (_, clusters) = corpusAndClusters(s, d)
        val fam = clusters.groupBy("cluster").agg(count(lit(1)).as("fam_n"))
        Tables.documents(s, d).select("doc_id")
          .join(clusters, col("doc_id") === col("id"), "left_outer")
          .join(fam, Seq("cluster"), "left_outer")
          .select(col("doc_id"), coalesce(col("fam_n"), lit(1L)).as("fam_n"))
          .withColumn("weight_micro", expr("1000000 div fam_n"))
          .orderBy("doc_id")
      },
      Some(s"""$corpusClustersCte,
              |fam AS (SELECT cluster, count(*) AS fam_n FROM lab GROUP BY 1)
              |SELECT d.doc_id,
              |  CAST(coalesce(fam.fam_n, 1) AS BIGINT) AS fam_n,
              |  CAST(1000000 // coalesce(fam.fam_n, 1) AS BIGINT) AS weight_micro
              |FROM documents d
              |LEFT JOIN lab ON lab.id = d.doc_id
              |LEFT JOIN fam USING (cluster)
              |ORDER BY doc_id""".stripMargin)),

    // incremental dedup — [[dedupAgainstIndex]] as a declared query. The
    // corpus splits into an established base (doc_id % 5 ≠ 0) whose LSH
    // index is the only thing the batch touches, and a new batch
    // (doc_id % 5 = 0) salted with two dup classes: exact copies of base
    // docs (must drop via the index hit) and exact copies of batch docs
    // (must drop via the batch-internal cluster, keeping the min id).
    // The oracle recomputes the whole chain; at 100 TB the base side of
    // this plan is an index READ, not a corpus scan — that asymmetry is
    // the operator's reason to exist, so the base index is a published
    // artifact ([[incrementalBaseIndex]]) and the declared query times
    // only the probe path.
    QueryDef(
      "q_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val base = docs.where(col("doc_id") % 5 =!= 0)
        val batch = docs.where(col("doc_id") % 5 === 0)
          .unionByName(base.where(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
          .unionByName(docs.where(col("doc_id") % 15 === 0)
            .select((col("doc_id") + 200000).as("doc_id"), col("text")))
        dedupAgainstIndex(batch, incrementalBaseIndex(s, d), "doc_id", 4, 2)
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
              |base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
              |batch AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
              |  UNION ALL
              |  SELECT doc_id + 100000, text FROM documents
              |  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
              |  UNION ALL
              |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 15 = 0),
              |allt AS (SELECT * FROM base UNION ALL SELECT * FROM batch),
              |t AS (SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
              |    SELECT doc_id,
              |      [array_to_string(toks[i:i+2], ' ')
              |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
              |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM allt))),
              |sig AS (SELECT doc_id,
              |    min(substr(md5(tok), 1, 8)) AS s1, min(substr(md5(tok), 9, 8)) AS s2,
              |    min(substr(md5(tok), 17, 8)) AS s3, min(substr(md5(tok), 25, 8)) AS s4
              |  FROM t GROUP BY 1),
              |b AS (SELECT doc_id, 0 AS band, md5(s1 || s2) AS bucket FROM sig
              |      UNION ALL SELECT doc_id, 1 AS band, md5(s3 || s4) FROM sig),
              |basehit AS (SELECT DISTINCT bb.doc_id FROM b bb
              |            JOIN b ib ON ib.band = bb.band AND ib.bucket = bb.bucket
              |            WHERE bb.doc_id IN (SELECT doc_id FROM batch)
              |              AND ib.doc_id IN (SELECT doc_id FROM base)),
              |fresh AS (SELECT doc_id FROM batch
              |          WHERE doc_id NOT IN (SELECT doc_id FROM basehit)),
              |p AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
              |      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
              |      WHERE l.doc_id < r.doc_id
              |        AND l.doc_id IN (SELECT doc_id FROM fresh)
              |        AND r.doc_id IN (SELECT doc_id FROM fresh)),
              |e AS (SELECT id1, id2 FROM p UNION SELECT id2, id1 FROM p),
              |reach(id, r) AS (
              |  SELECT id1, id1 FROM e
              |  UNION
              |  SELECT e.id1, reach.r FROM e JOIN reach ON reach.id = e.id2),
              |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1)
              |SELECT doc_id FROM fresh
              |WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> cluster)
              |ORDER BY doc_id""".stripMargin)),

    // oracled dedup quality gate, mirroring q_ann_recall for the text
    // path: candidate recall of banded MinHash-LSH against ground-truth
    // high-Jaccard pairs (all-pairs shingle Jaccard on a bounded subset —
    // ground truth is only computable exhaustively, so the gate runs on a
    // slice; the LSH path itself is unchanged from q_lsh_candidates).
    // md5-derived MinHash is deterministic, so recall is an exact,
    // engine-portable number, not a seed-dependent estimate.
    QueryDef(
      "q_lsh_recall",
      (s, d) => {
        val docs = Tables.documents(s, d).where(col("doc_id") < 50)
          .select("doc_id", "text")
        val dups = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val corpus = docs.unionByName(dups)
        val toks = corpus.select(col("doc_id"),
          explode(shingles(col("text"), 3)).as("tok")).distinct()
        val truth = jaccardPairs(toks, "doc_id", broadcastTokens = true)
          .where(col("jaccard") >= 0.5).select("id1", "id2")
        val cand = lshCandidates(
          minhashSignature(corpus, "doc_id", "text", 4, shingleN = 3),
          "doc_id", 4, 2)
        val found = truth.join(cand, Seq("id1", "id2"), "left_semi")
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(found.agg(count(lit(1)).as("n_found")))
          .select(col("n_true"), col("n_found"),
            round(col("n_found").cast("double") / col("n_true"), 4).as("recall"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |  WHERE doc_id % 10 = 0 AND doc_id < 50),
             |t AS (SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus))),
             |c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
             |          FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |truth AS (SELECT id1, id2 FROM inter
             |          JOIN c ca ON ca.doc_id = id1 JOIN c cb ON cb.doc_id = id2
             |          WHERE round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) >= 0.5),
             |sig AS (SELECT doc_id,
             |    min(substr(md5(tok), 1, 8)) AS s1, min(substr(md5(tok), 9, 8)) AS s2,
             |    min(substr(md5(tok), 17, 8)) AS s3, min(substr(md5(tok), 25, 8)) AS s4
             |  FROM t GROUP BY 1),
             |b AS (SELECT doc_id, md5(s1 || s2) AS bucket FROM sig
             |      UNION ALL SELECT doc_id, md5(s3 || s4) FROM sig),
             |cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
             |         FROM b l JOIN b r USING (bucket) WHERE l.doc_id < r.doc_id)
             |SELECT (SELECT count(*) FROM truth) AS n_true,
             |  (SELECT count(*) FROM truth JOIN cand USING (id1, id2)) AS n_found,
             |  round(CAST((SELECT count(*) FROM truth JOIN cand USING (id1, id2)) AS DOUBLE)
             |    / (SELECT count(*) FROM truth), 4) AS recall""".stripMargin)),

    // EXACT set-similarity join with prefix filtering (the AllPairs /
    // PPJoin family — Bayardo et al. WWW'07): find every doc pair with
    // token-set Jaccard ≥ 0.9, exactly, without LSH's probabilistic miss
    // and without the all-pairs token join. The filter: order each doc's
    // tokens by GLOBAL rarity (df asc, token asc — rare first) and keep
    // only the first n − ceil(τ·n) + 1 as its prefix (≈ n/10 + 1 tokens
    // at τ = 0.9); any pair with J ≥ τ must share a prefix token, so the
    // candidate join runs over short rare-token prefixes, then candidates
    // verify with an exact intersection count. The threshold compares in
    // pure integers (J ≥ 9/10 ⟺ 19·i ≥ 9·(n1+n2)) — no float boundary
    // can disagree between engines. The ORACLE computes ground truth with
    // NO prefix filter, so the hash match also proves the filter's
    // completeness guarantee held on this corpus. Shuffle law: token-df
    // aggregate + per-doc rank window + prefix equi-join + candidate
    // verify — every stage keyed, no stage quadratic in corpus size
    // (the prefix join is quadratic only within per-token groups, and
    // prefixes deliberately hold the RAREST tokens). τ prices the run:
    // at 0.6 on this heavily templated fixture 57% of ALL pairs qualify,
    // so output alone is Ω(n²); even at 0.9 the full sf0.1 fixture holds
    // ~1M true pairs — hence, like the other pair-listing queries
    // (q_ngram_jaccard, q_shingle_jaccard), the declared form runs on a
    // fixed id-slice (10%, so the slice scales with the corpus) and the
    // algorithm itself carries no bound. This query is the small-scale
    // EXACTNESS oracle; the bounded-output production form is
    // q_setsim_topk below.
    QueryDef(
      "q_setsim_join",
      (s, d) => {
        // explicit scope guard (the [[Similarity.FixedKnnMaxN]] pattern):
        // a pair LISTER cannot be capped without forfeiting the exactness
        // contract the oracle verifies, so past the declared bound it
        // fails fast naming the bounded-output production form instead
        // of emitting an Ω(n²)·density pair list. The guard rides the
        // declared plan as an assertion column (setsimScopeGuard) — no
        // separate eager count action; the query stays one job.
        val docs = setsimScopeGuard(
          Tables.documents(s, d).where(col("doc_id") % 10 === 0))
        val t = explodeTokens(docs, "doc_id", "text")
        val tokDf = t.groupBy("tok").agg(count(lit(1)).as("tok_df"))
        val ranked = t.join(tokDf, "tok")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id").orderBy("tok_df", "tok")))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
        val prefix = ranked
          .where(col("rn") <= col("n") - expr("(9 * n + 9) div 10") + 1)
          .select("doc_id", "tok")
        val cand = prefix.select(col("doc_id").as("id1"), col("tok"))
          .join(prefix.select(col("doc_id").as("id2"), col("tok")), "tok")
          .where(col("id1") < col("id2"))
          .select("id1", "id2").distinct()
        val inter = cand
          .join(t.select(col("doc_id").as("id1"), col("tok")), "id1")
          .join(t.select(col("doc_id").as("id2"), col("tok")), Seq("id2", "tok"))
          .groupBy("id1", "id2").agg(count(lit(1)).as("i"))
        val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
        inter
          .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
          .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
          .where(col("i") * 19 >= (col("n1") + col("n2")) * 9)
          .select(col("id1"), col("id2"), col("i"),
            (col("n1") + col("n2") - col("i")).as("u"))
          .orderBy("id1", "id2")
      },
      Some("""WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             |           FROM documents WHERE doc_id % 10 = 0),
             |n AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
             |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             |    CAST(count(*) AS BIGINT) AS i
             |  FROM t a JOIN t b USING (tok) WHERE a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT i.id1, i.id2, i.i,
             |  CAST(a.n + b.n - i.i AS BIGINT) AS u
             |FROM i JOIN n a ON a.doc_id = i.id1 JOIN n b ON b.doc_id = i.id2
             |WHERE 19 * i.i >= 9 * (a.n + b.n)
             |ORDER BY id1, id2""".stripMargin)),

    // BOUNDED-OUTPUT set-similarity: per-document best match (top-1 by
    // token-set Jaccard) — the production form of q_setsim_join. A pair
    // LISTER's output is Ω(n²)·density on a near-dup-dense corpus (the
    // 10× probe measured 102× growth), but a curation pipeline doesn't
    // consume pair lists; it asks "what is this document's closest
    // sibling?". Contract: candidates come from the SAME deterministic
    // one-permutation MinHash-LSH banding as q_lsh_candidates (k=4
    // signature slices, 2 bands), and within each bucket every member
    // pairs only with the bucket's 9 smallest-id members — a per-bucket
    // seed cap that makes candidate count ≤ 18 per doc, so compute AND
    // output are O(n) regardless of duplicate-family size (an m-doc dup
    // family emits ≤ 9m candidate pairs, not m²/2). Candidates then
    // verify with EXACT intersection counts; the integer guard
    // 3i ≥ n1+n2 ⟺ J ≥ 0.5 admits no float boundary, and the top-1 rank
    // orders on the ROUNDED jaccard (both engines compute the identical
    // double from identical integers) with partner-id tie-break. The
    // oracle replicates the signature + cap byte-for-byte, so the hash
    // match pins candidate generation, verification, and selection.
    // Shuffle law: signature is a shuffle-free projection; one exchange
    // on (band,bucket) for seeds + candidates; verify joins keyed on
    // doc id; final window partitions by doc over ≤18 rows each.
    QueryDef(
      "q_setsim_topk",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val t = explodeTokens(docs, "doc_id", "text")
        val sig = minhashSignature(docs, "doc_id", "text", 4)
        val b = lshBuckets(sig, "doc_id", 4, 2)
          .repartition(col("band"), col("bucket"))
        val seeds = b
          .withColumn("rn", row_number().over(
            w.partitionBy("band", "bucket").orderBy("doc_id")))
          .where(col("rn") <= 9)
          .select(col("doc_id").as("partner"), col("band"), col("bucket"))
        val cand = b.join(seeds, Seq("band", "bucket"))
          .where(col("partner") =!= col("doc_id"))
          .select(col("doc_id").as("id"), col("partner")).distinct()
        val inter = cand
          .join(t.select(col("doc_id").as("id"), col("tok")), "id")
          .join(t.select(col("doc_id").as("partner"), col("tok")),
            Seq("partner", "tok"))
          .groupBy("id", "partner").agg(count(lit(1)).as("i"))
        val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val scored = inter
          .join(sizes.select(col("doc_id").as("id"), col("n").as("n1")), "id")
          .join(sizes.select(col("doc_id").as("partner"), col("n").as("n2")),
            "partner")
          .where(col("i") * 3 >= col("n1") + col("n2"))
          .withColumn("u", col("n1") + col("n2") - col("i"))
          .withColumn("jaccard", round(col("i").cast("double") / col("u"), 4))
        scored
          .withColumn("rn", row_number().over(
            w.partitionBy("id").orderBy(col("jaccard").desc, col("partner"))))
          .where(col("rn") === 1)
          .select(col("id").as("doc_id"), col("partner").as("match_id"),
            col("i"), col("u"), col("jaccard"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             |           FROM documents),
             |sig AS (SELECT doc_id,
             |    min(substr(md5(tok), 1, 8)) AS s1, min(substr(md5(tok), 9, 8)) AS s2,
             |    min(substr(md5(tok), 17, 8)) AS s3, min(substr(md5(tok), 25, 8)) AS s4
             |  FROM t GROUP BY 1),
             |b AS (SELECT doc_id, 0 AS band, md5(s1 || s2) AS bucket FROM sig
             |      UNION ALL SELECT doc_id, 1, md5(s3 || s4) FROM sig),
             |seed AS (SELECT doc_id, band, bucket,
             |    row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
             |  FROM b),
             |cand AS (SELECT DISTINCT m.doc_id AS id, s.doc_id AS partner
             |  FROM b m JOIN seed s USING (band, bucket)
             |  WHERE s.rn <= 9 AND s.doc_id <> m.doc_id),
             |n AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
             |i AS (SELECT c.id, c.partner, CAST(count(*) AS BIGINT) AS i
             |  FROM cand c JOIN t a ON a.doc_id = c.id
             |  JOIN t b2 ON b2.doc_id = c.partner AND b2.tok = a.tok
             |  GROUP BY 1, 2),
             |scored AS (SELECT i.id, i.partner, i.i,
             |    CAST(na.n + nb.n - i.i AS BIGINT) AS u,
             |    round(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 4) AS jaccard
             |  FROM i JOIN n na ON na.doc_id = i.id
             |  JOIN n nb ON nb.doc_id = i.partner
             |  WHERE 3 * i.i >= na.n + nb.n),
             |best AS (SELECT *, row_number()
             |    OVER (PARTITION BY id ORDER BY jaccard DESC, partner) AS rn
             |  FROM scored)
             |SELECT id AS doc_id, partner AS match_id, i, u, jaccard
             |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // token-set Jaccard over a bounded pair set (the all-pairs form is for
    // verification only; at scale pairs come from lshCandidates)
    QueryDef(
      "q_ngram_jaccard",
      (s, d) => jaccardPairs(
        explodeTokens(Tables.documents(s, d).where(col("doc_id") < 20), "doc_id", "text"),
        "doc_id", broadcastTokens = true).orderBy("id1", "id2"),
      Some("""WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             |           FROM documents WHERE doc_id < 20),
             |c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
             |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
             |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT id1, id2,
             |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
             |FROM i JOIN c ca ON ca.doc_id = id1 JOIN c cb ON cb.doc_id = id2
             |ORDER BY id1, id2""".stripMargin)),

    // LSH candidate PRECISION — the cost axis next to q_lsh_recall's
    // quality axis: of the pairs the banded index surfaces, how many are
    // REAL duplicates (exact shingle Jaccard ≥ 0.5)? Precision is what
    // prices the verification stage at scale (every false candidate is a
    // wasted exact-Jaccard computation); recall and precision together
    // are the two dials band geometry trades. Exact Jaccard runs ONLY on
    // the candidate pairs (work ∝ candidates, the whole point of the
    // index), integer-micro so the threshold can't drift cross-engine.
    QueryDef(
      "q_lsh_precision",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dups = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val corpus = docs.unionByName(dups)
        val sig = minhashSignature(corpus, "doc_id", "text", 4, shingleN = 3)
        val cand = lshCandidates(sig, "doc_id", 4, 2)
        val toks = corpus.select(col("doc_id"),
          explode(shingles(col("text"), 3)).as("tok"))
        val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(toks.select(col("doc_id").as("id1"), col("tok")), "id1")
          .join(toks.select(col("doc_id").as("id2"), col("tok")), Seq("id2", "tok"))
          .groupBy("id1", "id2").agg(count(lit(1)).as("i"))
        val scored = cand
          .join(inter, Seq("id1", "id2"), "left")
          .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
          .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
          .select(expr("(coalesce(i, CAST(0 AS BIGINT)) * CAST(1000000 AS BIGINT)) " +
            "div (n1 + n2 - coalesce(i, CAST(0 AS BIGINT)))").as("jacc_micro"))
        scored.agg(count(lit(1)).as("candidates"),
          count(when(col("jacc_micro") >= 500000, 1)).as("true_pairs"),
          expr("(count(CASE WHEN jacc_micro >= 500000 THEN 1 END) * CAST(1000000 AS BIGINT)) div count(1)")
            .as("precision_micro"))
      },
      Some(s"""WITH t AS (
              |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
              |    SELECT doc_id,
              |      [array_to_string(toks[i:i+2], ' ')
              |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
              |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
              |          FROM ($docsWithDups)))),
              |sig AS (
              |  SELECT doc_id,
              |    min(substr(md5(tok), 1, 8)) AS sig1, min(substr(md5(tok), 9, 8)) AS sig2,
              |    min(substr(md5(tok), 17, 8)) AS sig3, min(substr(md5(tok), 25, 8)) AS sig4
              |  FROM t GROUP BY 1),
              |b AS (
              |  SELECT doc_id, 0 AS band, md5(sig1 || sig2) AS bucket FROM sig
              |  UNION ALL
              |  SELECT doc_id, 1 AS band, md5(sig3 || sig4) AS bucket FROM sig),
              |cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
              |         FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
              |         WHERE l.doc_id < r.doc_id),
              |c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
              |i AS (SELECT cd.id1, cd.id2, count(*) AS i
              |      FROM cand cd JOIN t a ON a.doc_id = cd.id1
              |                   JOIN t b2 ON b2.doc_id = cd.id2 AND b2.tok = a.tok
              |      GROUP BY 1, 2),
              |sc AS (SELECT (coalesce(i.i, 0) * 1000000)
              |         // (ca.n + cb.n - coalesce(i.i, 0)) AS jacc_micro
              |       FROM cand cd
              |       LEFT JOIN i ON i.id1 = cd.id1 AND i.id2 = cd.id2
              |       JOIN c ca ON ca.doc_id = cd.id1
              |       JOIN c cb ON cb.doc_id = cd.id2)
              |SELECT count(*) AS candidates,
              |  CAST(count(*) FILTER (jacc_micro >= 500000) AS BIGINT) AS true_pairs,
              |  CAST((count(*) FILTER (jacc_micro >= 500000) * 1000000) // count(*) AS BIGINT)
              |    AS precision_micro
              |FROM sc""".stripMargin)),

    // shingle document-frequency profile — the dedup-side hub report
    // (q_knn_degree's analogue for the MinHash index): how many shingles
    // appear in 1, 2, …, 10+ documents, with the posting mass each band
    // carries. High-df "stop shingles" are what blow up LSH bucket
    // occupancy; production pipelines cap df before banding, and this
    // histogram is the number that decision reads. One scan, two
    // map-combined aggregates, shuffle ∝ distinct shingles.
    QueryDef(
      "q_shingle_df_profile",
      (s, d) => {
        val df = Tables.documents(s, d)
          .select(col("doc_id"), explode(shingles(col("text"), 3)).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
        df.groupBy(least(col("df"), lit(10L)).as("df_band"))
          .agg(count(lit(1)).as("shingles"), sum("df").as("postings"))
          .orderBy("df_band")
      },
      Some("""WITH t AS (
             |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
             |df AS (SELECT tok, count(*) AS df FROM t GROUP BY 1)
             |SELECT least(df, 10) AS df_band, count(*) AS shingles,
             |  CAST(sum(df) AS BIGINT) AS postings
             |FROM df GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MinHash ESTIMATOR accuracy: on the candidate pairs, compare the
    // k=4 signature-agreement Jaccard estimate (matching slices × 1/k)
    // against the exact shingle Jaccard — mean and max absolute error.
    // This is the measurement that justifies (or indicts) a signature
    // width: 4 slices quantize the estimate to 1/4 steps, so the gate
    // reports ~0.04 mean error on the fixture corpus and a production
    // pipeline re-runs it to size k. All scoring ∝ candidates.
    QueryDef(
      "q_minhash_accuracy",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dups = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val corpus = docs.unionByName(dups)
        val sig = minhashSignature(corpus, "doc_id", "text", 4, shingleN = 3)
        val cand = lshCandidates(sig, "doc_id", 4, 2)
        val toks = corpus.select(col("doc_id"),
          explode(shingles(col("text"), 3)).as("tok"))
        val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(toks.select(col("doc_id").as("id1"), col("tok")), "id1")
          .join(toks.select(col("doc_id").as("id2"), col("tok")), Seq("id2", "tok"))
          .groupBy("id1", "id2").agg(count(lit(1)).as("i"))
        val exact = cand
          .join(inter, Seq("id1", "id2"), "left")
          .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
          .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
          .select(col("id1"), col("id2"),
            expr("(coalesce(i, CAST(0 AS BIGINT)) * CAST(1000000 AS BIGINT)) " +
              "div (n1 + n2 - coalesce(i, CAST(0 AS BIGINT)))").as("jacc_micro"))
        val est = cand
          .join(sig.select(col("doc_id").as("id1"), col("sig1").as("a1"),
            col("sig2").as("a2"), col("sig3").as("a3"), col("sig4").as("a4")), "id1")
          .join(sig.select(col("doc_id").as("id2"), col("sig1").as("b1"),
            col("sig2").as("b2"), col("sig3").as("b3"), col("sig4").as("b4")), "id2")
          .select(col("id1"), col("id2"),
            ((when(col("a1") === col("b1"), 1).otherwise(0) +
              when(col("a2") === col("b2"), 1).otherwise(0) +
              when(col("a3") === col("b3"), 1).otherwise(0) +
              when(col("a4") === col("b4"), 1).otherwise(0)) * lit(250000))
              .cast("long").as("est_micro"))
        exact.join(est, Seq("id1", "id2"))
          .select(abs(col("est_micro") - col("jacc_micro")).as("err"))
          .agg(count(lit(1)).as("pairs"),
            expr("sum(err) div count(1)").as("mae_micro"),
            max("err").as("max_err_micro"))
      },
      Some(s"""WITH t AS (
              |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
              |    SELECT doc_id,
              |      [array_to_string(toks[i:i+2], ' ')
              |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
              |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
              |          FROM ($docsWithDups)))),
              |sig AS (
              |  SELECT doc_id,
              |    min(substr(md5(tok), 1, 8)) AS sig1, min(substr(md5(tok), 9, 8)) AS sig2,
              |    min(substr(md5(tok), 17, 8)) AS sig3, min(substr(md5(tok), 25, 8)) AS sig4
              |  FROM t GROUP BY 1),
              |b AS (
              |  SELECT doc_id, 0 AS band, md5(sig1 || sig2) AS bucket FROM sig
              |  UNION ALL
              |  SELECT doc_id, 1 AS band, md5(sig3 || sig4) AS bucket FROM sig),
              |cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
              |         FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
              |         WHERE l.doc_id < r.doc_id),
              |c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
              |i AS (SELECT cd.id1, cd.id2, count(*) AS i
              |      FROM cand cd JOIN t a ON a.doc_id = cd.id1
              |                   JOIN t b2 ON b2.doc_id = cd.id2 AND b2.tok = a.tok
              |      GROUP BY 1, 2),
              |sc AS (SELECT cd.id1, cd.id2, (coalesce(i.i, 0) * 1000000)
              |         // (ca.n + cb.n - coalesce(i.i, 0)) AS jacc_micro
              |       FROM cand cd
              |       LEFT JOIN i ON i.id1 = cd.id1 AND i.id2 = cd.id2
              |       JOIN c ca ON ca.doc_id = cd.id1
              |       JOIN c cb ON cb.doc_id = cd.id2),
              |est AS (SELECT cd.id1, cd.id2,
              |          ((CASE WHEN s1.sig1 = s2.sig1 THEN 1 ELSE 0 END) +
              |           (CASE WHEN s1.sig2 = s2.sig2 THEN 1 ELSE 0 END) +
              |           (CASE WHEN s1.sig3 = s2.sig3 THEN 1 ELSE 0 END) +
              |           (CASE WHEN s1.sig4 = s2.sig4 THEN 1 ELSE 0 END)) * 250000 AS est_micro
              |        FROM cand cd JOIN sig s1 ON s1.doc_id = cd.id1
              |                     JOIN sig s2 ON s2.doc_id = cd.id2)
              |SELECT count(*) AS pairs,
              |  CAST(sum(abs(e.est_micro - sc.jacc_micro)) // count(*) AS BIGINT) AS mae_micro,
              |  CAST(max(abs(e.est_micro - sc.jacc_micro)) AS BIGINT) AS max_err_micro
              |FROM sc JOIN est e ON e.id1 = sc.id1 AND e.id2 = sc.id2""".stripMargin)),

    // duplicate-family-size histogram — the dataset-card shape of the
    // corpus's duplication: how many families of 2, 3, … near-identical
    // docs exist and how much of the corpus they hold. Same CC labels
    // the dedup/keep-best/soft-weight queries consume; two map-combined
    // aggregates after the (already linear) clustering chain.
    QueryDef(
      "q_dup_family_sizes",
      (s, d) => {
        val (corpus, clusters) = corpusAndClusters(s, d)
        val fam = corpus.select("doc_id")
          .join(clusters.select(col("id").as("doc_id"), col("cluster")),
            Seq("doc_id"), "left")
          .select(coalesce(col("cluster"), col("doc_id")).as("family"))
        fam.groupBy("family").agg(count(lit(1)).as("members"))
          .groupBy("members").agg(count(lit(1)).as("families"))
          .select(col("members").as("family_size"), col("families"),
            (col("members") * col("families")).as("docs"))
          .orderBy("family_size")
      },
      Some(s"""${corpusClustersCte},
              |fam AS (SELECT c.doc_id, coalesce(l.cluster, c.doc_id) AS family
              |        FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id),
              |sz AS (SELECT family, count(*) AS members FROM fam GROUP BY 1)
              |SELECT members AS family_size, count(*) AS families,
              |  CAST(members * count(*) AS BIGINT) AS docs
              |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin)),

    // duplicate-family source PURITY: the fraction of near-dup families
    // whose members all come from ONE source — the number that decides
    // whether dedup can run per-source (embarrassingly parallel, no
    // cross-source shuffle) or must run globally. 0.67 on the fixtures:
    // a third of the families span sources, so per-source dedup would
    // silently keep cross-source copies. One grouped agg over the shared
    // CC labels joined to the source dimension.
    QueryDef(
      "q_family_purity",
      (s, d) => {
        val (corpus, clusters) = corpusAndClusters(s, d)
        val srcBase = Tables.documents(s, d).select("doc_id", "source")
        val src = srcBase.unionByName(
          srcBase.where(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000).as("doc_id"), col("source")))
        val fam = corpus.select("doc_id")
          .join(clusters.select(col("id").as("doc_id"), col("cluster")),
            Seq("doc_id"), "left")
          .join(src, "doc_id")
          .select(coalesce(col("cluster"), col("doc_id")).as("family"),
            col("source"))
        fam.groupBy("family")
          .agg(count(lit(1)).as("members"), countDistinct("source").as("n_src"))
          .where(col("members") > 1)
          .agg(count(lit(1)).as("families"),
            count(when(col("n_src") === 1, 1)).as("single_source"),
            expr("(count(CASE WHEN n_src = 1 THEN 1 END) * CAST(1000000 AS BIGINT)) div count(1)")
              .as("purity_micro"))
      },
      Some(s"""${corpusClustersCte},
              |src AS (SELECT doc_id, source FROM documents
              |        UNION ALL
              |        SELECT doc_id + 100000, source FROM documents WHERE doc_id % 10 = 0),
              |fam AS (SELECT coalesce(l.cluster, c.doc_id) AS family, s.source
              |        FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id
              |        JOIN src s ON s.doc_id = c.doc_id),
              |per AS (SELECT family, count(*) AS members, count(DISTINCT source) AS n_src
              |        FROM fam GROUP BY 1 HAVING count(*) > 1)
              |SELECT count(*) AS families,
              |  CAST(count(CASE WHEN n_src = 1 THEN 1 END) AS BIGINT) AS single_source,
              |  CAST((count(CASE WHEN n_src = 1 THEN 1 END) * 1000000) // count(*) AS BIGINT)
              |    AS purity_micro
              |FROM per""".stripMargin)),

    // LSH bucket-OCCUPANCY capacity report: per band, bucket count, max
    // and mean occupancy, and the exact candidate-pair load Σ occ·(occ−1)/2
    // — the numbers a band-shape decision is actually made on (the 100×
    // kNN wall documented in BENCH.md is this pair column going
    // quadratic; here it's measured per build instead of discovered as a
    // disk-filling spill). Runs on the same banding q_lsh_candidates
    // joins on; everything after the per-bucket count is bounded by the
    // band count.
    QueryDef(
      "q_bucket_occupancy",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dups = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val sig = minhashSignature(docs.unionByName(dups), "doc_id", "text", 4,
          shingleN = 3)
        val occ = lshBuckets(sig, "doc_id", 4, 2)
          .groupBy("band", "bucket").agg(count(lit(1)).as("occ"))
        occ.groupBy("band")
          .agg(count(lit(1)).as("buckets"), sum("occ").as("docs"),
            max("occ").as("max_occ"),
            expr("(sum(occ) * CAST(1000000 AS BIGINT)) div count(1)")
              .as("avg_occ_micro"),
            sum(expr("occ * (occ - 1) div 2")).as("candidate_pairs"))
          .orderBy("band")
      },
      Some(s"""WITH t AS (
              |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
              |    SELECT doc_id,
              |      [array_to_string(toks[i:i+2], ' ')
              |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
              |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
              |          FROM ($docsWithDups)))),
              |sig AS (SELECT doc_id,
              |    min(substr(md5(tok), 1, 8)) AS s1, min(substr(md5(tok), 9, 8)) AS s2,
              |    min(substr(md5(tok), 17, 8)) AS s3, min(substr(md5(tok), 25, 8)) AS s4
              |  FROM t GROUP BY 1),
              |b AS (SELECT doc_id, 0 AS band, md5(s1 || s2) AS bucket FROM sig
              |      UNION ALL SELECT doc_id, 1, md5(s3 || s4) FROM sig),
              |occ AS (SELECT band, bucket, count(*) AS occ FROM b GROUP BY 1, 2)
              |SELECT band, count(*) AS buckets, CAST(sum(occ) AS BIGINT) AS docs,
              |  CAST(max(occ) AS BIGINT) AS max_occ,
              |  CAST((sum(occ) * 1000000) // count(*) AS BIGINT) AS avg_occ_micro,
              |  CAST(sum(occ * (occ - 1) // 2) AS BIGINT) AS candidate_pairs
              |FROM occ GROUP BY 1 ORDER BY 1""".stripMargin)),

    // cross-source duplicate FLOW: candidate near-dup pairs grouped by
    // (source, source) — which feeds copy from each other, and how much
    // of each source's duplication is internal (the diagonal). The
    // directional sibling of q_source_overlap's corpus-level Jaccard:
    // overlap says "40% the same data", this says which pairs carry it.
    // Sources join onto the (already bounded) candidate set; top-15 by
    // pair count with a total order under the cut.
    QueryDef(
      "q_dup_source_flow",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dups = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val corpus = docs.unionByName(dups)
        val sig = minhashSignature(corpus, "doc_id", "text", 4, shingleN = 3)
        val cand = lshCandidates(sig, "doc_id", 4, 2)
        val srcBase = Tables.documents(s, d).select("doc_id", "source")
        val src = srcBase.unionByName(
          srcBase.where(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000).as("doc_id"), col("source")))
        cand
          .join(src.select(col("doc_id").as("id1"), col("source").as("sa")), "id1")
          .join(src.select(col("doc_id").as("id2"), col("source").as("sb")), "id2")
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("dup_pairs"))
          .orderBy(col("dup_pairs").desc, col("source_a"), col("source_b"))
          .limit(15)
      },
      Some(s"""WITH t AS (
              |  SELECT DISTINCT doc_id, unnest(sh) AS tok FROM (
              |    SELECT doc_id,
              |      [array_to_string(toks[i:i+2], ' ')
              |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS sh
              |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
              |          FROM ($docsWithDups)))),
              |sig AS (
              |  SELECT doc_id,
              |    min(substr(md5(tok), 1, 8)) AS sig1, min(substr(md5(tok), 9, 8)) AS sig2,
              |    min(substr(md5(tok), 17, 8)) AS sig3, min(substr(md5(tok), 25, 8)) AS sig4
              |  FROM t GROUP BY 1),
              |b AS (
              |  SELECT doc_id, 0 AS band, md5(sig1 || sig2) AS bucket FROM sig
              |  UNION ALL
              |  SELECT doc_id, 1 AS band, md5(sig3 || sig4) AS bucket FROM sig),
              |cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
              |         FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
              |         WHERE l.doc_id < r.doc_id),
              |src AS (SELECT doc_id, source FROM documents
              |        UNION ALL
              |        SELECT doc_id + 100000, source FROM documents WHERE doc_id % 10 = 0)
              |SELECT least(sa.source, sb.source) AS source_a,
              |       greatest(sa.source, sb.source) AS source_b,
              |       count(*) AS dup_pairs
              |FROM cand cd JOIN src sa ON sa.doc_id = cd.id1
              |             JOIN src sb ON sb.doc_id = cd.id2
              |GROUP BY 1, 2 ORDER BY dup_pairs DESC, 1, 2 LIMIT 15""".stripMargin)),

    // dedup SAVINGS summary — the one-row business case: total corpus
    // chars, chars the keep-best survivors retain (each family keeps its
    // longest member — max(len) per family, so no survivor selection pass
    // is needed for LENGTH accounting), and the saved fraction in micros.
    // Everything is exact integer arithmetic over the shared CC labels.
    QueryDef(
      "q_dedup_savings",
      (s, d) => {
        val (corpus, clusters) = corpusAndClusters(s, d)
        val fam = corpus
          .select(col("doc_id"), length(col("text")).cast("long").as("len"))
          .join(clusters.select(col("id").as("doc_id"), col("cluster")),
            Seq("doc_id"), "left")
          .select(coalesce(col("cluster"), col("doc_id")).as("family"), col("len"))
        val per = fam.groupBy("family")
          .agg(count(lit(1)).as("members"), sum("len").as("sum_len"),
            max("len").as("max_len"))
        per.agg(
          sum("members").as("docs"), count(lit(1)).as("families"),
          sum("sum_len").as("total_chars"), sum("max_len").as("kept_chars"),
          (sum("sum_len") - sum("max_len")).as("saved_chars"),
          expr("((sum(sum_len) - sum(max_len)) * CAST(1000000 AS BIGINT)) div sum(sum_len)")
            .as("saved_micro"))
      },
      Some(s"""${corpusClustersCte},
              |fam AS (SELECT coalesce(l.cluster, c.doc_id) AS family,
              |          CAST(length(c.text) AS BIGINT) AS len
              |        FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id),
              |per AS (SELECT family, count(*) AS members, sum(len) AS sum_len,
              |          max(len) AS max_len
              |        FROM fam GROUP BY 1)
              |SELECT CAST(sum(members) AS BIGINT) AS docs, count(*) AS families,
              |  CAST(sum(sum_len) AS BIGINT) AS total_chars,
              |  CAST(sum(max_len) AS BIGINT) AS kept_chars,
              |  CAST(sum(sum_len) - sum(max_len) AS BIGINT) AS saved_chars,
              |  CAST(((sum(sum_len) - sum(max_len)) * 1000000) // sum(sum_len) AS BIGINT)
              |    AS saved_micro
              |FROM per""".stripMargin))
  )
}
