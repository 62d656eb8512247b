package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions._

class DedupSpec extends ReleasesPins {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
    (3L, "alpha beta gamma delta zeta"), // near-dup of 1 (4/6 jaccard)
    (4L, "one two three four five")) // unrelated
    .toDF("doc_id", "text")

  test("minhash signatures: identical docs get identical signatures") {
    val sig = DedupOps.minhashSignature(docs, "doc_id", "text", 4)
      .orderBy("doc_id").collect()
    assert(sig.length == 4)
    assert(sig(0).toSeq.tail == sig(1).toSeq.tail) // docs 1,2 same sigs
    assert(sig(0).toSeq.tail != sig(3).toSeq.tail) // doc 4 differs
  }

  test("LSH candidates contain exact duplicates and not unrelated docs") {
    val sig = DedupOps.minhashSignature(docs, "doc_id", "text", 4)
    val cands = DedupOps.lshCandidates(sig, "doc_id", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("lshStarEdges: same connected components and labels as all-pairs candidates") {
    // synthetic corpus with duplicate families of size 1..6 — big enough
    // that star (m-1 edges) and clique (m(m-1)/2 pairs) genuinely differ
    val fam = (0 until 40).flatMap { f =>
      (0 to f % 6).map(i => (f * 100L + i, s"family $f shared text body tok$f"))
    }.toDF("doc_id", "text")
    val sig = DedupOps.minhashSignature(fam, "doc_id", "text", 4)
    val viaPairs = DedupOps.connectedComponents(
      DedupOps.lshCandidates(sig, "doc_id", 4, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStar = DedupOps.connectedComponents(
      DedupOps.lshStarEdges(sig, "doc_id", 4, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStar == viaPairs)
    // and the star edge count is linear in family size, not quadratic
    val nStar = DedupOps.lshStarEdges(sig, "doc_id", 4, 2).count()
    val nPairs = DedupOps.lshCandidates(sig, "doc_id", 4, 2).count()
    assert(nStar <= nPairs)
  }

  test("jaccardPairs computes exact token-set jaccard") {
    val toks = DedupOps.explodeTokens(docs, "doc_id", "text")
    val j = DedupOps.jaccardPairs(toks, "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) == round4(4.0 / 6.0))
    assert(!j.contains((1L, 4L))) // zero intersection → no pair emitted
  }

  test("simhash: identical docs equal, 8-char bitstring") {
    val sh = DedupOps.simhashBits(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh(0)._2 == sh(1)._2)
    assert(sh.forall(_._2.matches("[01]{8}")))
  }

  test("mlNearDupPairs (MinHashLSH) finds exact and near dups, skips unrelated") {
    val pairs = DedupOps.mlNearDupPairs(docs, "doc_id", "text", maxDistance = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0.0)) // exact dup, distance 0
    assert(pairs.contains((1L, 3L))) // near dup: jaccard 4/6 → distance ~0.333
    assert(pairs((1L, 3L)) == round4(1 - 4.0 / 6.0))
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("shingles produce ordered word n-grams; short texts degrade gracefully") {
    val df = Seq("a b c d", "x").toDF("text")
    val got = df.select(DedupOps.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("x"))
  }

  test("shingled MinHashLSH discriminates where unigram sets saturate") {
    // same token SET, different order → unigram distance 0, shingle distance > 0
    val perm = Seq(
      (1L, "a b c d e f g h"),
      (2L, "h g f e d c b a"))
      .toDF("doc_id", "text")
    val uni = DedupOps.mlNearDupPairs(perm, "doc_id", "text", 0.9, shingleN = 1)
      .collect().map(_.getDouble(2))
    val tri = DedupOps.mlNearDupPairs(perm, "doc_id", "text", 0.9, shingleN = 3)
      .collect().map(_.getDouble(2))
    assert(uni.headOption.contains(0.0))
    assert(tri.headOption.forall(_ > 0.9) || tri.isEmpty)
  }

  test("connectedComponents: chains merge transitively, islands stay apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: diameter > maxIter fails loudly") {
    // a 9-node chain needs 8 propagation rounds; cap at 2
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponentsStar: matches naive CC on pseudo-random graphs") {
    // deterministic LCG edge lists — varied shapes (sparse, dense-ish)
    // without seeding drift across runs
    var x = 12345L
    def nxt(mod: Long): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x % mod }
    for ((nodes, nEdges) <- Seq((30L, 15), (30L, 40), (60L, 90))) {
      val pairs = (1 to nEdges).map(_ => (nxt(nodes), nxt(nodes)))
        .filter { case (a, b) => a != b }.toDF("id1", "id2")
      val naive = DedupOps.connectedComponents(pairs, maxIter = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      val star = DedupOps.connectedComponentsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(star == naive, s"nodes=$nodes edges=$nEdges")
    }
  }

  test("connectedComponentsStar: diameter-100 chain converges in O(log n) rounds") {
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
    // naive min-label propagation would need ~100 rounds; the star
    // contraction's 25-round default is ample at ANY diameter
    val labels = DedupOps.connectedComponentsStar(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 101)
    assert(labels.forall(_._2 == 0L))
  }

  test("dedupAgainstIndex: index hits drop, batch-internal dups keep min id, unique rows survive") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"), // exact copy of base 1 → index hit
      (11L, "red orange yellow green blue"),   // new, duplicated in-batch
      (12L, "red orange yellow green blue"),   // in-batch dup of 11 → drops
      (13L, "lorem ipsum dolor sit amet"))     // new, unique
      .toDF("doc_id", "text")
    val index = DedupOps.lshBuckets(
      DedupOps.minhashSignature(base, "doc_id", "text", 4, shingleN = 3),
      "doc_id", 4, 2)
    val got = DedupOps.dedupAgainstIndex(batch, index, "doc_id", 4, 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L))
    // idempotence under index growth: append the accepted batch's buckets
    // and replay the same batch — everything now hits the index
    val grown = index.unionByName(DedupOps.lshBuckets(
      DedupOps.minhashSignature(batch.where(col("doc_id").isin(11L, 13L)),
        "doc_id", "text", 4, shingleN = 3), "doc_id", 4, 2))
    assert(DedupOps.dedupAgainstIndex(batch, grown, "doc_id", 4, 2).count() == 0L)
  }

  test("setsimScopeGuard: rows pass untouched under the bound, job fails loudly past it") {
    val ok = DedupOps.setsimScopeGuard(docs, maxDocs = 10L)
    assert(ok.columns.toSeq == docs.columns.toSeq,
      "guard must be invisible in the schema")
    assert(ok.count() == docs.count(),
      "guard dropped rows under the bound")
    // past the bound the SINGLE job raises (no separate count action)
    // and the error names the bounded production path
    val e = intercept[Exception] {
      DedupOps.setsimScopeGuard(docs, maxDocs = 2L).count()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(messages(e).contains("q_setsim_topk"),
      s"guard failure does not name the production path:\n${messages(e)}")
  }

  test("q_dup_spans: sequential-replay coverage law on the sf0.001 corpus") {
    // independent implementation (hash-map replay + explicit interval
    // merge over the collected corpus — bounded at sf0.001), the
    // AnalyticsInvariantSpec replay pattern: the declarative
    // fingerprint-agg/join/lag-island plan must equal a direct
    // sequential computation row for row, and the coverage laws
    // (dup_tokens ≤ n_tokens, longest ≤ total — spans are a disjoint
    // union) must hold on real data, not just the fixture slice.
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def gramsOf(t: String): Array[String] = {
      val toks = t.split(" ", -1)
      val m = math.max(toks.length - 7, 1)
      Array.tabulate(m)(i =>
        toks.slice(i, math.min(i + 8, toks.length)).mkString(" "))
    }
    val byGram = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.Set[Long]]
    for ((id, t) <- docs; g <- gramsOf(t).distinct)
      byGram.getOrElseUpdate(
        g, scala.collection.mutable.Set.empty[Long]) += id
    val expected = docs.flatMap { case (id, t) =>
      val dup = gramsOf(t).zipWithIndex.collect {
        case (g, p) if byGram(g).exists(_ != id) => p
      }
      if (dup.isEmpty) None
      else {
        var spans = List.empty[(Int, Int)] // (s0, e0), head = current
        for (p <- dup) spans = spans match {
          case (s0, e0) :: rest if p - e0 <= 7 => (s0, p) :: rest
          case _ => (p, p) :: spans
        }
        val n = t.split(" ", -1).length.toLong
        val cov = spans.map { case (s0, e0) => e0 - s0 + 8 }.sum.toLong
        val covMax = spans.map { case (s0, e0) => e0 - s0 + 8 }.max.toLong
        Some(id -> (n, spans.length.toLong, dup.length.toLong,
          math.min(cov, n), math.min(covMax, n)))
      }
    }.toMap
    val got = SparkEntry.queries("q_dup_spans")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got.nonEmpty,
      "fixture has no cross-doc duplicated 8-gram spans — capability untested")
    assert(got == expected)
    assert(got.forall { case (_, (n, _, _, cov, covMax)) =>
      cov <= n && covMax <= cov })
  }

  test("q_dup_span_cut: replay equality, map/apply consistency, and the keep-one-copy guarantee") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def gramsOf(t: String): Array[String] = {
      val toks = t.split(" ", -1)
      val m = math.max(toks.length - 7, 1)
      Array.tabulate(m)(i =>
        toks.slice(i, math.min(i + 8, toks.length)).mkString(" "))
    }
    val byGram = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.Set[Long]]
    for ((id, t) <- docs; g <- gramsOf(t).distinct)
      byGram.getOrElseUpdate(
        g, scala.collection.mutable.Set.empty[Long]) += id
    val owner = byGram.collect {
      case (g, ids) if ids.size > 1 => g -> ids.min
    }
    // sequential replay of the cut: position kept iff uncovered or some
    // covering duplicated window is owned by this doc
    val expected = docs.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val n = toks.length
      val anyOwned = Array.fill(n)(Option.empty[Boolean])
      for ((g, p) <- gramsOf(t).zipWithIndex if owner.contains(g)) {
        val own = owner(g) == id
        for (q <- p until math.min(p + 8, n))
          anyOwned(q) = Some(anyOwned(q).getOrElse(false) || own)
      }
      val keep = anyOwned.map(o => o.isEmpty || o.get)
      val cleaned = toks.zip(keep).collect { case (tk, true) => tk }
      id -> (n.toLong, cleaned.length.toLong, (n - cleaned.length).toLong,
        cleaned.mkString(" "))
    }.toMap
    val got = SparkEntry.queries("q_dup_span_cut")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(5))).toMap
    assert(got == expected)
    assert(got.values.exists(_._3 > 0),
      "fixture cut nothing — the apply path is untested")
    // map/apply consistency: the cut never removes more than the span
    // map's coverage (ownership can only SHRINK the removable set)
    val spanMap = SparkEntry.queries("q_dup_spans")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got.forall { case (id, (_, _, removed, _)) =>
      removed <= spanMap.getOrElse(id, 0L) })
    // keep-one-copy guarantee (the Lee et al. contract): every cross-doc
    // duplicated 8-gram survives contiguously in its OWNER's cleaned
    // text — owned windows pin all eight positions, so the run is kept
    val cleanedGrams = got.map { case (id, (_, _, _, c)) =>
      id -> gramsOf(c).toSet
    }
    assert(owner.forall { case (g, own) => cleanedGrams(own).contains(g) })
  }

  test("q_contamination_spans: sequential-replay law and containment in the dup-span map") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def gramsOf(t: String): Array[String] = {
      val toks = t.split(" ", -1)
      val m = math.max(toks.length - 7, 1)
      Array.tabulate(m)(i =>
        toks.slice(i, math.min(i + 8, toks.length)).mkString(" "))
    }
    val testGrams = docs.collect { case (id, t) if id % 2 == 1 => t }
      .flatMap(gramsOf).toSet
    val expected = docs.flatMap { case (id, t) =>
      if (id % 2 != 0) None
      else {
        val dirty = gramsOf(t).zipWithIndex.collect {
          case (g, p) if testGrams(g) => p
        }
        if (dirty.isEmpty) None
        else {
          var spans = List.empty[(Int, Int)]
          for (p <- dirty) spans = spans match {
            case (s0, e0) :: rest if p - e0 <= 7 => (s0, p) :: rest
            case _ => (p, p) :: spans
          }
          val n = t.split(" ", -1).length.toLong
          val cov = spans.map { case (s0, e0) => e0 - s0 + 8 }.sum.toLong
          val covMax = spans.map { case (s0, e0) => e0 - s0 + 8 }.max.toLong
          Some(id -> (n, spans.length.toLong, dirty.length.toLong,
            math.min(cov, n), math.min(covMax, n)))
        }
      }
    }.toMap
    val got = SparkEntry.queries("q_contamination_spans")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got.nonEmpty, "fixture has no train-test contaminated spans")
    assert(got == expected)
    // containment: a contaminated window is cross-doc duplicated by
    // definition (this train doc + a test doc), so the contamination
    // coverage can never exceed the dup-span map's coverage
    val dupMap = SparkEntry.queries("q_dup_spans")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got.forall { case (id, (_, _, _, cov, _)) =>
      cov <= dupMap.getOrElse(id, 0L) })
  }

  private def round4(d: Double): Double = math.round(d * 10000).toDouble / 10000
}
